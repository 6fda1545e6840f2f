package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the calls made through Hadoop's API:
  * reads are opens, listings and status probes; writes are creates,
  * renames, deletes and mkdirs. Traced runs mount it as `fs.file.impl`,
  * because the local filesystem's own statistics count bytes but no
  * operations.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  private def read[T](body: => T): T = { reads.incrementAndGet(); body }
  private def write[T](body: => T): T = { writes.incrementAndGet(); body }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    read(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = read(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    write(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    write(super.mkdirs(f, permission))
}

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
