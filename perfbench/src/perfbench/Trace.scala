package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Order statistics for the latency metrics. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Tail(value: Double, pct: Double, n: Int)

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)th smallest of n samples, i.e. percentile 100·(n-10)/n.
    * Below 11 samples no percentile has ten beyond it, and the tail
    * is the maximum.
    */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    if (s.size <= 10) Tail(s.last, 100.0, s.size)
    else Tail(s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}

/** Maps an action's call site ("parquet at CurationStore.scala:473")
  * to the module of the source file it names: `ark.Format`,
  * `ops.CurationStore`, ... for the program's files, `bench.<File>` for
  * the benchmark's own, `other` when the site names no known file.
  */
final class Modules(programFiles: Map[String, String],
    benchFiles: Set[String]) {
  private val Site = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  def of(site: String): String = site match {
    case Site(f) if programFiles.contains(f) => programFiles(f)
    case Site(f) if benchFiles.contains(f)   => s"bench.$f"
    case _                                   => "other"
  }
}

object Modules {
  /** Module names from the program's source tree: `graft/ops/X.scala`
    * becomes `ops.X`, a file directly under `graft/` keeps its name.
    */
  def scan(programRoot: java.io.File, benchRoot: java.io.File): Modules = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val prog = files(programRoot).map { f =>
      val rel = programRoot.toPath.relativize(f.toPath).toString
        .stripSuffix(".scala").replace(java.io.File.separatorChar, '.')
      f.getName.stripSuffix(".scala") -> rel
    }.toMap
    new Modules(prog, files(benchRoot).map(_.getName.stripSuffix(".scala")).toSet)
  }
}

/** Process-wide counters read at span edges: filesystem operations
  * (counted by [[CountingLocalFileSystem]] when mounted), bytes written
  * (Hadoop's `FileSystem` statistics, all schemes) and cumulative GC
  * time.
  */
final case class Counters(readOps: Long, writeOps: Long,
    bytesWritten: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(readOps - o.readOps,
    writeOps - o.writeOps, bytesWritten - o.bytesWritten, gcMs - o.gcMs)
}

object Counters {
  def now(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator.asScala.toSeq
    def sum(key: String) =
      fs.map(s => Option(s.getLong(key)).fold(0L)(_.longValue)).sum
    Counters(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
      sum("bytesWritten"),
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum)
  }
}

/** The largest heap in use right after a full collection, sampled at
  * the end of every step of the timed loop (outside the timed
  * operations): the retained footprint, free of the timing of the
  * collector's own young collections.
  */
final class HeapAfterGc {
  private var peak = 0L
  def sample(): Unit = {
    // the second collection frees what the first let Spark's context
    // cleaner release (broadcasts and shuffles of dropped frames)
    System.gc()
    Thread.sleep(300)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Spans around the benchmark's own calls into the program, and a
  * listener that attributes every Spark job to the span that launched
  * it (the `perfbench.span` local property, which TierPar and the
  * Scheduler's pool threads inherit) and to the module of its action's
  * call site. Everything is kept in memory and written out at the end.
  */
final class Tracer(spark: SparkSession, modules: Modules)
    extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val execSite = mutable.Map.empty[Long, String]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var drained = -1
  @volatile private var drainEnded = false

  private def nowMs(): Double = System.nanoTime() / 1e6 + EpochOffsetMs

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    val c0 = Counters.now()
    val s = Span(id, name, parent, nowMs())
    spans += s
    stack.push(id)
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      s.end = nowMs()
      s.counters = Counters.now() - c0
      stack.pop()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(x.executionId) = x.description }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(i => execSite.get(i.toLong))
      .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val span = prop(SpanKey).map(_.toInt)
    if (prop(DrainKey).isDefined) drained = js.jobId
    else {
      jobs(js.jobId) = Job(js.jobId, span, modules.of(site), site,
        js.time.toDouble)
      js.stageIds.foreach(s => stageJob.getOrElseUpdate(s, js.jobId))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time.toDouble)
    if (je.jobId == drained) { drainEnded = true; notifyAll() }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = sc.stageInfo
      stageJob.get(i.stageId).flatMap(jobs.get).foreach { j =>
        val m = i.taskMetrics
        j.stages += 1
        j.tasks += i.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Blocks until the listener has seen every event posted so far: a
    * marker job's end is delivered after all earlier events.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(DrainKey, "1")
    drainEnded = false
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(DrainKey, null); sc.setLocalProperty(SpanKey, prevSpan) }
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!(drainEnded && jobs.values.forall(_.end > 0)) &&
          System.currentTimeMillis() < deadline)
        wait(100)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Jobs launched under span `id`, or under any span nested in it. */
  def jobsUnder(id: Int): Seq[Job] = {
    val ids = mutable.Set(id)
    spans.foreach(s => if (ids(s.parent)) ids += s.id)
    synchronized(jobs.values.filter(j => j.span.exists(ids)).toSeq)
  }

  /** Wall time not covered by any of the span's own jobs, in seconds. */
  def driverGapS(s: Span): Double =
    (s.end - s.start - Stats.unionLength(
      jobsUnder(s.id).map(j => (j.start, j.end)), s.start, s.end)) / 1e3

  /** The span's wall time minus the time its child spans cover. */
  def selfS(s: Span): Double =
    (s.end - s.start - Stats.unionLength(
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq,
      s.start, s.end)) / 1e3

  /** Spans and jobs as JSON lines. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.obj(Seq("kind" -> "span", "id" -> s.id,
          "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start,
          "end_ms" -> s.end, "self_s" -> selfS(s),
          "driver_gap_s" -> driverGapS(s), "fs_read_ops" -> s.counters.readOps,
          "fs_write_ops" -> s.counters.writeOps,
          "bytes_written" -> s.counters.bytesWritten)))
      }
      synchronized(jobs.values.toSeq).foreach { j =>
        w.println(Json.obj(Seq("kind" -> "job", "id" -> j.id,
          "span" -> j.span.getOrElse(-1), "module" -> j.module,
          "site" -> j.site, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.taskMs / 1e3,
          "shuffle_bytes" -> j.shuffleBytes, "output_bytes" -> j.outputBytes,
          "input_bytes" -> j.inputBytes, "spill_bytes" -> j.spillBytes)))
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val DrainKey = "perfbench.drain"
  /** Maps `System.nanoTime` onto the epoch milliseconds Spark stamps
    * its job events with.
    */
  private val EpochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  final case class Span(id: Int, name: String, parent: Int, start: Double) {
    var end: Double = start
    var counters: Counters = Counters(0, 0, 0, 0)
  }

  final case class Job(id: Int, span: Option[Int], module: String,
      site: String, start: Double) {
    var end: Double = -1
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    var inputBytes = 0L
    var spillBytes = 0L
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] => m.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + (v match {
      case raw: Raw => raw.json
      case x => value(x)
    }) }.mkString("{", ",", "}")
  final case class Raw(json: String)
}
