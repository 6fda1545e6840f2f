package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What a workload's run hands to its operations: the session, the
  * optional tracer, and the latency samples of the timed loop.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  /** Steps of the timed loop completed. */
  var steps = 0
  /** (span name, seconds) of every timed operation. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]

  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** One timed operation of the loop. */
  def op[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    samples += name -> (System.nanoTime() - t0) / 1e9
    r
  }
}

/** The outcome of a workload's output checks. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String])

trait Workload {
  /** Spans whose latencies make up `op_p50_s` and `op_tail_s`. */
  def timed: Set[String]
  /** Builds the program's state under `dir`, replacing any earlier
    * set-up's state.
    */
  def setup(ctx: Ctx, dir: java.io.File): Unit
  /** Runs the `i`th step of the timed loop through `ctx.op`. */
  def step(ctx: Ctx, i: Int): Unit
  def check(ctx: Ctx): Check
  /** Units of work per second of timed operation. */
  def workPerS(ctx: Ctx): Double
  /** Bytes the program keeps or writes per byte of its input. */
  def amp(ctx: Ctx): Double
  /** The end-to-end metrics under the names a reader of this workload
    * knows them by, printed above the result line.
    */
  def named(ctx: Ctx, m: Map[String, Double]): Seq[(String, Double, String)]
  /** Per-layer metrics only this workload can give. */
  def layer(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Runs one workload: set-up several times, the timed loop, the
  * checks, then one JSON result line on stdout.
  *
  *   Runner --workload ark_refresh --seed 1 --seconds 10 --trace 0 \
  *     --work .bench_build/work --src src/main/scala/graft --bench-src perfbench/src
  */
object Runner {
  /** Set-ups per run; `setup_s` is their median. Two fit the time one
    * run may take at the program's current speed.
    */
  val SetupReps = 2

  val Workloads: Map[String, Long => Workload] = Map(
    "ark_refresh" -> (s => new ArkRefresh(s)),
    "corpus_ingest" -> (s => new CorpusIngest(s)))

  val Modules: Seq[String] = Seq("ark.DataReader", "ark.Format", "ark.Ark",
    "ark.Scheduler", "ops.CurationStore", "ops.Dedup", "ops.AnnIndexStore",
    "ops.TextIndexStore", "ops.StatsStore", "ops.StoreVersions",
    "ops.CorpusStore", "ops.BenchmarkStore")
  /** The end-to-end metrics, in output order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_s", "op_tail_s",
    "work_per_s", "heap_peak_mb", "amp")
  val Spans: Seq[String] = Seq("ark.cycle", "ingest.txn", "ingest.delete",
    "serve.ann")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    // the local filesystem counts no operations; a traced run mounts
    // one that does before the session creates any filesystem
    if (trace) System.setProperty("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val out = System.out
    System.setOut(System.err)
    val w = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))(seed)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Console.withOut(System.err)(graft.GraftSession.local(cpus))
    val result = try Console.withOut(System.err) {
      run(spark, w, workload, seed, seconds, trace, work,
        perfbench.Modules.scan(new java.io.File(opts("src")),
          new java.io.File(opts("bench-src"))), out)
    } finally spark.stop()
    out.println(result)
    out.flush()
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  def run(spark: SparkSession, w: Workload, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: java.io.File,
      modules: Modules, out: java.io.PrintStream): String = {
    val tracer = if (trace) Some(new Tracer(spark, modules)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, tracer)
    val heap = new HeapAfterGc
    rmrf(work)

    val setupS = (0 until SetupReps).map { r =>
      val dir = new java.io.File(work, s"setup-$r")
      val t0 = System.nanoTime()
      ctx.span("setup")(w.setup(ctx, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 0) rmrf(new java.io.File(work, s"setup-${r - 1}"))
      dt
    }

    val ctlBefore = if (trace) Controls.run(spark) else Map.empty[String, Double]
    val t0 = System.nanoTime()
    ctx.span("run") {
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        w.step(ctx, ctx.steps)
        ctx.steps += 1
        heap.sample()
      }
    }
    val heapMb = heap.peakMb
    val ctlAfter = if (trace) Controls.run(spark) else Map.empty[String, Double]
    val check = w.check(ctx)
    val timed = ctx.samples.filter(s => w.timed(s._1)).map(_._2).toSeq
    require(timed.nonEmpty, "no timed operation completed")
    val tail = Stats.tail(timed)
    val e2e = EndToEnd.zip(Seq(
      (Stats.median(setupS), "s"),
      (Stats.median(timed), "s"),
      (tail.value, "s"),
      (w.workPerS(ctx), "1/s"),
      (heapMb, "MB"),
      (w.amp(ctx), "ratio")))
    val errorRatio = check.failed.toDouble / check.attempted
    check.notes.foreach(n => System.err.println(s"[perfbench] check: $n"))
    w.named(ctx, e2e.map { case (k, (v, _)) => k -> v }.toMap).foreach {
      case (k, v, u) => out.println(f"[perfbench] $workload $k=$v%.6g $u")
    }
    out.println(f"[perfbench] $workload error_ratio=$errorRatio%.6g " +
      s"(${check.failed}/${check.attempted}); tail = p${"%.1f".format(tail.pct)} of n=${tail.n}; " +
      s"setup runs: ${setupS.map("%.3f".format(_)).mkString(", ")}")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => e2e.map { case (k, (v, u)) => (k, v, u) }
      case Some(t) =>
        t.drain()
        val m = layerMetrics(t, ctx) ++ w.layer(ctx) ++
          Controls.Names.map(n => n -> math.min(ctlBefore(n), ctlAfter(n))) ++
          Seq("trace.op_p50_s" -> Stats.median(timed))
        val f = new java.io.File(work.getParentFile, s"trace/$workload-$seed.jsonl")
        t.write(f)
        System.err.println(s"[perfbench] trace written to $f")
        PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
    }
    rmrf(work)
    Json.obj(Seq("correct" -> (check.failed == 0), "attempted" -> check.attempted,
      "failed" -> check.failed, "metrics" -> Json.Raw(Json.obj(metrics.map {
        case (k, v, u) => k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
  }

  /** Every per-layer metric with its unit, in output order. */
  val PerLayer: Seq[(String, String)] =
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_s" -> "s",
      s"$m.task_s" -> "s", s"$m.shuffle_bytes" -> "B",
      s"$m.output_bytes" -> "B")) ++
    Seq("other.jobs" -> "count", "other.job_s" -> "s") ++
    Spans.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.driver_gap_s" -> "s",
      s"$s.jobs" -> "count", s"$s.stages" -> "count", s"$s.tasks" -> "count",
      s"$s.fs_read_ops" -> "count", s"$s.fs_write_ops" -> "count",
      s"$s.bytes_written" -> "B", s"$s.spill_bytes" -> "B") ++
      (if (s.startsWith("serve.")) Seq(s"$s.input_bytes" -> "B") else Nil)) ++
    Seq("run.self_s" -> "s", "jobs.total" -> "count",
      "jobs.unattributed" -> "count", "jvm.gc_s" -> "s",
      "serve.ann_recall_at_10" -> "ratio", "trace.op_p50_s" -> "s") ++
    Controls.Names.map(_ -> "s")

  /** Per-layer values, each per step of the timed loop. */
  private def layerMetrics(t: Tracer, ctx: Ctx): Map[String, Double] = {
    val spans = t.allSpans
    val run = spans.find(_.name == "run").get
    val ops = math.max(1, ctx.steps).toDouble
    val runJobs = t.jobsUnder(run.id)
    val all = t.synchronized(t.jobs.values.toSeq)
    val listed = Modules.toSet
    def jobS(js: Seq[Tracer.Job]) = js.map(j => (j.end - j.start) / 1e3).sum
    val modules = Modules.flatMap { m =>
      val js = runJobs.filter(_.module == m)
      Seq(s"$m.jobs" -> js.size / ops, s"$m.job_s" -> jobS(js) / ops,
        s"$m.task_s" -> js.map(_.taskMs).sum / 1e3 / ops,
        s"$m.shuffle_bytes" -> js.map(_.shuffleBytes).sum / ops,
        s"$m.output_bytes" -> js.map(_.outputBytes).sum / ops)
    }
    val others = runJobs.filterNot(j => listed(j.module))
    val spanMetrics = Spans.flatMap { name =>
      val inst = spans.filter(_.name == name)
      if (inst.isEmpty) Nil
      else {
        val n = inst.size.toDouble
        val js = inst.map(s => t.jobsUnder(s.id))
        def per(f: Seq[Tracer.Job] => Double) = js.map(f).sum / n
        Seq(s"$name.wall_s" -> inst.map(s => s.end - s.start).sum / 1e3 / n,
          s"$name.driver_gap_s" -> inst.map(t.driverGapS).sum / n,
          s"$name.jobs" -> per(_.size.toDouble),
          s"$name.stages" -> per(_.map(_.stages.toDouble).sum),
          s"$name.tasks" -> per(_.map(_.tasks.toDouble).sum),
          s"$name.fs_read_ops" -> inst.map(_.counters.readOps).sum / n,
          s"$name.fs_write_ops" -> inst.map(_.counters.writeOps).sum / n,
          s"$name.bytes_written" -> inst.map(_.counters.bytesWritten).sum / n,
          s"$name.spill_bytes" -> per(_.map(_.spillBytes.toDouble).sum),
          s"$name.input_bytes" -> per(_.map(_.inputBytes.toDouble).sum))
      }
    }
    (modules ++ spanMetrics ++ Seq(
      "other.jobs" -> others.size / ops, "other.job_s" -> jobS(others) / ops,
      "run.self_s" -> t.selfS(run) / ops, "jobs.total" -> all.size.toDouble,
      "jobs.unattributed" -> all.count(_.module == "other").toDouble,
      "jvm.gc_s" -> spans.filter(_.parent == run.id).map(_.counters.gcMs).sum / 1e3 / ops)).toMap
  }
}

/** The ambient controls: three fixed, data-independent Spark jobs
  * (task scheduling, codegen CPU, one fixed-size shuffle) timed before
  * and after the loop. Their plans never change with the program, so
  * a move in them is the machine, not the code.
  */
object Controls {
  val Names: Seq[String] = Seq("env.ctl_sched_s", "env.ctl_cpu_s", "env.ctl_shuffle_s")

  def run(spark: SparkSession): Map[String, Double] = {
    val cpus = spark.sparkContext.defaultParallelism
    def noop(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Names.zip(Seq(
      () => noop(spark.range(0, 512, 1, 512).select(col("id"))),
      () => noop(spark.range(0, 30000000L, 1, cpus)
        .select(sum(xxhash64(col("id"))).as("h"))),
      () => noop(spark.range(0, 4000000L, 1, cpus * 2)
        .groupBy(pmod(col("id"), lit(1000)).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))))).map {
      case (n, f) => n -> f()
    }.toMap
  }
}
