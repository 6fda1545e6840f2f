package perfbench

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: seeded inputs are reproducible, the
  * driver gap is wall time minus the union of overlapping job
  * intervals, call sites map to modules, and the tail selector picks
  * the highest percentile with ten samples beyond it.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def modules() = Modules.scan(new java.io.File(opts("src")),
      new java.io.File(opts("bench-src")))
    test("one seed gives identical ark inputs, another seed different ones") {
      val (a, b, c) = (new ArkGen(7), new ArkGen(7), new ArkGen(8))
      for (t <- a.tickers; cycle <- Seq(0, 3)) eq(a.payload(t, cycle), b.payload(t, cycle))
      eq(a.history(graft.ark.Ticker.ARKK), b.history(graft.ark.Ticker.ARKK))
      assert(a.payload(graft.ark.Ticker.ARKK, 0) != c.payload(graft.ark.Ticker.ARKK, 0))
    }

    test("one seed gives identical corpus inputs and ground truth") {
      val (a, b, c) = (new CorpusGen(7, 300), new CorpusGen(7, 300), new CorpusGen(8, 300))
      def flat(g: CorpusGen) = g.initial.map(d => (d.id, d.text, d.vec.toSeq, d.source))
      eq(flat(a), flat(b))
      eq(a.bench, b.bench)
      for (i <- 0 until 2) {
        val (x, y) = (a.ingestBatch(i), b.ingestBatch(i))
        eq(x.docs.map(d => (d.id, d.text, d.vec.toSeq)), y.docs.map(d => (d.id, d.text, d.vec.toSeq)))
        eq(x.expected, y.expected)
      }
      assert(flat(a) != flat(c))
    }

    test("recrawls keep their source's MinHash signature; fresh docs stay clean") {
      val g = new CorpusGen(7, 300)
      val b = g.ingestBatch(1)
      val byText = g.initial.map(d => MinHash.signature(d.text).toSeq -> d).toMap
      b.docs.filter(d => b.expected(d.id) == "hist_dup")
        .foreach(d => assert(byText.contains(MinHash.signature(d.text).toSeq), d.id))
      b.docs.filter(d => b.expected(d.id) == "kept").foreach { d =>
        assert(MinHash.shingles(d.text).count(g.benchShingles) <= 1, d.id)
      }
      b.docs.filter(d => b.expected(d.id) == "contaminated").foreach { d =>
        assert(MinHash.shingles(d.text).count(g.benchShingles) >= 2, d.id)
      }
      eq(b.expected.values.toSet, Set("kept", "hist_dup", "batch_dup", "contaminated"))
    }

    test("union of intervals merges overlaps and clips to the span") {
      eq(Stats.unionLength(Seq((1.0, 4.0), (2.0, 5.0), (7.0, 8.0)), 0, 10), 5.0)
      eq(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0)), 0, 10), 10.0)
      eq(Stats.unionLength(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10), 3.0)
      eq(Stats.unionLength(Nil, 0, 10), 0.0)
    }

    test("call sites map to the module of the file they name") {
      val m = new Modules(Map("CurationStore" -> "ops.CurationStore",
        "Scheduler" -> "ark.Scheduler", "Bench" -> "Bench"), Set("Workloads"))
      eq(m.of("parquet at CurationStore.scala:473"), "ops.CurationStore")
      eq(m.of("count at Scheduler.scala:46"), "ark.Scheduler")
      eq(m.of("run at Bench.scala:12"), "Bench")
      eq(m.of("collect at Workloads.scala:10"), "bench.Workloads")
      eq(m.of("collect at Unknown.scala:3"), "other")
      eq(m.of(""), "other")
      val scanned = modules()
      eq(scanned.of("head at Format.scala:129"), "ark.Format")
      eq(scanned.of("parquet at StoreVersions.scala:1"), "ops.StoreVersions")
      eq(scanned.of("collect at Trace.scala:1"), "bench.Trace")
      // a benchmark file named like a program file would steal its jobs
      val prog = new java.io.File(opts("src"))
      def names(d: java.io.File): Seq[String] = Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) names(f) else Seq(f.getName))
      eq(names(new java.io.File(opts("bench-src"))).toSet.intersect(names(prog).toSet), Set.empty[String])
    }

    test("tail is the highest percentile with ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.tail(xs), Stats.Tail(90.0, 90.0, 100))
      eq(Stats.tail((1 to 11).map(_.toDouble).reverse), Stats.Tail(1.0, 100.0 / 11, 11))
      eq(Stats.tail(Seq(3.0, 9.0, 1.0)), Stats.Tail(9.0, 100.0, 3))
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    test("traced span: union of overlapping jobs plus driver gap is the wall time") {
      System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      val spark = graft.GraftSession.local(2)
      try {
        val t = new Tracer(spark, modules())
        spark.sparkContext.addSparkListener(t)
        t.span("outer") {
          Thread.sleep(100)
          val threads = (0 until 2).map(i => new Thread(() => {
            spark.range(0, 200000, 1, 2).selectExpr("sum(id)").collect(); ()
          }))
          threads.foreach(_.start()); threads.foreach(_.join())
          spark.range(0, 10, 1, 1).write.parquet(opts("work") + "/selftest")
          Thread.sleep(100)
        }
        t.drain()
        val s = t.allSpans.head
        val jobs = t.jobsUnder(s.id)
        assert(jobs.size >= 2, s"jobs seen under the span: ${jobs.size}")
        val union = Stats.unionLength(jobs.map(j => (j.start, j.end)), s.start, s.end) / 1e3
        val wall = (s.end - s.start) / 1e3
        assert(math.abs(union + t.driverGapS(s) - wall) < 1e-9)
        assert(t.driverGapS(s) >= 0.2, t.driverGapS(s))
        assert(jobs.forall(_.module == "bench.SelfTest"), jobs.map(_.module))
        assert(s.counters.writeOps > 0 && s.counters.readOps > 0, s.counters)
      } finally spark.stop()
    }

    test("BENCHMARK.json lists exactly the metrics a run prints") {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(opts("benchmark-json")))
      def names(key: String) = root.get(key).elements().asScala.map(_.get("name").asText).toSeq
      eq(names("end_to_end"), Runner.EndToEnd)
      eq(names("per_layer"), Runner.PerLayer.map(_._1))
      eq(names("workloads").toSet, Runner.Workloads.keySet)
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
