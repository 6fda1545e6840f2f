package perfbench

import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ark.{Ark, Fetcher, Schema, Scheduler, Source, Ticker}
import graft.ops.{AnnIndexStore, BenchmarkStore, CorpusStore}

/** `ark_refresh`: the paper's own traffic. Each step is one
  * `Scheduler.arkEtf` run over every ticker with the Scheduler's
  * 4-thread pool and an in-memory fetcher serving one new trading day.
  */
final class ArkRefresh(seed: Long) extends Workload {
  private val gen = new ArkGen(seed)
  private val history: Map[Ticker, IndexedSeq[Schema.Holding]] =
    gen.tickers.map(t => t -> gen.history(t)).toMap
  private var root: java.io.File = _
  private val todays = mutable.ArrayBuffer.empty[LocalDate]
  private var newBytes = 0L
  private var newRows = 0L
  private var writtenBytes = 0L

  val timed = Set("ark.cycle")

  private def file(t: Ticker) = new java.io.File(Ark.parquetFile(t, Some(root.getPath)))

  private def frame(spark: SparkSession, rows: Seq[Schema.Holding]): DataFrame =
    spark.createDataFrame(rows.map(h => Row(h.date, h.ticker, h.cusip,
      h.company, h.market_value, h.shares, h.share_price, h.weight)).asJava,
      Schema.canonical8)

  /** Cold start: each ticker's history written to its single-file
    * parquet by the pipeline's own writer, four tickers at a time.
    */
  def setup(ctx: Ctx, dir: java.io.File): Unit = {
    root = dir
    todays.clear(); newBytes = 0; newRows = 0; writtenBytes = 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try gen.tickers.map(t => pool.submit(new Runnable {
        def run(): Unit = Ark(frame(ctx.spark, history(t)), t, Some(dir.getPath)).writeParquet()
      })).foreach(_.get())
    finally pool.shutdown()
  }

  private def tickerOf(url: String): Ticker =
    gen.tickers.find(t => url.contains(s"ticker=${t.name}&")).get

  def step(ctx: Ctx, c: Int): Unit = {
    val csv = gen.isCsvCycle(c)
    val payloads = gen.tickers.map(t => t -> gen.payload(t, c)).toMap
    val byUrl: Map[String, String] =
      if (csv) gen.tickers.map(t => t.url -> payloads(t)).toMap else Map.empty
    val fetcher: Fetcher = url => if (csv) byUrl(url) else payloads(tickerOf(url))
    val cfg = Scheduler.Config(
      source = if (csv) Source.Ark else Source.ApiIncremental,
      tickers = gen.tickers, path = Some(root.getPath),
      jitterMinSec = 0, jitterMaxSec = 0, parallelism = 4, fetcher = fetcher)
    todays += LocalDate.now(ZoneOffset.UTC)
    ctx.op("ark.cycle")(Scheduler.arkEtf(ctx.spark, cfg))
    newBytes += payloads.values.map(_.getBytes("UTF-8").length.toLong).sum
    newRows += gen.tickers.map(t => gen.rows(t, gen.historyDays + c).size).sum
    // every cycle rewrites every ticker's whole file
    writtenBytes += gen.tickers.map(t => file(t).length()).sum
  }

  /** Every ticker's parquet is one file with the canonical columns and
    * exactly its generated (date, cusip) set. A ticker missing a
    * cycle's rows failed that cycle; a wrong file fails every cycle.
    */
  def check(ctx: Ctx): Check = {
    val cycles = todays.size
    val notes = mutable.ArrayBuffer.empty[String]
    val failed = gen.tickers.map { t =>
      val f = file(t)
      val df = ctx.spark.read.parquet(f.getPath)
      val schemaOk = df.schema.map(x => x.name -> x.dataType) ==
        Schema.canonical8.map(x => x.name -> x.dataType)
      val got = df.select("date", "cusip").collect()
        .map(r => (r.getDate(0).toLocalDate, r.getString(1))).toSet
      val perCycle = (0 until cycles).map(c => gen.expected(t, c, todays(c)))
      val want = history(t).map(h => (h.date.toLocalDate, h.cusip)).toSet ++ perCycle.flatten
      val missing = perCycle.count(e => !e.subsetOf(got))
      if (!f.isFile || !schemaOk || !(got -- want).isEmpty || !want.subsetOf(got)) {
        notes += s"$t: file=${f.isFile} schema=$schemaOk extra=${(got -- want).size} " +
          s"missing=${(want -- got).size}"
        if (missing > 0) missing else cycles
      } else 0
    }.sum
    Check(cycles.toLong * gen.tickers.size, failed.toLong, notes.toSeq)
  }

  private def cycleSeconds(ctx: Ctx) = ctx.samples.map(_._2).sum
  def workPerS(ctx: Ctx): Double = newRows / cycleSeconds(ctx)
  def amp(ctx: Ctx): Double = writtenBytes.toDouble / newBytes

  def named(ctx: Ctx, m: Map[String, Double]) = Seq(
    ("setup_s", m("setup_s"), "s"), ("heap_peak_mb", m("heap_peak_mb"), "MB"),
    ("ark_cycle_p50_s", m("op_p50_s"), "s"), ("ark_cycle_tail_s", m("op_tail_s"), "s"),
    ("ark_rows_per_s", m("work_per_s"), "1/s"), ("ark_write_amp", m("amp"), "ratio"))
}

/** The stores under test: a four-tier `CorpusStore` (curation, ANN,
  * text, stats) over the generated documents and a `BenchmarkStore`
  * holding the evaluation set, with the ground truth of what is live.
  */
final class Corpus(seed: Long) {
  import CorpusGen._
  val gen = new CorpusGen(seed)
  /** The semantic axis' ADC threshold: below any distance between two
    * distinct generated documents, so it must flag nothing.
    */
  val Tau = 0.02
  var st: CorpusStore.Stores = _
  var bench: BenchmarkStore.Store = _
  var dir: java.io.File = _
  val live = mutable.LinkedHashMap.empty[Long, Doc]

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("source", StringType)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id, d.text, d.vec.toSeq, d.source)).asJava, schema)

  def build(ctx: Ctx, at: java.io.File): Unit = {
    dir = at
    live.clear()
    gen.initial.foreach(d => live(d.id) = d)
    st = CorpusStore.build(frame(ctx.spark, gen.initial), "doc_id", "text",
      "embedding", new java.io.File(at, "corpus").getPath,
      sourceCol = Some("source"))
    val b = ctx.spark.createDataFrame(gen.bench.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    bench = BenchmarkStore.build(b, "doc_id", "text",
      new java.io.File(at, "benchmark").getPath)
  }

  /** Folds `b` through the gated ingest as the timed `ingest.txn`;
    * returns the docs whose decision differs from the ground truth.
    */
  def ingest(ctx: Ctx, id: String, b: Batch): Seq[String] = {
    val df = frame(ctx.spark, b.docs)
    val (next, decisions) = ctx.op("ingest.txn")(CorpusStore.ingestScreened(
      st, df, "text", "embedding", id, semanticTau = Some(Tau),
      benchmarkStore = Some(bench)))
    st = next
    val got = decisions.select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    b.docs.foreach(d => if (b.expected(d.id) == "kept") live(d.id) = d)
    b.expected.toSeq.sortBy(_._1).collect {
      case (i, s) if !got.get(i).contains(s) => s"$i: want $s, got ${got.get(i)}"
    } ++ got.keySet.diff(b.expected.keySet).map(i => s"$i: unexpected")
  }

  /** Takes `ids` down on all four tiers as the timed `ingest.delete`. */
  def delete(ctx: Ctx, id: String, ids: Seq[Long]): Unit = {
    val docs = frame(ctx.spark, ids.map(live))
    st = ctx.op("ingest.delete")(CorpusStore.delete(st, docs.select("doc_id"),
      id, deletedDocs = Some(docs), textCol = "text"))
    ids.foreach(live.remove)
  }

  /** The four tiers' live counts must all equal the ground truth. */
  def liveCheck(ctx: Ctx): Option[String] = {
    val (c, a, t, s) = CorpusStore.liveCountsAll(ctx.spark, st)
    val want = live.size.toLong
    if (Seq(c, a, t) == Seq(want, want, want) && s.contains(want)) None
    else Some(s"live counts ($c, $a, $t, $s), want $want")
  }

  /** Store bytes per byte of live text and embeddings. */
  def spaceAmp: Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
      else f.length()
    size(new java.io.File(dir, "corpus")).toDouble /
      live.values.map(d => d.text.getBytes("UTF-8").length + 4L * d.vec.length).sum
  }
}

/** `corpus_ingest`: seeded batches folded through the gated ingest
  * with all three screens on (lexical near-dup, semantic, benchmark
  * decontamination), alternating low and high recrawl shares, with a
  * takedown after every fifth batch. After each batch one ANN top-10
  * request for ten perturbed stored vectors reads through the batch's
  * deltas and tombstones and measures recall against exact search.
  */
final class CorpusIngest(seed: Long) extends Workload {
  import CorpusGen._
  private val corpus = new Corpus(seed)
  private val K = 10
  private val AnnQueries = 10
  /** Cells probed per ANN query: enough that the probed cells always
    * hold K live vectors, which one cell of a 40-cell index need not.
    */
  private val NProbe = 4
  private val results = mutable.ArrayBuffer.empty[(String, Seq[String])]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var docs = 0L

  val timed = Set("ingest.txn")

  def setup(ctx: Ctx, dir: java.io.File): Unit = {
    corpus.build(ctx, dir)
    results.clear(); recalls.clear(); docs = 0
  }

  def step(ctx: Ctx, i: Int): Unit = {
    val b = corpus.gen.ingestBatch(i)
    results += s"batch $i" -> corpus.ingest(ctx, s"b$i", b)
    docs += b.docs.size
    val gone = corpus.gen.takedown(i, corpus.live.keySet)
    if (gone.nonEmpty) {
      corpus.delete(ctx, s"d$i", gone)
      results += s"takedown $i" -> Nil
    }
    results += s"ann probe $i" -> annProbe(ctx, i)
  }

  private def annProbe(ctx: Ctx, i: Int): Seq[String] = {
    val r = Gen.rng(seed, "ann-probe", i)
    val live = corpus.live.values.toIndexedSeq
    val qs = (0 until AnnQueries).map { j =>
      val src = live(r.nextInt(live.size))
      (9000000L + i * 100L + j,
        toF(unit(src.vec.map(_ + QueryNoise * Gen.gauss(r) / math.sqrt(Dim)))))
    }
    val qdf = ctx.spark.createDataFrame(qs.map { case (q, v) => Row(q, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = ctx.op("serve.ann")(AnnIndexStore.search(ctx.spark, corpus.st.ann,
      qdf, "qid", "embedding", K, nprobe = NProbe).collect())
      .groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }
    qs.flatMap { case (q, v) =>
      val ids = got.getOrElse(q, Set.empty[Long])
      recalls += ids.intersect(exactTopK(v, live, K).toSet).size.toDouble / K
      if (ids.size == K) None else Some(s"query $q returned ${ids.size} rows")
    }
  }

  /** Each batch's per-doc decisions match the ground truth, every ANN
    * query returned K rows, and the four tiers' live counts match the
    * ground truth after the run.
    */
  def check(ctx: Ctx): Check = {
    val live = corpus.liveCheck(ctx)
    val bad = results.filter(_._2.nonEmpty)
    Check(results.size + 1L, bad.size + live.size.toLong,
      bad.map { case (k, v) => s"$k: ${v.take(5).mkString("; ")}" }.toSeq ++ live)
  }

  def recall: Double = recalls.sum / math.max(1, recalls.size)

  def workPerS(ctx: Ctx): Double =
    docs / ctx.samples.filter(_._1 == "ingest.txn").map(_._2).sum
  def amp(ctx: Ctx): Double = corpus.spaceAmp

  def named(ctx: Ctx, m: Map[String, Double]) = {
    def p50(n: String) = Stats.median(ctx.samples.filter(_._1 == n).map(_._2).toSeq)
    Seq(("setup_s", m("setup_s"), "s"), ("heap_peak_mb", m("heap_peak_mb"), "MB"),
      ("ingest_batch_p50_s", m("op_p50_s"), "s"),
      ("ingest_batch_tail_s", m("op_tail_s"), "s"),
      ("ingest_docs_per_s", m("work_per_s"), "1/s"),
      ("store_space_amp", m("amp"), "ratio"),
      ("serve_ann_p50_s", p50("serve.ann"), "s"),
      ("ann_recall_at_10", recall, "ratio"))
  }

  override def layer(ctx: Ctx): Map[String, Double] =
    Map("serve.ann_recall_at_10" -> recall)
}
