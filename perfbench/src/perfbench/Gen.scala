package perfbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

import graft.ark.{DataSource, Schema, Ticker}

/** Seeded inputs for every workload, with their ground truth. The
  * program under test only ever sees the generated payloads, frames
  * and batches; the expected outcomes stay here. One seed gives the
  * same inputs in every process: every stream is a `SplittableRandom`
  * keyed by (seed, stream name, index), never by call order across
  * streams.
  */
object Gen {
  def rng(seed: Long, parts: Any*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p =>
      h = java.lang.Long.rotateLeft(h ^ p.toString.hashCode.toLong *
        0xBF58476D1CE4E5B9L, 27) * 0x94D049BB133111EBL
    }
    new SplittableRandom(h)
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
}

/** ARK holdings: ~2 years of daily holdings for every ticker, then one
  * new trading day per refresh cycle, served as incremental JSON on
  * most cycles and as the ticker's own CSV snapshot every
  * [[ArkGen.CsvEvery]]th cycle.
  */
final class ArkGen(seed: Long, val historyDays: Int = 42) {
  import ArkGen._

  val tickers: Seq[Ticker] = Ticker.all
  private val calendar: Array[LocalDate] = {
    val days = Iterator.iterate(Start)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)
    days.take(historyDays + MaxCycles).toArray
  }

  /** Each ticker's security universe; a day holds a subset of it. */
  private val universe: Map[Ticker, IndexedSeq[Sec]] =
    tickers.zipWithIndex.map { case (t, ti) =>
      val r = Gen.rng(seed, "universe", t.name)
      val europe = isEurope(t)
      t -> (0 until UniverseSize).map { i =>
        val cusip =
          if (europe) f"${Countries(r.nextInt(Countries.length))}$ti%02d${r.nextInt(100000000)}%08d"
          else f"${r.nextInt(1000)}%03d${letter(r)}${letter(r)}${r.nextInt(10000)}%04d"
        val sym = (0 until 3 + r.nextInt(2)).map(_ => ('A' + r.nextInt(26)).toChar).mkString
        val company = s"${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))} ${Suffixes(r.nextInt(Suffixes.length))}"
        Sec(cusip, sym, company, 5.0 + r.nextDouble() * 400.0)
      }
    }.toMap

  def day(i: Int): LocalDate = calendar(i)

  /** The holdings of ticker `t` on trading day `i`. */
  def rows(t: Ticker, i: Int): IndexedSeq[Schema.Holding] = {
    val r = Gen.rng(seed, "day", t.name, i)
    val u = universe(t)
    val n = MinRows + r.nextInt(MaxRows - MinRows + 1)
    val idx = Array.range(0, u.size)
    for (k <- 0 until n) {
      val j = k + r.nextInt(idx.length - k)
      val tmp = idx(k); idx(k) = idx(j); idx(j) = tmp
    }
    val picks = idx.take(n).sorted.map(u)
    val shares = picks.map(_ => 1000L + r.nextInt(5000000))
    val prices = picks.map(s =>
      math.rint(s.basePrice * (1 + 0.02 * Gen.gauss(r)) * 100) / 100)
    val mvs = shares.zip(prices).map { case (q, p) => math.round(q * p) }
    val total = mvs.sum.toDouble
    val date = java.sql.Date.valueOf(day(i))
    picks.indices.map { k =>
      Schema.Holding(date, picks(k).symbol, picks(k).cusip,
        picks(k).company, mvs(k), shares(k),
        math.rint(mvs(k).toDouble / shares(k) * 100) / 100,
        math.rint(mvs(k) / total * 10000) / 100)
    }
  }

  def history(t: Ticker): IndexedSeq[Schema.Holding] =
    (0 until historyDays).flatMap(rows(t, _))

  def isCsvCycle(c: Int): Boolean = c % CsvEvery == CsvEvery - 1

  /** Cycle `c`'s payload for `t`: NexVeridian JSON, or the CSV the
    * ticker's provider publishes, with that format's quirks.
    */
  def payload(t: Ticker, c: Int): String = {
    val rs = rows(t, historyDays + c)
    if (!isCsvCycle(c)) json(rs) else csv(t, rs)
  }

  /** The (date, cusip) pairs cycle `c` adds to `t`. Europe/Rize CSV
    * downloads carry no date: the format stamps `today` (UTC).
    */
  def expected(t: Ticker, c: Int, today: LocalDate): Set[(LocalDate, String)] = {
    val rs = rows(t, historyDays + c)
    val d = if (isCsvCycle(c) && isEurope(t)) today else day(historyDays + c)
    rs.map(h => (d, h.cusip)).toSet
  }
}

object ArkGen {
  final case class Sec(cusip: String, symbol: String, company: String,
      basePrice: Double)

  val Start: LocalDate = LocalDate.of(2022, 1, 3)
  val MaxCycles = 400
  val CsvEvery = 4
  val UniverseSize = 90
  val MinRows = 30
  val MaxRows = 60
  private val Countries = Array("US", "NL", "DE", "FR", "GB", "JP", "CH")
  // letters that keep a cusip from parsing as a number ("1E5", "12D")
  private val CusipLetters = "GHJKLMNPQRSTUVWXYZ"
  private def letter(r: SplittableRandom): Char =
    CusipLetters.charAt(r.nextInt(CusipLetters.length))
  private val Words = Array("ALPHA", "NOVA", "QUANTUM", "ORBITAL", "GENE",
    "CIRCUIT", "HELIX", "VERTEX", "SOLAR", "NEURAL", "CARBON", "FUSION",
    "MATRIX", "PIXEL", "ROBOTIC", "STELLAR", "VECTOR", "ZENITH", "BIO",
    "CYBER")
  private val Suffixes = Array("INC", "CORP", "HOLDINGS", "LTD", "PLC",
    "GROUP", "TECHNOLOGIES", "SYSTEMS")

  def isEurope(t: Ticker): Boolean = t.dataSource match {
    case DataSource.ArkEurope | DataSource.Rize => true
    case _                                      => false
  }

  private def usDate(d: java.sql.Date): String = {
    val l = d.toLocalDate
    f"${l.getMonthValue}%02d/${l.getDayOfMonth}%02d/${l.getYear}%04d"
  }

  private def money(v: Long): String =
    java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(v)

  def json(rs: Seq[Schema.Holding]): String =
    rs.zipWithIndex.map { case (h, i) =>
      s"""{"company":"${h.company}","cusip":"${h.cusip}","date":"${h.date}",""" +
        s""""market_value":${h.market_value},"share_price":${h.share_price},""" +
        s""""shares":${h.shares},"ticker":"${h.ticker}","weight":${h.weight},""" +
        s""""weight_rank":${i + 1}}"""
    }.mkString("[", ",", "]")

  def csv(t: Ticker, rs: Seq[Schema.Holding]): String = t.dataSource match {
    case DataSource.Ark =>
      ("date,fund,company,ticker,cusip,shares,\"market value ($)\",\"weight (%)\"," +:
        rs.map(h => s"""${usDate(h.date)},${t.name},"${h.company}",${h.ticker},${h.cusip},"${money(h.shares)}","$$${money(h.market_value)}.00",${h.weight}%,"""))
        .mkString("\n")
    case DataSource.ArkVenture =>
      ("company,ticker,CUSIP,\"weight (%)\",date" +:
        rs.map { h =>
          val l = h.date.toLocalDate
          f"${h.company},,${h.cusip},${h.weight},${l.getYear}%04d/${l.getMonthValue}%02d/${l.getDayOfMonth}%02d"
        }).mkString("\n")
    case DataSource.Shares21 =>
      ("Account,StockTicker,CUSIP,SecurityName,Shares,Price,MarketValue,Weightings,Date,NetAssets,SharesOutstanding,CreationUnits,MoneyMarketFlag" +:
        rs.map(h => s"${t.name},${h.ticker},${h.cusip},${h.company},${h.shares}.25,${h.share_price},${h.market_value}.00,${h.weight},${usDate(h.date)},289000000,6500000,10000,N"))
        .mkString("\n")
    case DataSource.ArkEurope | DataSource.Rize =>
      (Seq(",,", "junk1,junk1,junk1", "junk2,junk2,junk2") ++
        rs.map(h => s"${h.company},${h.cusip},${h.weight}")).mkString("\n")
  }
}

/** The corpus: documents with text, a 64-dimensional embedding and a
  * source, plus a held-out evaluation set the ingest gate must keep
  * out. Texts are Zipf-distributed words; embeddings cluster by topic.
  *
  * Ground truth rests on margins, not on re-running the program's
  * algorithms: fresh texts share at most one word-3-gram with the
  * evaluation set (contamination needs two) and, being random, almost
  * none with each other; a recrawl keeps its source's exact MinHash
  * signature (re-drawn until it does), so the lexical screen must
  * match it; a within-batch copy is byte-identical to a fresh doc
  * with a lower id.
  */
final class CorpusGen(seed: Long, val nDocs: Int = 1000) {
  import CorpusGen._

  val vocab: Array[String] = {
    val r = Gen.rng(seed, "vocab")
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < VocabSize) {
      val n = 2 + r.nextInt(3)
      words += (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    words.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(k => 1.0 / k)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def zipfWord(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  private val centers: Array[Array[Double]] = {
    val r = Gen.rng(seed, "centers")
    Array.fill(Topics)(unit(Array.fill(Dim)(Gen.gauss(r))))
  }

  private def randomText(r: SplittableRandom): Array[String] =
    Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(vocab(zipfWord(r)))

  private def topicVec(r: SplittableRandom): Array[Float] = {
    val c = centers(r.nextInt(Topics))
    toF(unit(c.map(_ + Noise * Gen.gauss(r) / math.sqrt(Dim))))
  }

  /** The evaluation set the gate screens against. */
  val bench: IndexedSeq[(Long, String)] = {
    val r = Gen.rng(seed, "bench")
    (0 until BenchDocs).map(i => (BenchBase + i, randomText(r).mkString(" ")))
  }
  val benchShingles: Set[String] =
    bench.flatMap(b => MinHash.shingles(b._2)).toSet

  private def benchOverlap(text: String): Int =
    MinHash.shingles(text).count(benchShingles.contains)

  /** A text the gate must keep: at most one shared 3-gram with the
    * evaluation set.
    */
  private def cleanText(r: SplittableRandom): String = {
    var t = randomText(r).mkString(" ")
    while (benchOverlap(t) > 1) t = randomText(r).mkString(" ")
    t
  }

  val initial: IndexedSeq[Doc] = {
    val r = Gen.rng(seed, "initial")
    (0 until nDocs).map(i =>
      Doc(i.toLong, cleanText(r), topicVec(r), s"src${r.nextInt(Sources)}"))
  }

  /** A recrawl of `src`: one word changed, the MinHash signature kept. */
  private def recrawl(r: SplittableRandom, id: Long, src: Doc): Doc = {
    val toks = src.text.split(" ", -1)
    val sig = MinHash.signature(src.text)
    var out = src.text
    var tries = 0
    while (tries < 40 && out == src.text) {
      val t = toks.clone()
      t(r.nextInt(t.length)) = vocab(zipfWord(r))
      val cand = t.mkString(" ")
      if (cand != src.text && MinHash.signature(cand).sameElements(sig) &&
          benchOverlap(cand) <= 1) out = cand
      tries += 1
    }
    val v = src.vec.map(x => x + (QueryNoise * Gen.gauss(r) / math.sqrt(Dim)).toFloat)
    Doc(id, out, toF(unit(v.map(_.toDouble))), src.source)
  }

  /** A fresh text with a six-word span of an evaluation doc inside. */
  private def contaminated(r: SplittableRandom, id: Long): Doc = {
    val b = bench(r.nextInt(bench.size))._2.split(" ")
    val at = r.nextInt(b.length - 6)
    val body = randomText(r)
    val cut = r.nextInt(body.length)
    val text = (body.take(cut) ++ b.slice(at, at + 6) ++ body.drop(cut)).mkString(" ")
    Doc(id, text, topicVec(r), s"src${r.nextInt(Sources)}")
  }

  /** Ingest batch `i`: BatchSize docs with ids from IngestBase + 1000·i,
    * alternating low and high recrawl shares. Recrawls of initial docs,
    * copies of the batch's fresh docs, contaminated docs, the rest
    * fresh; with each id's expected gate status.
    */
  def ingestBatch(i: Int): Batch = {
    val r = Gen.rng(seed, "batch", "ingest", i)
    val base = IngestBase + i.toLong * 1000
    val nRecrawl = math.round(BatchSize * (if (i % 2 == 0) LowRecrawl else HighRecrawl)).toInt
    val nCopy = BatchSize / 20
    val nCont = BatchSize / 30
    val nFresh = BatchSize - nRecrawl - nCopy - nCont
    val fresh = (0 until nFresh).map(k =>
      Doc(base + k, cleanText(r), topicVec(r), s"src${r.nextInt(Sources)}"))
    val sources = scala.util.Random.javaRandomToRandom(
      new java.util.Random(r.nextLong())).shuffle(initial.indices.toVector).take(nRecrawl)
    val recrawls = sources.zipWithIndex.map { case (s, k) =>
      recrawl(r, base + nFresh + k, initial(s)) }
    val copies = (0 until nCopy).map { k =>
      val o = fresh(r.nextInt(fresh.size))
      o.copy(id = base + nFresh + nRecrawl + k)
    }
    val conts = (0 until nCont).map(k =>
      contaminated(r, base + nFresh + nRecrawl + nCopy + k))
    val expected =
      fresh.map(d => d.id -> "kept") ++ recrawls.map(_.id -> "hist_dup") ++
        copies.map(_.id -> "batch_dup") ++ conts.map(_.id -> "contaminated")
    Batch(fresh ++ recrawls ++ copies ++ conts, expected.toMap)
  }

  /** The takedown after ingest batch `i` (every fifth, from the first),
    * or none. Deletes docs kept by batches so far that are still live;
    * never an initial doc, so every recrawl's source stays stored.
    */
  def takedown(i: Int, live: collection.Set[Long]): Seq[Long] =
    if (i % DeleteEvery != 0) Nil
    else {
      val r = Gen.rng(seed, "takedown", i)
      val cands = live.filter(_ >= IngestBase).toVector.sorted
      scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(cands).take(DeleteSize).sorted
    }
}

object CorpusGen {
  final case class Doc(id: Long, text: String, vec: Array[Float],
      source: String)
  final case class Batch(docs: IndexedSeq[Doc], expected: Map[Long, String])

  val Dim = 64
  val Topics = 40
  val Noise = 0.6
  val QueryNoise = 0.1
  val VocabSize = 5000
  val MinWords = 30
  val MaxWords = 80
  val Sources = 5
  val BenchDocs = 50
  val BenchBase = 5000000L
  val IngestBase = 1000000L
  val BatchSize = 200
  val LowRecrawl = 0.1
  val HighRecrawl = 0.6
  val DeleteEvery = 5
  val DeleteSize = 20
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "ze", "ba", "de", "fi", "go", "hu", "ja", "pe", "qui", "ro",
    "su", "te", "ul", "va", "wo", "xe", "yu", "an", "el", "is", "on", "ur")

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  def toF(v: Array[Double]): Array[Float] = v.map(_.toFloat)

  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-`k` ids of `q` among `live` by squared euclidean
    * distance, ties by id.
    */
  def exactTopK(q: Array[Float], live: Iterable[Doc], k: Int): Seq[Long] =
    live.toSeq.map(d => (sqDist(q, d.vec), d.id)).sorted.take(k).map(_._2)
}

/** The lexical screen's signature, computed the way the dedup tier
  * documents it (word 3-grams split on single spaces, 16 seeded MD5
  * minima as lowercase hex), so a recrawl can be drawn until its
  * signature provably equals its source's.
  */
object MinHash {
  val NumHashes = 16

  def shingles(text: String, k: Int = 3): Seq[String] = {
    val t = text.split(" ", -1)
    if (t.length < k) Nil
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).distinct
  }

  def signature(text: String): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = java.util.HexFormat.of()
    val mins = new Array[String](NumHashes)
    shingles(text).foreach { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      for (h <- 0 until NumHashes) {
        md.reset()
        md.update(s"$h:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(b)
        val x = hex.formatHex(md.digest())
        if (mins(h) == null || x < mins(h)) mins(h) = x
      }
    }
    mins
  }
}
