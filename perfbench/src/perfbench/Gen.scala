package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** One payload file as landed, with the values it carries. `kind` is what
  * the payload parser must tag it as: "price", "hashrate" or "error". */
final case class Payload(kind: String, serverTs: Long, usd: Long,
    hashrate: Long, difficulty: Long, body: String)

/** One expected avg_info row; `avgUsd` is None where no price exists. */
final case class AvgRow(winStart: Long, avgUsd: Option[Double],
    avgHashrate: Double, avgDifficulty: Double)

/** Seeded input generators. Every generator is a pure function of its
  * seed and arguments, so the same seed lands byte-identical inputs.
  *
  * Payload shapes follow the two reference endpoints (mempool prices and
  * hashrate), at their 60 s / 30 s cadences: per simulated minute one
  * price and two hashrate payloads. Values stay below 2^53 after the
  * engine's 2-decimal scaling so every double in avg_info is exact. */
object Gen {
  val Epoch0 = 1700000000L

  final class PayloadStream(seed: Long, startTs: Long, gaps: Boolean,
      malformedShare: Double) extends Iterator[Payload] {
    private val rnd = new SplittableRandom(seed)
    private var minute = 0L
    private val pending = scala.collection.mutable.Queue.empty[Payload]
    private var usd = 60000L
    private var priceOutage = 0
    private var hashOutage = 0

    override def hasNext: Boolean = true

    override def next(): Payload = {
      while (pending.isEmpty) fillMinute()
      pending.dequeue()
    }

    private def fillMinute(): Unit = {
      val t = startTs + minute * 60
      minute += 1
      if (gaps) {
        // outages: whole minutes with no price (the O11 fallback fires on
        // windows they empty) or no hashrate (windows without a row)
        if (priceOutage == 0 && rnd.nextDouble() < 0.012) priceOutage = 6 + rnd.nextInt(9)
        if (hashOutage == 0 && rnd.nextDouble() < 0.006) hashOutage = 6 + rnd.nextInt(7)
      }
      val withHash = hashOutage == 0
      val withPrice = priceOutage == 0
      if (priceOutage > 0) priceOutage -= 1
      if (hashOutage > 0) hashOutage -= 1
      if (withHash) emit(hashratePayload(t + 7))
      if (withPrice) emit(pricePayload(t + 27))
      if (withHash) emit(hashratePayload(t + 37))
    }

    private def emit(p: Payload): Unit = {
      pending += p
      if (rnd.nextDouble() < malformedShare) pending += malformed()
    }

    private def pricePayload(ts: Long): Payload = {
      usd = math.max(20000L, math.min(120000L, usd + rnd.nextInt(-150, 151)))
      val eur = usd * 92 / 100
      val gbp = usd * 79 / 100
      val spider = ts + rnd.nextInt(0, 3)
      Payload("price", ts, usd, 0, 0,
        s"""{"spider_ts": $spider, "price_data": {"time": $ts, "USD": $usd, "EUR": $eur, "GBP": $gbp}}""")
    }

    private def hashratePayload(ts: Long): Payload = {
      val h = 600000000000L + rnd.nextLong(100000000000L)
      val d = 80000000000000L + rnd.nextLong(9000000000000L)
      Payload("hashrate", ts, 0, h, d,
        s"""{"spider_ts": $ts, "hash_rate_data": {"currentHashrate": $h, "currentDifficulty": $d}}""")
    }

    private def malformed(): Payload = {
      val body = rnd.nextInt(4) match {
        case 0 => """<html><body>502 Bad Gateway</body></html>"""
        case 1 => """{"spider_ts": 1700000000, "price_data": {"USD": 6"""
        case 2 => """{"spider_ts": 1700000000, "error": "rate limited"}"""
        case _ => ""
      }
      Payload("error", 0, 0, 0, 0, body)
    }
  }

  /** A valid hashrate payload at `ts`; landed last, it moves the
    * watermark past every real window. */
  def sentinel(ts: Long): Payload =
    Payload("hashrate", ts, 0, 600000000000L, 80000000000000L,
      s"""{"spider_ts": $ts, "hash_rate_data": {"currentHashrate": 600000000000, "currentDifficulty": 80000000000000}}""")

  /** File name of the `seq`-th payload landed at `landMs`: zero-padded so
    * name order is landing order, as the streaming source requires. */
  def payloadName(landMs: Long, seq: Long): String =
    f"payload_$landMs%013d_$seq%07d.json"

  /** Lands `n` payloads of the backfill zone for repetition `rep`. */
  def backfillZone(seed: Long, rep: Int, n: Int, dir: Path): Vector[Payload] = {
    val ps = new PayloadStream(mix(seed, rep), Epoch0 + rep * 10000000L,
      gaps = true, malformedShare = 0.01).take(n).toVector
    Files.createDirectories(dir)
    var landMs = (Epoch0 + rep * 10000000L) * 1000
    ps.iterator.zipWithIndex.foreach { case (p, i) =>
      landMs = math.max(landMs + 1, p.serverTs * 1000 + 1500)
      Files.write(dir.resolve(payloadName(landMs, i)), p.body.getBytes(UTF_8))
    }
    ps
  }

  /** Writes one payload atomically: temp name outside the `.json`
    * listing, then a same-directory rename. */
  def land(dir: Path, name: String, p: Payload): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, p.body.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def mix(seed: Long, rep: Int): Long =
    new SplittableRandom(seed * 1000003L + rep).nextLong()

  // ------------------------------------------------ exact references

  /** Spark's decimal(38,s) / bigint: the quotient at scale 6 (HALF_UP),
    * then round(_, 2) (HALF_UP), then cast to double. */
  private def avg2(sum: JBig, n: Long): Double =
    sum.divide(JBig.valueOf(n), 6, RoundingMode.HALF_UP)
      .setScale(2, RoundingMode.HALF_UP).doubleValue

  private def windowOf(ts: Long): Long = Math.floorDiv(ts, 300L) * 300L

  private final case class Win(var pSum: JBig = JBig.ZERO, var pN: Long = 0,
      var hSum: JBig = JBig.ZERO, var dSum: JBig = JBig.ZERO, var hN: Long = 0)

  private def windows(ps: Iterable[Payload]): Map[Long, Win] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Win]
    ps.foreach { p =>
      p.kind match {
        case "price" =>
          val w = m.getOrElseUpdate(windowOf(p.serverTs), Win())
          w.pSum = w.pSum.add(JBig.valueOf(p.usd)); w.pN += 1
        case "hashrate" =>
          val w = m.getOrElseUpdate(windowOf(p.serverTs), Win())
          w.hSum = w.hSum.add(JBig.valueOf(p.hashrate))
          w.dSum = w.dSum.add(JBig.valueOf(p.difficulty)); w.hN += 1
        case _ => ()
      }
    }
    m.toMap
  }

  /** Batch avg_info: per 5-minute window, with the previous-window price
    * fallback over the joint window axis; windows without hashrate drop. */
  def avgInfoBatch(ps: Iterable[Payload]): Vector[AvgRow] = {
    var lastPrice: Option[Double] = None
    windows(ps).toSeq.sortBy(_._1).flatMap { case (start, w) =>
      val own = if (w.pN > 0) Some(avg2(w.pSum, w.pN)) else None
      val usd = own.orElse(lastPrice)
      if (own.isDefined) lastPrice = own
      if (w.hN == 0) None
      else Some(AvgRow(start, usd, avg2(w.hSum, w.hN), avg2(w.dSum, w.hN)))
    }.toVector
  }

  /** Streaming avg_info: no fallback; a window without price reads None. */
  def avgInfoStream(ps: Iterable[Payload]): Vector[AvgRow] =
    windows(ps).toSeq.sortBy(_._1).collect { case (start, w) if w.hN > 0 =>
      AvgRow(start, if (w.pN > 0) Some(avg2(w.pSum, w.pN)) else None,
        avg2(w.hSum, w.hN), avg2(w.dSum, w.hN))
    }.toVector

  // ------------------------------------------------ curation corpus

  /** The vocabulary of the curation corpus: the 30 words of the engine's
    * fixture corpus, whose search terms (spark, window, merge) are among
    * them. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** 41% en and 15% each of de, es, fr and zh, as in the fixture corpus. */
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  final case class Doc(docId: Long, text: String, lang: String, source: String)
  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  val NearDupShare = 0.05
  val NearDupWindow = 400

  /** Documents shaped like the engine's fixture corpus: 10 to 100 words
    * drawn uniformly from [[Vocab]], and a 5% near-duplicate share, each
    * one a document among the previous 400 with " dup" appended. Exact
    * duplicates are not planted; they arise where two near-duplicates
    * copy the same document, as they do in the fixture corpus. */
  def documents(seed: Long, rep: Int, n: Int): Vector[Doc] = {
    val rnd = new SplittableRandom(mix(seed, rep) ^ 0x5eedL)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && rnd.nextDouble() < NearDupShare)
          texts(i - 1 - rnd.nextInt(math.min(i, NearDupWindow))) + " dup"
        else Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}")
    }.toVector
  }

  /** Unit-norm 64-dim embeddings with independent labels 0-9: isotropic
    * Gaussian directions, as in the fixture corpus, where a vector's
    * cosine to its label's mean direction averages 0.07. */
  def embeddings(seed: Long, rep: Int, n: Int): Vector[Vec] = {
    val rnd = new SplittableRandom(mix(seed, rep) ^ 0xe3bL)
    def gauss(): Double = { // Box-Muller on the seeded stream
      val u1 = 1.0 - rnd.nextDouble()
      val u2 = rnd.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    (0 until n).map { i =>
      val v = Array.fill(64)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }.toVector
  }
}
