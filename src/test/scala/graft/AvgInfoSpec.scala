package graft

import java.math.{BigDecimal => JBig, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import graft.api.BitcoinEtl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** avg_info against an exact decimal reference, on a seeded zone shaped
  * like the reference's feeds: a price every 60 s, a hashrate every 30 s,
  * price and hashrate outages of 6-14 minutes, and malformed payloads.
  * The outages make the batch-only O11 fallback fire and leave windows
  * without hashrate. */
class AvgInfoSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private case class Payload(kind: String, ts: Long, usd: Long, hashrate: Long, difficulty: Long)

  private val t0 = 1700000000L
  private val (payloads, zone) = {
    val rnd = new SplittableRandom(20260419L)
    val out = Vector.newBuilder[Payload]
    var usd = 60000L
    var (priceOutage, hashOutage) = (0, 0)
    def land(p: Payload): Unit = {
      out += p
      if (rnd.nextDouble() < 0.02) out += Payload("error", 0, 0, 0, 0)
    }
    for (minute <- 0 until 200) {
      val t = t0 + minute * 60L
      if (priceOutage == 0 && rnd.nextDouble() < 0.04) priceOutage = 6 + rnd.nextInt(9)
      if (hashOutage == 0 && rnd.nextDouble() < 0.03) hashOutage = 6 + rnd.nextInt(9)
      val (withPrice, withHash) = (priceOutage == 0, hashOutage == 0)
      priceOutage = math.max(0, priceOutage - 1)
      hashOutage = math.max(0, hashOutage - 1)
      def hash(ts: Long) = Payload("hashrate", ts, 0,
        600000000000L + rnd.nextLong(100000000000L), 80000000000000L + rnd.nextLong(9000000000000L))
      if (withHash) land(hash(t + 7))
      if (withPrice) {
        usd = math.max(20000L, usd + rnd.nextInt(-150, 151))
        land(Payload("price", t + 27, usd, 0, 0))
      }
      if (withHash) land(hash(t + 37))
    }
    val ps = out.result()
    val dir = Paths.get("target", "test-avg-info-zone")
    Fs.deleteRecursively(dir)
    Files.createDirectories(dir)
    val bad = Array("""<html><body>502 Bad Gateway</body></html>""",
      """{"spider_ts": 1700000000, "price_data": {"USD": 6""",
      """{"spider_ts": 1700000000, "error": "rate limited"}""", "")
    ps.zipWithIndex.foreach { case (p, i) =>
      val body = p.kind match {
        case "price" =>
          s"""{"spider_ts": ${p.ts + 1}, "price_data": {"time": ${p.ts}, "USD": ${p.usd}}}"""
        case "hashrate" =>
          s"""{"spider_ts": ${p.ts}, "hash_rate_data": {"currentHashrate": ${p.hashrate}, "currentDifficulty": ${p.difficulty}}}"""
        case _ => bad(i % bad.length)
      }
      Files.write(dir.resolve(f"payload_$i%05d.json"), body.getBytes(StandardCharsets.UTF_8))
    }
    (ps, dir.toString)
  }

  /** Spark's decimal(38,s) / bigint: the quotient at scale 6 (HALF_UP),
    * then round(_, 2) (HALF_UP), then the cast to double. */
  private def avg2(values: Seq[Long]): Double =
    values.map(JBig.valueOf).reduce(_ add _)
      .divide(JBig.valueOf(values.size.toLong), 6, RoundingMode.HALF_UP)
      .setScale(2, RoundingMode.HALF_UP).doubleValue

  /** (win_start, own price average, hashrate average, difficulty average)
    * for every window the zone touches, in window order. */
  private val windows: Seq[(Long, Option[Double], Option[(Double, Double)])] =
    payloads.filter(_.kind != "error").groupBy(p => Math.floorDiv(p.ts, 300L) * 300L)
      .toSeq.sortBy(_._1).map { case (w, ps) =>
        val (prices, hashes) = ps.partition(_.kind == "price")
        (w, Option.when(prices.nonEmpty)(avg2(prices.map(_.usd))),
          Option.when(hashes.nonEmpty)((avg2(hashes.map(_.hashrate)), avg2(hashes.map(_.difficulty)))))
      }

  /** Batch avg_info: the O11 fallback carries the last own price over
    * every window, and only windows with hashrate are emitted. */
  private val expected: Seq[(Long, Option[Double], Double, Double)] =
    windows.foldLeft((Option.empty[Double], Vector.empty[(Long, Option[Double], Double, Double)])) {
      case ((last, rows), (w, own, hash)) =>
        val usd = own.orElse(last)
        (usd, rows ++ hash.map { case (h, d) => (w, usd, h, d) })
    }._2

  private val ownPrice: Set[Long] = windows.collect { case (w, Some(_), _) => w }.toSet

  private def rows(df: DataFrame) =
    df.orderBy($"win_start").select($"win_start", $"avg_usd", $"avg_hashrate", $"avg_difficulty")
      .as[(Long, Option[Double], Double, Double)].collect().toSeq

  test("the generated zone exercises outages, the fallback and malformed payloads") {
    assert(payloads.count(_.kind == "error") > 0)
    assert(windows.exists(_._3.isEmpty), "a window without hashrate")
    assert(expected.exists { case (w, usd, _, _) => usd.isDefined && !ownPrice(w) },
      "a window whose price comes from the fallback")
    assert(expected.size > 20)
  }

  test("batch avgInfo equals the exact decimal reference, fallback included") {
    val t = BitcoinEtl.ingest(spark, zone)
    assert(rows(BitcoinEtl.avgInfo(t.price, t.hashrate)) === expected)
  }

  test("avgInfoStream equals the reference on every window with its own price") {
    val q = BitcoinEtl.avgInfoStream(spark, zone)
      .writeStream.format("memory").queryName("avg_info_reference")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val stream = rows(spark.table("avg_info_reference"))
    // streaming has no O11 fallback: a window without its own price is NULL
    assert(stream === expected.map { case (w, usd, h, d) =>
      (w, usd.filter(_ => ownPrice(w)), h, d) })
  }

  test("batch avgInfo plus appendAvgInfo: job budget and one hash shuffle, no join") {
    val t = BitcoinEtl.ingest(spark, zone)
    val out = Paths.get("target", "test-avg-info-out")
    Fs.deleteRecursively(out)
    val jobs = jobsDuring(BitcoinEtl.appendAvgInfo(BitcoinEtl.avgInfo(t.price, t.hashrate), out.toString))
    assert(jobs <= 3, s"$jobs Spark jobs")
    val df = BitcoinEtl.avgInfo(t.price, t.hashrate)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
    val hashShuffles = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size === 1, plan)
  }
}
