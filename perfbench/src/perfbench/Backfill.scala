package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.api.BitcoinEtl
import org.apache.spark.sql.functions.col

/** btc_backfill: a closed loop with one caller. Each cycle lands a fresh
  * seeded zone and runs the reference user's calls on it —
  * ingest → appendRaw (both tables) → avgInfo → appendAvgInfo — with
  * avgInfo reading the appended raw tables back, as the reference's load
  * step reads its MySQL tables. Only the calls are timed; planning the
  * scans of a freshly landed zone is the cycle's set-up, and the read-back
  * checks run after the loop. */
object Backfill {
  val ZonePayloads = 2500

  private final case class Cycle(rep: Int, zone: Path, sink: Path,
      payloads: Vector[Payload], seconds: Double)

  def run(ctx: Ctx): Unit = {
    import ctx._
    // JIT warm-up on zones of their own; their numbers are discarded
    warmups.foreach(w => cycle(ctx, w, if (w == -1) ZonePayloads / 4 else ZonePayloads, timed = false))

    val setups = Vector.newBuilder[Double]
    val done = Vector.newBuilder[Cycle]
    var timedS = 0.0
    var rep = 0
    while (more(rep, timedS, 4)) {
      val (c, setupS) = ctx.measure(rep)(cycle(ctx, rep, ZonePayloads, timed = true))
      setups += setupS
      c.foreach { c => done += c; timedS += c.seconds }
      if (c.isEmpty) timedS += 1.0 // a failing engine must not loop forever
      rep += 1
    }
    val cycles = done.result()

    cycles.foreach(check(ctx, _))
    e2e("setup_s", Stats.median(setups.result()))
    throughput(cycles.map(c => (c.rep, c.payloads.size.toDouble, c.seconds)))
    samples("cycles", cycles.size)

    if (traced) {
      // span metrics per traced cycle
      val tc = cycles.filter(c => isTraced(c.rep))
      val per = math.max(1, tc.size).toDouble
      val scanS = tracer.total("sources.scan")
      layer("sources.scan_s", scanS / per)
      layer("sources.files_per_s", if (scanS > 0) tc.map(_.payloads.size).sum / scanS else 0.0)
      layer("sources.input_partitions", cycles.headOption.map(c =>
        ingestRaw(ctx, c.zone).rdd.getNumPartitions.toDouble).getOrElse(0.0))
      val errors = tc.map { c =>
        val (got, planted) = (errorRows(ctx, c.zone), c.payloads.count(_.kind == "error"))
        if (got != planted) ops.mismatch(s"ingest c${c.rep}", s"$got error rows, $planted malformed payloads")
        got
      }
      layer("sources.error_rows", errors.sum / per)
      layer("sink.append_raw_s", tracer.total("sink.append_raw") / per)
      layer("sink.append_avg_s", tracer.total("sink.append_avg") / per)
      val rawFiles = tc.flatMap(c => Seq("price", "hashrate").flatMap(t =>
        parquetFiles(c.sink.resolve(t))))
      val allFiles = rawFiles ++ tc.flatMap(c => parquetFiles(c.sink.resolve("avg_info")))
      layer("sink.files_written", allFiles.size / per)
      val rawRows = tc.map(_.payloads.count(_.kind != "error")).sum
      layer("sink.bytes_per_row", rawFiles.map(Files.size).sum.toDouble / math.max(1, rawRows))
      layer("api.avg_info_s", tracer.total("api.avg_info") / per)
      timedWallS = timedS
    }
  }

  /** One cycle; returns the cycle (None if a call failed) and its set-up
    * time. */
  private def cycle(ctx: Ctx, rep: Int, n: Int, timed: Boolean): (Option[Cycle], Double) = {
    import ctx._
    val tag = if (rep < 0) s"warmup${-rep}" else s"c$rep"
    val zone = work.resolve(s"backfill/$tag/zone")
    val sink = work.resolve(s"backfill/$tag/sink")
    val payloads = Gen.backfillZone(seed, rep, n, zone)
    // set-up is the engine's preparation of the zone: the ingest call and
    // the physical plans of both scans (directory listing included).
    // Landing the files is not timed: it measures the disk, not the engine.
    val s0 = System.nanoTime()
    withGroup("setup") {
      val t = BitcoinEtl.ingest(spark, zone.toString)
      t.price.queryExecution.executedPlan
      t.hashrate.queryExecution.executedPlan
    }
    val setupS = (System.nanoTime() - s0) / 1e9

    val t0 = System.nanoTime()
    val ok = withGroup(if (timed) "timed" else "warmup") {
      tracer.span("harness.cycle", tag) {
        val raw = ops.attempt(s"ingest $tag")(tracer.span("sources.scan", tag) {
          val t = BitcoinEtl.ingest(spark, zone.toString)
          (t, t.price.count(), t.hashrate.count())
        })
        raw.exists { case (t, nPrice, nHash) =>
          val expPrice = payloads.count(_.kind == "price")
          val expHash = payloads.count(_.kind == "hashrate")
          if (timed && (nPrice != expPrice || nHash != expHash))
            ops.mismatch(s"ingest $tag",
              s"raw counts price=$nPrice hashrate=$nHash, generated $expPrice/$expHash")
          val wrote = Seq("price" -> t.price, "hashrate" -> t.hashrate).forall { case (name, df) =>
            ops.attempt(s"appendRaw $name $tag")(tracer.span("sink.append_raw", tag) {
              BitcoinEtl.appendRaw(df, sink.resolve(name).toString)
            }).isDefined
          }
          wrote && ops.attempt(s"avgInfo $tag") {
            val avg = tracer.span("api.avg_info", tag) {
              val df = BitcoinEtl.avgInfo(
                spark.read.parquet(sink.resolve("price").toString),
                spark.read.parquet(sink.resolve("hashrate").toString))
              df.queryExecution.executedPlan // planning is the call's own work
              df
            }
            tracer.span("sink.append_avg", tag) {
              BitcoinEtl.appendAvgInfo(avg, sink.resolve("avg_info").toString)
            }
          }.isDefined
        }
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    (if (ok) Some(Cycle(rep, zone, sink, payloads, seconds)) else None, setupS)
  }

  /** The read-back checks: raw row counts and avg_info against the exact
    * reference computed from the generated values. */
  private def check(ctx: Ctx, c: Cycle): Unit = {
    import ctx._
    withGroup("check") {
      for (t <- Seq("price", "hashrate")) {
        val n = spark.read.parquet(c.sink.resolve(t).toString).count()
        val exp = c.payloads.count(_.kind == t)
        if (n != exp) ops.mismatch(s"appendRaw $t c${c.rep}", s"read back $n rows, generated $exp")
      }
      val got = spark.read.parquet(c.sink.resolve("avg_info").toString)
        .orderBy(col("win_start")).collect().map { r =>
          AvgRow(r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
            r.getDouble(2), r.getDouble(3))
        }.toVector
      val exp = Gen.avgInfoBatch(c.payloads)
      if (got != exp) {
        val firstBad = got.zipAll(exp, null, null).indexWhere { case (a, b) => a != b }
        ops.mismatch(s"appendAvgInfo c${c.rep}",
          s"${got.size} windows vs ${exp.size} expected; first difference at " +
            s"$firstBad: got ${got.lift(firstBad)} expected ${exp.lift(firstBad)}")
      }
    }
  }

  private def ingestRaw(ctx: Ctx, zone: Path) =
    ctx.spark.read.format("graft.sources.PayloadJsonSource")
      .option("path", zone.toString).load()

  private def errorRows(ctx: Ctx, zone: Path): Long =
    ctx.withGroup("check")(ingestRaw(ctx, zone).filter(col("kind") === "error").count())

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
}
