package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, Future, TimeUnit}
import scala.collection.mutable.ArrayBuffer

import graft.api.BitcoinEtl
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** One completed micro-batch, as its progress event reports it. File
  * offsets are positions in the landing zone's name order. */
final case class Batch(id: Long, queryId: String, runId: String, startMs: Long,
    durations: Map[String, Long], startN: Long, endN: Long, inputRows: Long,
    stateRows: Long, stateBytes: Long) {
  def completeMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** btc_live: an open loop. One generator thread lands payload files on a
  * fixed schedule while `avgInfoStream` runs into a checkpointed parquet
  * sink. Mid-run the query stops, a backlog lands, and the query restarts
  * from its checkpoint and drains it under admission control. The
  * landing zone is never pruned. */
object Live {
  val RatePerS = 200.0
  val MaxFilesPerTrigger = 500
  val HistoryFiles = 300
  val BacklogFiles = 4000
  val WaitS = 60.0

  // ------------------------------------------------ progress arithmetic

  private val NRe = "\"n\"\\s*:\\s*(\\d+)".r

  def offsetN(json: String): Long =
    Option(json).flatMap(j => NRe.findFirstMatchIn(j)).map(_.group(1).toLong).getOrElse(0L)

  def toBatch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Batch = {
    import scala.jdk.CollectionConverters._
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Batch(p.batchId, p.id.toString, p.runId.toString,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      src.map(s => offsetN(s.startOffset)).getOrElse(0L),
      src.map(s => offsetN(s.endOffset)).getOrElse(0L),
      p.numInputRows,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
  }

  /** Commit lag of each file in `files`: from its due time to the
    * completion of the first batch whose end offset covers it. None for a
    * file no batch covered. */
  def commitLags(batches: Seq[Batch], dueMs: Long => Long, files: Range): Seq[Option[Double]] = {
    val ordered = batches.filter(_.endN > 0).sortBy(b => (b.endN, b.completeMs))
    val ends = ordered.map(_.endN).toArray
    files.map { i =>
      // first batch with endN > i
      var lo = 0
      var hi = ends.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (ends(mid) > i) hi = mid else lo = mid + 1 }
      if (lo == ends.length) None else Some((ordered(lo).completeMs - dueMs(i)).toDouble)
    }
  }

  // ------------------------------------------------ generator

  private final case class Landed(name: String, dueMs: Long, landedMs: Long, p: Payload)

  /** The single landing thread. Every file is timed from its due time,
    * so a late generator shows up as lag, and its lateness is kept. */
  private final class Generator(zone: Path, stream: Iterator[Payload], tracer: Tracer) {
    private val exec = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-generator"); t.setDaemon(true); t
    }
    val landed = ArrayBuffer.empty[Landed]
    @volatile var stopLoop = false

    def count: Int = landed.synchronized(landed.size)
    def snapshot: Vector[Landed] = landed.synchronized(landed.toVector)

    private def landOne(dueMs: Long, p: Payload): Unit = {
      val name = landed.synchronized(Gen.payloadName(dueMs, landed.size))
      Gen.land(zone, name, p)
      val now = System.currentTimeMillis()
      landed.synchronized(landed += Landed(name, dueMs, now, p))
    }

    private def task(body: => Unit): Future[_] =
      exec.submit(new Runnable { def run(): Unit = body })

    /** Lands `n` files at once, due now. */
    def burst(n: Int, req: String): Future[_] = task {
      tracer.span("generator.burst", req) {
        (0 until n).foreach(_ => landOne(System.currentTimeMillis(), stream.next()))
      }
    }

    def one(p: Payload): Future[_] = task(landOne(System.currentTimeMillis(), p))

    /** Open loop: file k is due at startMs + k/rate, until `untilMs` or
    * until [[stopLoop]] is set. */
    def openLoop(startMs: Long, untilMs: Long, req: String): Future[_] = task {
      tracer.span("generator.open_loop", req) {
        var k = 0L
        var due = startMs
        while (due < untilMs && !stopLoop) {
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          landOne(due, stream.next())
          k += 1
          due = startMs + (k * 1000 / RatePerS).toLong
        }
      }
    }

    def shutdown(): Unit = {
      stopLoop = true
      exec.shutdownNow()
      exec.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  final class Progress extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[Batch]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.synchronized(batches += toBatch(e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def all: Vector[Batch] = batches.synchronized(batches.toVector)
  }

  /** Seconds from `t0Ms` to the completion of the first batch of the
    * query's current run. */
  def firstBatchS(progress: Progress, ops: Ops, q: StreamingQuery, t0Ms: Long,
      req: String): Option[Double] = {
    val run = q.runId.toString
    def ofRun = progress.all.filter(_.runId == run)
    if (await(s"first batch $req", ops, Some(q))(ofRun.nonEmpty))
      Some((ofRun.map(_.completeMs).min - t0Ms) / 1000.0)
    else None
  }

  def await(what: String, ops: Ops, q: => Option[StreamingQuery])(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (WaitS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline && q.forall(_.isActive)) Thread.sleep(10)
    val ok = cond
    if (!ok) ops.mismatch(what, q.flatMap(_.exception).map(e => s"query failed: ${e.getMessage}")
      .getOrElse(s"not reached within ${WaitS}s"))
    ok
  }

  // ------------------------------------------------ the workload

  /** avgInfoStream over `zone` into a checkpointed parquet sink. */
  def startQuery(ctx: Ctx, zone: Path, ckpt: Path, sink: Path, req: String,
      maxFilesPerTrigger: Int): Option[StreamingQuery] =
    ctx.ops.attempt(s"start $req")(ctx.tracer.span("stream.start", req) {
      BitcoinEtl.avgInfoStream(ctx.spark, zone.toString, Some(maxFilesPerTrigger))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt.toString)
        .option("path", sink.toString)
        .outputMode("append")
        .start()
    })

  /** The stream.* per-layer metrics over the given batches;
    * `reps` is the number of repetitions they came from, and
    * `backlogFilesMax` the most files waiting when a batch began. */
  def streamLayers(ctx: Ctx, batches: Seq[Batch], reps: Int, backlogFilesMax: Double): Unit = {
    val data = batches.filter(_.inputRows > 0)
    def med(k: String): Double =
      if (data.isEmpty) 0.0 else Stats.median(data.map(_.durations.getOrElse(k, 0L).toDouble))
    val trig = data.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    ctx.layer("stream.batches", batches.size.toDouble / math.max(1, reps))
    ctx.layer("stream.batch_ms_p50", if (trig.isEmpty) 0.0 else Stats.median(trig))
    ctx.layer("stream.batch_ms_p99", if (trig.isEmpty) 0.0 else Stats.percentile(trig, 99))
    ctx.layer("stream.latest_offset_ms", med("latestOffset"))
    ctx.layer("stream.get_batch_ms", med("getBatch"))
    ctx.layer("stream.add_batch_ms", med("addBatch"))
    ctx.layer("stream.wal_commit_ms", med("walCommit"))
    ctx.layer("stream.query_planning_ms", med("queryPlanning"))
    ctx.layer("stream.backlog_files_max", backlogFilesMax)
    ctx.layer("stream.state_rows", batches.map(_.stateRows.toDouble).maxOption.getOrElse(0.0))
    ctx.layer("stream.state_bytes", batches.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0))
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val base = work.resolve("live")
    val zone = base.resolve("zone")
    val ckpt = base.resolve("checkpoint")
    val sink = base.resolve("sink")
    Files.createDirectories(zone)
    val progress = new Progress
    spark.streams.addListener(progress)
    val stream = new Gen.PayloadStream(Gen.mix(seed, 0), Gen.Epoch0, gaps = false,
      malformedShare = 0.01)
    val gen = new Generator(zone, stream, tracer)
    var query: Option[StreamingQuery] = None
    // one run, traced throughout when the run is; no tracing overhead
    tracer.on = traced

    def start(req: String): Option[StreamingQuery] = {
      val q = startQuery(ctx, zone, ckpt, sink, req, MaxFilesPerTrigger)
      q.foreach(q => countedGroups.add(q.runId.toString))
      q
    }

    def coveredBy(n: Long): Option[Batch] =
      progress.all.filter(_.endN >= n).sortBy(_.completeMs).headOption

    val setups = ArrayBuffer.empty[Double]
    try {
      gen.burst(HistoryFiles, "history").get()
      val t0 = System.currentTimeMillis()
      query = start("initial")
      query.flatMap(q => firstBatchS(progress, ops, q, t0, "initial")).foreach(setups += _)

      // phase A: steady open loop; its files give the commit-lag samples
      val aStart = System.currentTimeMillis()
      val aFirst = gen.count
      gen.openLoop(aStart, aStart + (seconds * 500).toLong, "A").get()
      val aEnd = gen.count
      await("drain phase A", ops, query)(coveredBy(aEnd).isDefined)

      // downtime: stop, land the backlog, restart from the checkpoint
      query.foreach(q => ops.attempt("stop")(tracer.span("stream.stop", "B")(q.stop())))
      gen.burst(BacklogFiles, "B").get()
      val backlogEnd = gen.count
      val tR = System.currentTimeMillis()
      query = start("restart")
      gen.stopLoop = false
      val loopC = gen.openLoop(tR, Long.MaxValue, "C")
      query.flatMap(q => firstBatchS(progress, ops, q, tR, "restart")).foreach(setups += _)
      val caught = ops.attempt("catch-up") {
        if (!await("catch-up", ops, query)(coveredBy(backlogEnd).isDefined))
          throw new IllegalStateException("backlog not drained")
        coveredBy(backlogEnd).get.completeMs
      }
      Thread.sleep(2000)
      gen.stopLoop = true
      loopC.get()

      // flush: a payload an hour of event time ahead closes every window
      val last = gen.snapshot.filter(_.p.kind != "error").map(_.p.serverTs).max
      gen.one(Gen.sentinel(last + 3600)).get()
      val total = gen.count
      ops.attempt("flush") {
        val flushed = await("flush", ops, query) {
          val all = progress.all
          all.find(_.endN >= total).exists(b => all.exists(_.id > b.id))
        }
        if (!flushed) throw new IllegalStateException("windows not flushed")
      }
      query.foreach(_.stop())
      val elapsedS = (System.currentTimeMillis() - t0) / 1000.0

      val landed = gen.snapshot
      val batches = progress.all
      check(ctx, sink, landed.init.map(_.p))

      val lags = commitLags(batches, i => landed(i.toInt).dueMs, aFirst until aEnd)
      if (lags.exists(_.isEmpty)) ops.mismatch("commit", s"${lags.count(_.isEmpty)} phase-A files never committed")
      val lagMs = lags.flatten
      if (setups.nonEmpty) e2e("setup_s", Stats.median(setups.toSeq))
      caught.foreach(done => e2e("throughput_per_s", BacklogFiles / ((done - tR) / 1000.0)))
      if (lagMs.nonEmpty) {
        e2e("latency_p50_ms", Stats.median(lagMs))
      }
      samples("lag_files", lagMs.size)

      measuredReps = 1
      if (traced) {
        tracedReps = 1
        val landedAt = landed.map(_.landedMs)
        streamLayers(ctx, batches, 1,
          batches.map(b => (landedAt.count(_ <= b.startMs) - b.startN).toDouble).maxOption.getOrElse(0.0))
        layer("generator.late_ms_max",
          landed.map(l => (l.landedMs - l.dueMs).toDouble).maxOption.getOrElse(0.0))
        timedWallS = elapsedS
      }
    } finally {
      tracer.on = false
      gen.shutdown()
      query.foreach(q => if (q.isActive) q.stop())
      spark.streams.removeListener(progress)
    }
  }

  /** Emitted windows equal the generator-derived expectation, each once:
    * the restart neither lost nor duplicated one. */
  def check(ctx: Ctx, sink: Path, payloads: Seq[Payload]): Unit = {
    import ctx._
    withGroup("check") {
      val got = spark.read.parquet(sink.toString).orderBy(col("win_start")).collect().map { r =>
        AvgRow(r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
          r.getDouble(2), r.getDouble(3))
      }.toVector
      val exp = Gen.avgInfoStream(payloads)
      val dups = got.size - got.map(_.winStart).distinct.size
      if (dups > 0) ops.mismatch("flush", s"$dups windows emitted twice")
      if (got.distinct != exp) {
        val missing = exp.diff(got).size
        val wrong = got.distinct.diff(exp).size
        ops.mismatch("flush", s"${got.size} windows emitted, ${exp.size} expected: " +
          s"$missing missing or different, $wrong unexpected; first unexpected " +
          s"${got.distinct.diff(exp).headOption}, first missing ${exp.diff(got).headOption}")
      }
    }
  }
}
