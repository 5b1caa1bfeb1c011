package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

/** btc_catchup: a closed loop with one caller, on the streaming path. Each
  * repetition lands a seeded backlog (the payloads an outage left behind,
  * with price and hashrate gaps) and drains it with `avgInfoStream` under
  * admission control into a checkpointed parquet sink. Halfway through
  * the query stops and restarts from its checkpoint, replaying the batch
  * the stop interrupted. Nothing lands while a query runs.
  *
  * End-to-end: payloads drained per second of micro-batch time, and as
  * set-up the time from each start to its first completed batch. */
object Catchup {
  val BacklogPayloads = 1600
  val MaxFilesPerTrigger = 200

  private final case class Rep(drainS: Double, starts: Seq[Double], batches: Seq[Batch])

  def run(ctx: Ctx): Unit = {
    import ctx._
    val progress = new Live.Progress
    spark.streams.addListener(progress)
    try {
      // JIT warm-up; numbers discarded
      warmups.foreach(w => rep(ctx, progress, w, if (w == -1) BacklogPayloads / 4 else BacklogPayloads))
      val reps = ArrayBuffer.empty[(Int, Rep)]
      var timedS = 0.0
      var r = 0
      while (more(r, timedS, 2)) {
        val done = ctx.measure(r)(rep(ctx, progress, r, BacklogPayloads))
        done.foreach(d => reps += r -> d)
        timedS += done.map(_.drainS).getOrElse(1.0)
        r += 1
      }
      if (reps.nonEmpty) e2e("setup_s", Stats.median(reps.flatMap(_._2.starts).toSeq))
      // query starts are set-up; throughput is over the data batches' own time
      throughput(reps.toSeq.map { case (i, d) =>
        (i, BacklogPayloads.toDouble,
          d.batches.filter(_.inputRows > 0).map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0)
      })
      samples("reps", reps.size)
      if (traced) {
        // the whole backlog (and the closing payload) waits from the start
        val all = reps.toSeq.flatMap(_._2.batches)
        Live.streamLayers(ctx, all, reps.size,
          all.map(b => (BacklogPayloads + 1 - b.startN).toDouble).maxOption.getOrElse(0.0))
        timedWallS = timedS
      }
    } finally spark.streams.removeListener(progress)
  }

  private def rep(ctx: Ctx, progress: Live.Progress, r: Int, n: Int): Option[Rep] = {
    import ctx._
    val tag = if (r < 0) s"warmup${-r}" else s"r$r"
    val base = work.resolve(s"catchup/$tag")
    val (zone, ckpt, sink) = (base.resolve("zone"), base.resolve("checkpoint"), base.resolve("sink"))
    val payloads = Gen.backfillZone(seed, 1000 + r, n, zone)
    // a payload an hour of event time past the backlog closes every window
    val last = payloads.filter(_.kind != "error").map(_.serverTs).max
    Gen.land(zone, Gen.payloadName(9999999999999L, n), Gen.sentinel(last + 3600))
    var query: Option[StreamingQuery] = None

    def batchesOf(q: StreamingQuery): Seq[Batch] =
      progress.all.filter(_.queryId == q.id.toString)
    def covering(q: StreamingQuery, files: Long): Option[Batch] =
      batchesOf(q).filter(_.endN >= files).sortBy(_.completeMs).headOption

    // the task listener counts the streaming jobs of timed runs only
    def started(q: Option[StreamingQuery]): Option[StreamingQuery] = {
      if (r >= 0) q.foreach(q => countedGroups.add(q.runId.toString))
      q
    }

    try {
      val starts = ArrayBuffer.empty[Double]
      val t0 = System.currentTimeMillis()
      query = started(Live.startQuery(ctx, zone, ckpt, sink, s"$tag initial", MaxFilesPerTrigger))
      val half = query.flatMap { q =>
        Live.firstBatchS(progress, ops, q, t0, s"$tag initial").foreach(starts += _)
        ops.attempt(s"drain first half $tag") {
          if (!Live.await(s"first half $tag", ops, Some(q))(covering(q, n / 2).isDefined))
            throw new IllegalStateException("first half not drained")
          val done = covering(q, n / 2).get.completeMs
          tracer.span("stream.stop", tag)(q.stop())
          done - t0
        }
      }
      val tR = System.currentTimeMillis()
      query = started(half.flatMap(_ =>
        Live.startQuery(ctx, zone, ckpt, sink, s"$tag restart", MaxFilesPerTrigger)))
      val rest = query.flatMap { q =>
        Live.firstBatchS(progress, ops, q, tR, s"$tag restart").foreach(starts += _)
        ops.attempt(s"drain rest $tag") {
          val flushed = Live.await(s"flush $tag", ops, Some(q)) {
            covering(q, n + 1).exists(b => batchesOf(q).exists(_.id > b.id))
          }
          if (!flushed) throw new IllegalStateException("backlog not drained and flushed")
          val done = covering(q, n + 1).get.completeMs
          q.stop()
          done - tR
        }
      }
      Live.check(ctx, sink, payloads)
      for (h <- half; t <- rest if r >= 0)
        yield Rep((h + t) / 1000.0, starts.toSeq, query.map(batchesOf).getOrElse(Nil))
    } finally query.foreach(q => if (q.isActive) q.stop())
  }
}
