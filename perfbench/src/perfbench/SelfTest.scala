package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's own checks, run by perfbench/selftest.py:
  *  - the same seed lands byte-identical payload zones and corpora, and
  *    another seed does not;
  *  - percentile, self-time and commit-lag arithmetic on hand-built
  *    spans and a hand-built progress sequence; spans are recorded only
  *    while tracing is on;
  *  - a forced query failure counts as a failed operation and yields no
  *    timing sample;
  *  - the Spark task totals count timed jobs and timed streaming runs,
  *    not the jobs of warm-up runs, set-up or checks. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  def run(work: Path): Int = {
    arithmetic()
    val spark = Main.session(work)
    try {
      determinism(work, spark)
      forcedFailure(work, spark)
      taskGroups(spark)
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }

  private def arithmetic(): Unit = {
    expect("median of an odd count", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median of an even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val hundred = (1 to 100).map(_.toDouble)
    expect("p99 of 1..100 is 99", Stats.percentile(hundred, 99) == 99.0)
    expect("p50 of 1..100 is 50", Stats.percentile(hundred, 50) == 50.0)
    expect("p99 of five samples is the largest", Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 99) == 5.0)

    // parent 0..100 ns with children 10..30, 20..50 (overlapping) and 70..80
    val spans = Seq(Span(0, -1, "harness.cycle", "r", 0, 100),
      Span(1, 0, "sources.scan", "r", 10, 30), Span(2, 0, "sink.append_raw", "r", 20, 50),
      Span(3, 0, "sink.append_raw", "r", 70, 80), Span(4, 3, "api.avg_info", "r", 72, 75))
    val self = Tracer.selfTimes(spans).map { case (k, v) => k -> math.round(v * 1e9) }
    expect("self time subtracts the union of child spans",
      self == Map("harness" -> 50L, "sources" -> 20L, "sink" -> 37L, "api" -> 3L), self.toString)

    val tr = new Tracer("selftest")
    tr.span("sources.scan", "c0")(())
    tr.on = true
    tr.span("sources.scan", "c1")(())
    expect("spans are recorded only while tracing is on",
      tr.all.map(_.req) == Seq("c1"), tr.all.toString)

    val ctx = new Ctx(null, 1, 1, true, new Tracer("selftest"), new Ops, null)
    ctx.throughput(Seq((0, 100.0, 1.0), (1, 100.0, 2.0), (2, 100.0, 2.0), (3, 100.0, 1.0)))
    expect("throughput of the untraced reps, overhead of the traced ones",
      ctx.e2eMetrics == Map("throughput_per_s" -> 100.0) &&
        ctx.layerMetrics == Map("trace.overhead_throughput_pct" -> 50.0) &&
        ctx.measuredReps == 4 && ctx.tracedReps == 2, s"${ctx.e2eMetrics} ${ctx.layerMetrics}")
    expect("a traced loop runs whole groups of four",
      ctx.more(6, 99.0, 2) && !ctx.more(8, 99.0, 2) && ctx.more(4, 0.5, 2))

    // files 0..5 due every 100 ms from 900; batch 0 covers files 0-2 and
    // completes at 1200; batch 1 covers 3-4 at 1400; batch 2 has no data
    def b(id: Long, start: Long, trig: Long, s: Long, e: Long, rows: Long) =
      Batch(id, "q", "run", start, Map("triggerExecution" -> trig), s, e, rows, 0, 0)
    val batches = Seq(b(1, 1300, 100, 3, 5, 2), b(0, 1000, 200, 0, 3, 3), b(2, 1500, 10, 5, 5, 0))
    val lags = Live.commitLags(batches, i => 900 + 100 * i, 0 until 6)
    expect("commit lag runs from due time to the covering batch's completion",
      lags == Seq(Some(300.0), Some(200.0), Some(100.0), Some(200.0), Some(100.0), None), lags.toString)
    val covered = lags.flatten
    expect("lag percentiles", Stats.median(covered) == 200.0 && Stats.percentile(covered, 99) == 300.0)
    expect("offset json parse", Live.offsetN("""{"n":1234,"last":"/z/payload_1.json"}""") == 1234L &&
      Live.offsetN(null) == 0L)
  }

  private def determinism(work: Path, spark: org.apache.spark.sql.SparkSession): Unit = {
    val z = work.resolve("selftest/zones")
    Gen.backfillZone(7, 0, 800, z.resolve("a"))
    Gen.backfillZone(7, 0, 800, z.resolve("b"))
    Gen.backfillZone(8, 0, 800, z.resolve("c"))
    val (a, bb, c) = (tree(z.resolve("a")), tree(z.resolve("b")), tree(z.resolve("c")))
    expect("same seed lands a byte-identical zone", a.nonEmpty && a == bb)
    expect("another seed lands another zone", a != c)
    val live = (s: Long) => new Gen.PayloadStream(Gen.mix(s, 0), Gen.Epoch0, false, 0.01)
      .take(2000).map(_.body).toVector
    expect("same seed yields the same live payload sequence", live(7) == live(7) && live(7) != live(8))

    val corpus = (s: Long, name: String) => {
      val ctx = new Ctx(spark, s, 1, false, new Tracer("selftest"), new Ops, work)
      val dir = work.resolve(s"selftest/corpus/$name")
      Files.createDirectories(dir)
      Curation.writeCorpus(ctx, 0, 400, 100, dir)
      tree(dir)
    }
    val (ca, cb, cc) = (corpus(7, "a"), corpus(7, "b"), corpus(8, "c"))
    expect("same seed writes byte-identical corpora",
      ca.keySet == Set("documents.parquet", "embeddings.parquet") && ca == cb, ca.keySet.toString)
    expect("another seed writes another corpus", ca != cc)
  }

  private def forcedFailure(work: Path, spark: org.apache.spark.sql.SparkSession): Unit = {
    val ops = new Ops
    val ctx = new Ctx(spark, 1, 1, false, new Tracer("selftest"), ops, work)
    val empty = work.resolve("selftest/no-corpus")
    Files.createDirectories(empty)
    val sample = Curation.runQueries(ctx, "forced", empty, work.resolve("selftest/forced-out"))
    expect("a failing query yields no timing sample", sample.isEmpty)
    expect("a failing query counts as a failed operation",
      ops.attempted == 1 && ops.failed == 1, s"attempted=${ops.attempted} failed=${ops.failed}")
  }

  private def taskGroups(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val totals = new TaskTotals
    sc.addSparkListener(totals)
    // a streaming query's jobs run under its run id as their job group
    val (warmRun, timedRun) = (java.util.UUID.randomUUID.toString, java.util.UUID.randomUUID.toString)
    def job(group: String, tasks: Int): Unit = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try sc.parallelize(1 to 100, tasks).count() finally sc.clearJobGroup()
    }
    try {
      Seq("setup" -> 2, "warmup" -> 3, warmRun -> 4, "timed" -> 5, timedRun -> 6, "check" -> 7)
        .foreach { case (g, n) => job(g, n) }
      org.apache.spark.perfbench.Bus.drain(sc)
      val m = totals.metrics(Set("timed", timedRun), 1, 1.0, Main.Cores).toMap
      expect("task totals count timed jobs and timed streaming runs only",
        m("spark.tasks") == 11.0, s"spark.tasks=${m("spark.tasks")}")
    } finally sc.removeSparkListener(totals)
  }
}
