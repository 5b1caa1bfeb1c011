package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload reads and where it reports. Metrics are recorded by
  * name; perfbench/run.py decides which set it prints.
  *
  * A traced run makes its repetitions in groups of four ordered
  * untraced, traced, traced, untraced, so that a steady drift (the JIT
  * still warming, say) cancels out of the tracing overhead, which compares
  * the two halves within one JVM. The per-layer span metrics come from
  * the traced repetitions. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val tracer: Tracer, val ops: Ops, val work: Path) {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, Double]
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  val sampleCounts = mutable.LinkedHashMap.empty[String, Int]
  val oracleChecks = mutable.ArrayBuffer.empty[Map[String, String]]
  /** Measured repetitions, the divisor of the per-repetition spark.*
    * metrics, and their wall seconds, the base of spark.busy_share. */
  var measuredReps = 0
  var timedWallS = 0.0
  /** Traced repetitions, the divisor of the per-repetition self times. */
  var tracedReps = 0
  /** Job groups whose Spark tasks the traced run counts: the timed calls
    * and the timed streaming runs, never set-up, warm-up or checks. */
  val countedGroups: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  countedGroups.add("timed")

  def e2e(name: String, v: Double): Unit = e2eMetrics(name) = v
  def layer(name: String, v: Double): Unit = layerMetrics(name) = v
  def samples(name: String, n: Int): Unit = sampleCounts(name) = n

  /** Whether a closed loop goes on after `reps` repetitions that took
    * `timedS` seconds: until `seconds` and `minReps` are reached, and when
    * traced on to a whole group of four. */
  def more(reps: Int, timedS: Double, minReps: Int): Boolean =
    timedS < seconds || reps < minReps || (traced && reps % 4 != 0)

  def isTraced(rep: Int): Boolean = traced && (rep % 4 == 1 || rep % 4 == 2)

  /** Warm-up repetitions before the measured ones: -1, and in a traced
    * run -2 at full size, because its first measured repetition, which the
    * overhead counts as untraced, otherwise still runs slower while the
    * JIT warms. */
  def warmups: Seq[Int] = if (traced) Seq(-1, -2) else Seq(-1)

  /** Runs measured repetition `rep`, with tracing on if it is a traced one. */
  def measure[T](rep: Int)(body: => T): T = {
    tracer.on = isTraced(rep)
    try body finally tracer.on = false
  }

  /** Records throughput from (rep, units, seconds) samples: the median
    * rate of the untraced repetitions, and in a traced run the share of it
    * the traced ones lost, as the tracing overhead. */
  def throughput(samples: Seq[(Int, Double, Double)]): Unit = {
    def rate(xs: Seq[(Int, Double, Double)]) = Stats.median(xs.map(x => x._2 / x._3))
    val (tr, base) = samples.partition(s => isTraced(s._1))
    if (base.nonEmpty) e2e("throughput_per_s", rate(base))
    if (tr.nonEmpty && base.nonEmpty)
      layer("trace.overhead_throughput_pct", (rate(base) - rate(tr)) / rate(base) * 100)
    measuredReps = samples.size
    tracedReps = tr.size
  }

  /** Runs `body` with its Spark jobs tagged `group`. */
  def withGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

/** Entry point of the benchmark JVM:
  *
  *   Main run --workload W --seed N --seconds S --trace 0|1 --work DIR --result FILE
  *   Main selftest --work DIR
  *
  * `run` writes one JSON object to FILE; perfbench/run.py turns it into
  * the benchmark's result line after the oracle checks. */
object Main {
  val Cores = 4
  val Workloads: Map[String, Ctx => Unit] = Map(
    "btc_backfill" -> Backfill.run,
    "btc_live" -> Live.run,
    "btc_catchup" -> Catchup.run,
    "corpus_curation" -> Curation.run)

  /** Layers whose self time a traced run reports, idle ones as 0. */
  val Layers = Seq("harness", "sources", "sink", "api", "stream", "generator", "curation")

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    args.headOption match {
      case Some("run") => run(opts, work)
      case Some("selftest") => sys.exit(SelfTest.run(work))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private def run(opts: Map[String, String], work: Path): Unit = {
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val spark = session(work)
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current.pid}")
    val ctx = new Ctx(spark, seed, opts("seconds").toDouble, traced, tracer, new Ops, work)
    val tasks = if (traced) {
      val t = new TaskTotals
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    try body(ctx)
    finally {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    }
    ctx.e2e("peak_rss_mb", Rss.peakMb())
    tasks.foreach(_.metrics(ctx.countedGroups.contains, ctx.measuredReps, ctx.timedWallS, Cores)
      .foreach { case (k, v) => ctx.layer(k, v) })
    val traceFile = work.resolve(s"trace-$workload-$seed.json")
    if (traced) {
      val self = tracer.selfTimes
      val per = math.max(1, ctx.tracedReps).toDouble
      Layers.foreach(l => ctx.layer(s"self.${l}_s", self.getOrElse(l, 0.0) / per))
      ctx.layer("trace.spans", tracer.all.size.toDouble)
      tracer.writeJson(traceFile)
    }
    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> ctx.ops.attempted, "failed" -> ctx.ops.failed,
      "failures" -> ctx.ops.failures,
      "e2e" -> ctx.e2eMetrics.toMap, "layer" -> ctx.layerMetrics.toMap,
      "samples" -> ctx.sampleCounts.toMap,
      "oracle_checks" -> ctx.oracleChecks.toSeq,
      "trace_file" -> (if (traced) traceFile.toString else null)))
    Files.writeString(Paths.get(opts("result")), result)
    spark.stop()
  }
}
