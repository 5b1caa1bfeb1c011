package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Order statistics used by every workload. */
object Stats {

  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }
}

/** Operation accounting. Every call into the engine goes through
  * [[attempt]]; one that throws, or whose output a later check rejects,
  * counts as failed and contributes no timing sample. */
final class Ops {
  private var nAttempted = 0
  private val failureList = ArrayBuffer.empty[String]

  def attempted: Int = nAttempted
  def failed: Int = failureList.size
  def failures: Seq[String] = failureList.toSeq

  def attempt[T](what: String)(body: => T): Option[T] = {
    nAttempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failureList += s"$what threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")
        None
    }
  }

  /** An operation that returned but whose output was wrong. */
  def mismatch(what: String, detail: String): Unit =
    failureList += s"$what: $detail"
}

final case class Span(id: Int, parent: Int, name: String, req: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans are recorded only while `on` is set,
  * during the traced repetitions of a traced run; otherwise every call is
  * a plain pass-through that pays one branch. */
final class Tracer(val runId: String) {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { spans += null; spans.size - 1 }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans(id) = Span(id, parent, name, req, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Total duration of the spans named `name`, in seconds. */
  def total(name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self time per layer in seconds: each span's duration minus the part
    * of it its child spans cover, summed by layer (the name's prefix). */
  def selfTimes: Map[String, Double] = Tracer.selfTimes(all)

  def writeJson(path: java.nio.file.Path): Unit = {
    val rows = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> runId, "req" -> s.req, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer {
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      // union of the child intervals
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Spark task totals per job group. A stage belongs to the job group it
  * was submitted under: "timed" for a closed loop's timed calls, the run
  * id for a streaming query's micro-batches. Which groups count is decided
  * when the totals are read, after every query's run id is known.
  * Registered only in traced runs. */
final class TaskTotals extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // tasks, executor CPU ns, GC ms, shuffle write, shuffle read, spill bytes
  private val byGroup = scala.collection.mutable.HashMap.empty[String, Array[Long]]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val t = byGroup.getOrElseUpdate(stageGroup.getOrDefault(e.stageId, ""), new Array[Long](6))
      t(0) += 1
      t(1) += m.executorCpuTime
      t(2) += m.jvmGCTime
      t(3) += m.shuffleWriteMetrics.bytesWritten
      t(4) += m.shuffleReadMetrics.totalBytesRead
      t(5) += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  /** The spark.* per-layer metrics of the `counted` groups, per
    * repetition of `reps`, with the busy share over `wallS` seconds on
    * `cores` cores. */
  def metrics(counted: String => Boolean, reps: Int, wallS: Double, cores: Int)
      : Seq[(String, Double)] = synchronized {
    val t = byGroup.collect { case (g, v) if counted(g) => v }
      .foldLeft(new Array[Long](6))((acc, v) => acc.zip(v).map { case (x, y) => x + y })
    val per = math.max(1, reps).toDouble
    Seq(
      "spark.tasks" -> t(0) / per,
      "spark.shuffle_write_bytes" -> t(3) / per,
      "spark.shuffle_read_bytes" -> t(4) / per,
      "spark.spill_bytes" -> t(5) / per,
      "spark.executor_cpu_s" -> t(1) / 1e9 / per,
      "spark.busy_share" -> (if (wallS > 0) t(1) / 1e9 / (wallS * cores) else 0.0),
      "spark.gc_s" -> t(2) / 1e3 / per)
  }
}

/** Peak resident set of this JVM, from the kernel's high-water mark. */
object Rss {
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
