package graft

/** Filesystem helpers shared by the artifact-dir builders. */
object Fs {
  /** Recursive delete, children before parents; no-op when absent.
    * Replaces the six inline `Files.walk ... reverse.foreach(delete)`
    * copies (r12 review) — and unlike them, closes the walk stream. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Recursive copy, parents before children (walk order), replacing
    * existing files — the store-snapshot primitive the forget queries
    * use to work on a copy of a shared pristine store. */
  def copyRecursively(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(target)
      else {
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  /** Scale-adaptive shuffle-partition count for a corpus or landing
    * zone of `bytes` (guide §2: derive partitioning from input size,
    * not from a constant tuned for one machine): one partition per
    * ~16 MB, floor 4, cap 512. The batch queries (`SparkEntry.queries`)
    * and the stateful streams size by this one rule. A stateful micro-
    * batch pays per-PARTITION fixed costs (state-store open/commit and
    * offset bookkeeping per partition per batch), so its count tracks
    * the zone's data volume, the small-state analog of AQE's
    * advisoryPartitionSizeInBytes. The floor of 4 is the measured knee
    * on the fixture zones: 8 → 4 cut the stateful families' per-batch
    * overhead ~19%, 4 → 2 was flat. Declared results are invariant to
    * this value: every consumer's output is sorted, aggregated or
    * replay-collapsed. */
  private[graft] def partitionsForBytes(bytes: Long): Int =
    math.max(4L, math.min(512L, (bytes + (16L << 20) - 1) / (16L << 20)))
      .toInt

  /** Explicit shuffle width for a COMPUTE-bound stage: the machine's
    * parallelism, or the session's shuffle partitions if wider. Such a
    * stage's rows are small but its CPU per row is not — candidate-pair
    * rows of two longs before an exact verify, a per-shard sort window,
    * the pair kernel's ~cap²-pair bucket emission. AQE's byte-based
    * coalescing would fold them into one or two tasks and serialize the
    * work (one task once burned 10+ CPU-minutes), and the session default
    * is corpus-BYTE-derived ([[partitionsFor]]), which is the wrong
    * measure for them: on sf0.1 replicated 10× the shard builds ran
    * 15–60% slower on 11 byte-derived partitions. So the caller pins this
    * width with an explicit `repartition(n, keys)`. */
  private[graft] def computeWidth(s: org.apache.spark.sql.SparkSession): Int =
    math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** [[partitionsForBytes]] of the regular files under `dir` (0 bytes
    * when absent), walked on every call. */
  private[graft] def partitionsFor(dir: String): Int = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) partitionsForBytes(0L)
    else {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try partitionsForBytes(walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum)
      finally walk.close()
    }
  }
}
