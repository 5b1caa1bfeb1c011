package graft

import java.nio.file.{Files, FileSystemException, NoSuchFileException, Path,
  Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Filesystem helpers, and the one home of derived artifacts: every
  * directory the engine derives from a corpus (stream landing zones,
  * persisted indexes, fixture tables, per-run sink outputs) is named by
  * [[artifactDir]] and, when it is reused across calls and JVMs, built
  * by [[staged]]. */
object Fs {
  /** Root of every derived artifact: `target/` under the working
    * directory, made absolute once. */
  private val Root: Path = Paths.get("target").toAbsolutePath

  private val Marker = "_complete"

  /** `<corpus basename>-<md5 prefix of the full corpus path>`. The hash
    * keeps two corpora with one basename (two fixture roots both ending
    * in `sf0.01`) from sharing artifacts while in-JVM memos, keyed by the
    * full path, still point at them. */
  private def artifactName(corpus: String): String =
    new java.io.File(corpus).getName + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(corpus.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString

  /** `target/<kind>/<corpus basename>-<md5 prefix>`, absolute. */
  def artifactDir(kind: String, corpus: String): Path =
    Root.resolve(kind).resolve(artifactName(corpus))

  /** Root for per-run scratch that needs speed, not durability (stream
    * checkpoints): the RAM-backed `/dev/shm` when the host has a
    * writable one, else the artifact root. Every stateful micro-batch
    * commits offsets and state per partition with fsyncs; on a disk
    * that fixed cost dominated the streaming queries' profile. */
  lazy val scratchRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Files.createDirectories(Root)
  }

  /** The checkpoint path of `kind` over `corpus` under [[scratchRoot]],
    * not wiped. Offline state readers (the statestore-source specs)
    * resolve the checkpoint a query used through this. */
  private[graft] def scratchCheckpointPath(kind: String, corpus: String)
      : Path =
    scratchRoot.resolve(s"graft_ck_${kind}_" + artifactName(corpus))

  private def holds(dir: Path, stamp: String): Boolean =
    try FixtureStamp.upToDate(dir.resolve(Marker), stamp)
    catch { case _: NoSuchFileException => false } // moved aside meanwhile

  /** The artifact `(kind, corpus)` at version `stamp`, as a path. It
    * returns at once when the dir's `_complete` holds `stamp`.
    * Otherwise `build` writes into a fresh sibling temp dir, `_complete`
    * is written there and the dir is renamed into place: the
    * stage-then-rename commit of Spark's own file writers. A reader never
    * sees a half-built artifact, a failed build leaves the previous
    * version in place, and nothing may write into the dir after this
    * returns (copy it first). */
  def staged(kind: String, corpus: String, stamp: String)(
      build: Path => Unit): String = {
    val dir = artifactDir(kind, corpus)
    if (!holds(dir, stamp)) {
      Files.createDirectories(dir.getParent)
      // a sibling, so the rename stays on one filesystem and is atomic;
      // no leading '.' or '_', which would hide it from Spark's readers
      val tmp = Files.createTempDirectory(dir.getParent,
        s"${dir.getFileName}.tmp-")
      try {
        build(tmp)
        FixtureStamp.complete(tmp.resolve(Marker), stamp)
        install(tmp, dir, stamp)
      } finally deleteRecursively(tmp) // gone already once installed
    }
    dir.toString
  }

  /** Rename the built `tmp` into `dir`. A builder that finds `dir`
    * already complete at `stamp` lost a race: it keeps the winner's dir
    * and its caller deletes `tmp`. A stale `dir` is moved aside, `tmp`
    * renamed in, and the old version deleted last. */
  private def install(tmp: Path, dir: Path, stamp: String): Unit = {
    def move(from: Path, to: Path): Boolean =
      try { Files.move(from, to, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: FileSystemException => false } // lost to another JVM
    val aside = Seq.newBuilder[Path]
    var attempts = 0
    try while (!holds(dir, stamp) && !move(tmp, dir)) {
      attempts += 1
      require(attempts < 16, s"could not install $tmp as $dir")
      val old = dir.resolveSibling(
        s"${dir.getFileName}.old-${java.util.UUID.randomUUID}")
      if (!holds(dir, stamp) && move(dir, old)) aside += old
    } finally aside.result().foreach(deleteRecursively)
  }

  /** A landing zone at version `stamp`: each of `parts` written as
    * exactly one parquet file, with strictly increasing mtimes in part
    * order, built through [[staged]]. `FileStreamSource` admits files by
    * mtime, so the part order IS the micro-batch order (a tie could
    * admit a watermark-advancing sentinel first and drop every real
    * event as late). The parts are computed only on a rebuild. */
  def landingZone(kind: String, corpus: String, stamp: String)(
      parts: => Seq[DataFrame]): String =
    staged(kind, corpus, stamp) { dir =>
      def files = dir.toFile.listFiles().filter(_.getName.startsWith("part-"))
        .toSet
      val ps = parts
      val t = System.currentTimeMillis()
      ps.zipWithIndex.foldLeft(Set.empty[java.io.File]) {
        case (before, (df, i)) =>
          df.coalesce(1).write.mode("append").parquet(dir.toString)
          val after = files
          val added = after -- before
          require(added.size == 1,
            s"part $i of $kind wrote ${added.size} files, expected 1")
          touchOrFail(added, t - (ps.size - 1 - i) * 60000L)
          after
      }
    }

  /** Pin mtimes, failing loudly: a silent setLastModified failure would
    * commit an order-scrambled landing zone. */
  private def touchOrFail(fs: Iterable[java.io.File], ts: Long): Unit =
    fs.foreach(f => require(f.setLastModified(ts),
      s"setLastModified failed for $f"))

  /** Recursive delete, children before parents; no-op when absent.
    * Replaces the six inline `Files.walk ... reverse.foreach(delete)`
    * copies (r12 review) — and unlike them, closes the walk stream. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
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

  /** Scale-adaptive shuffle-partition count for a stateful stream's
    * landing zone of `bytes` (guide §2: derive partitioning from input
    * size, not from a constant tuned for one machine): one partition per
    * ~16 MB, floor 4, cap 512. A stateful micro-batch pays per-PARTITION
    * fixed costs (state-store open/commit and offset bookkeeping per
    * partition per batch), so its count tracks the zone's data volume,
    * the small-state analog of AQE's advisoryPartitionSizeInBytes; the
    * width is fixed in the checkpoint, so it is set on the stream's
    * scoped session. The floor of 4 is the measured knee on the fixture
    * zones: 8 → 4 cut the stateful families' per-batch overhead ~19%,
    * 4 → 2 was flat. Declared results are invariant to this value:
    * every consumer's output is sorted, aggregated or replay-collapsed. */
  private[graft] def partitionsForBytes(bytes: Long): Int =
    math.max(4L, math.min(512L, (bytes + (16L << 20) - 1) / (16L << 20)))
      .toInt

  /** Explicit shuffle width for a COMPUTE-bound stage: the machine's
    * parallelism. Such a stage's rows are small but its CPU per row is
    * not — candidate-pair rows of two longs before an exact verify, a
    * per-shard sort window, the pair kernel's ~cap²-pair bucket
    * emission. AQE's byte-based coalescing would fold them into one or
    * two tasks and serialize the work (one task once burned 10+
    * CPU-minutes), so the caller pins this width with an explicit
    * `repartition(n, keys)`. It reads no session setting: the caller's
    * shuffle width (Spark's default is 200) would give a 1000-doc
    * corpus's verify hundreds of near-empty tasks that AQE cannot
    * coalesce. */
  private[graft] def computeWidth(s: org.apache.spark.sql.SparkSession): Int =
    s.sparkContext.defaultParallelism

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
