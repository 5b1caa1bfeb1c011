package graft

import graft.functions.{MediaCodec, PerceptualHash}
import graft.operators.MultimodalOps

/** q_simsearch_media contract: the half-bright perturbation's hash flips
  * are confined to ONE column band (the structural-recall argument the
  * audit pins), the banded plan never degenerates to all-pairs, and the
  * per-probe ranking is well-formed. */
class MediaSearchSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("half-bright flips live in exactly one grid column (column-" +
      "major banding => >=3 shared bands with the source)") {
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 2 === 0)
      .select($"doc_id", encode($"text", "UTF-8"))
      .as[(Long, Array[Byte])].filter(_._2.nonEmpty).take(40)
    assert(docs.nonEmpty)
    docs.foreach { case (id, tb) =>
      val base = MediaCodec.encodeBmp(id, tb)
      val probe = MultimodalOps.halfBright(base)
      val h0 = PerceptualHash.dhash(base)
      val h1 = PerceptualHash.dhash(probe)
      assert(h0 != null && h1 != null)
      val diff = h0.longValue ^ h1.longValue
      // changed bit positions k = gy*8 + gx: all share one gx (column)
      val cols = (0 until 64).filter(k => ((diff >>> k) & 1L) == 1L)
        .map(_ & 7).distinct
      assert(cols.size <= 1,
        s"doc $id: flips span columns $cols — the structural-recall " +
          "argument would be broken")
      // and the distance is within the one-flip-per-row envelope
      assert(java.lang.Long.bitCount(diff) <= 8)
    }
  }

  test("the banded search plan is equi-join only (no BNLJ/cartesian), " +
      "with a bounded per-probe top-k heap (no rank window, no sort)") {
    // the audit registers .cache() on exactly this top-k subtree; if it
    // ran earlier in this JVM (e.g. the ScaleTechniquesSpec plan sweep
    // builds every declared query), the plan collapses into an
    // InMemoryTableScan and the shape assertions below see nothing —
    // assert on the UNCACHED plan
    spark.sharedState.cacheManager.clearCache()
    val df = q("q_simsearch_media")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation degenerated to all-pairs")
    // r17: the per-probe ranking is the bounded top_k_pairs heap
    // (grouped aggregate, map-side combinable) — a rank window would
    // sort every probe's full candidate list inside the exchange
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "top-k must be the heap aggregate, not a window")
    assert(plan.contains("top_k_pairs"), "bounded heap aggregate missing")
  }

  test("per-probe ranking is dense from 1, hamming non-decreasing, " +
      "and every probe's source is a candidate") {
    val rows = q("q_simsearch_media").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (pid, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq ===
        (1L to byRank.length).toSeq, s"probe $pid ranks not dense")
      val hs = byRank.map(_.getAs[Long]("hamming")).toSeq
      assert(hs === hs.sorted, s"probe $pid hamming not non-decreasing")
      assert(byRank.length <= MultimodalOps.TopK)
    }
    // the structural guarantee, end to end on the fixture corpus
    val cand = MultimodalOps.searchCand(spark, sf, MultimodalOps.Image)
      .filter($"neighbor_id" === $"probe_id" - MultimodalOps.ProbeOff)
      .count()
    val nProbes = Tables.documents(spark, sf)
      .filter($"doc_id" % 6 === 0 && length($"text") > 0).count()
    assert(cand === nProbes, "a probe lost its source from the candidates")
  }

  test("persisted-index search == per-run rebuild, the maintain pass is " +
      "file-incremental, and the search plan reads the index artifact") {
    spark.sharedState.cacheManager.clearCache()
    // file-level incrementality on a scratch store: base files must be
    // byte-untouched by the delta maintain pass
    val base = java.nio.file.Paths.get("target", "test-media-index")
      .toAbsolutePath
    graft.Fs.deleteRecursively(base)
    def md5s(): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
      walk(base.toFile).map { f =>
        f.getAbsolutePath -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Image, base.toString)
    val gen0 = md5s()
    assert(gen0.nonEmpty && gen0.keySet.forall(_.contains("gen=0")))
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Image,
      base.toString)
    val after = md5s()
    gen0.foreach { case (p, sig) =>
      assert(after.get(p) === Some(sig), s"base index file rewritten: $p")
    }
    assert((after.keySet -- gen0.keySet).forall(_.contains("gen=1")))
    // the union of generations covers the whole index exactly once
    val nIdx = Tables.documents(spark, sf).filter($"doc_id" % 2 === 0)
      .count()
    assert(spark.read.parquet(base.toString)
      .select($"media_id").distinct().count() === nIdx)
    // search-over-index is row-for-row the per-run rebuild
    val indexed = q("q_simsearch_media_index").collect().toSeq
    val rebuilt = q("q_simsearch_media").collect().toSeq
    assert(indexed.nonEmpty && indexed === rebuilt)
    // and the plan proves the index is what is read: a parquet scan on
    // the index artifact, no scan of the documents corpus on the
    // neighbor side (probes still read the corpus — they ARE the query)
    val scans = q("q_simsearch_media_index").queryExecution.sparkPlan
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("Location", "")
      }
    assert(scans.exists(_.contains("media_band_index")),
      "indexed search does not scan the persisted index")
  }

  test("stream-maintained index search == per-run rebuild, covers every " +
      "batch, and a replayed batch collapses under the distinct read") {
    spark.sharedState.cacheManager.clearCache()
    val streamed = q("q_stream_media_index").collect().toSeq
    val rebuilt = q("q_simsearch_media").collect().toSeq
    assert(streamed.nonEmpty && streamed === rebuilt)
    // the log really is per-micro-batch increments: >= 2 generations,
    // and every even doc's signature landed in exactly one
    val log = spark.read.parquet(
      MultimodalOps.streamMediaIndexLog(spark, sf))
    assert(log.select($"gen").distinct().count() >= 2L,
      "stream index log has a single generation — not incremental")
    val nIdx = Tables.documents(spark, sf).filter($"doc_id" % 2 === 0)
      .count()
    assert(log.select($"media_id").distinct().count() === nIdx)
    assert(log.groupBy($"media_id")
      .agg(countDistinct($"gen").as("g")).filter($"g" > 1).count() === 0L,
      "a media id landed in more than one generation")
    // at-least-once replay: re-append one batch's rows verbatim; the
    // declared search result must not change (distinct collapse)
    val scratch = java.nio.file.Paths.get("target", "test-stream-media-idx")
      .toAbsolutePath
    graft.Fs.deleteRecursively(scratch)
    org.apache.spark.sql.functions.lit(1) // keep import used
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    MultimodalOps.streamMediaIndexBatch(docs.toDF(), 0L, scratch.toString)
    val once = spark.read.parquet(scratch.toString).count()
    MultimodalOps.streamMediaIndexBatch(docs.toDF(), 0L, scratch.toString)
    val log2 = spark.read.parquet(scratch.toString)
    assert(log2.count() === 2 * once, "replay should append row-identical data")
    assert(log2.select($"media_id", $"ph", $"band", $"bkey").distinct()
      .count() === once, "replayed rows must collapse under distinct")
  }

  test("index forget: bounded blast radius (gen-1-only delete leaves " +
      "gen-0 files byte-identical) and deleted ids vanish from the index") {
    val base = java.nio.file.Paths.get("target", "test-media-index-forget")
      .toAbsolutePath
    graft.Fs.deleteRecursively(base)
    def md5s(): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
      walk(base.toFile).map { f =>
        f.getAbsolutePath -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Image, base.toString)
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Image,
      base.toString)
    val before = md5s()
    // delete set confined to generation 1 (the HoldoutMod slice): the
    // layout rule says ONLY gen=1 may rewrite
    val pred = $"doc_id" % graft.operators.BpeOps.HoldoutMod === 0 &&
      $"doc_id" % 5 === 0
    val deleted = Tables.documents(spark, sf)
      .filter($"doc_id" % 2 === 0).filter(pred)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "fixture delete set is empty — vacuous")
    MultimodalOps.forgetIndex(spark, sf, MultimodalOps.Image,
      base.toString, pred)
    val after = md5s()
    before.filter(_._1.contains("gen=0")).foreach { case (p, sig) =>
      assert(after.get(p) === Some(sig),
        s"gen-0 file rewritten by a gen-1-only delete: $p")
    }
    // deleted ids gone, survivors complete
    val left = spark.read.parquet(base.toString)
      .select($"media_id").distinct().collect().map(_.getLong(0)).toSet
    assert(deleted.forall(!left.contains(_)), "a deleted id survived")
    val expected = Tables.documents(spark, sf)
      .filter($"doc_id" % 2 === 0).filter(!pred)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(left === expected, "survivor set diverges")
  }
}
