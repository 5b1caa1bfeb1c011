package graft

import graft.functions.{AudioHash, MediaCodec}
import graft.operators.{GenerationLayout, MultimodalOps}

/** q_simsearch_audio contract: volume halving only clears fingerprint
  * bits (never sets them), the banded plan never degenerates to
  * all-pairs, and the per-probe ranking is well-formed. */
class AudioSearchSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("volume halving only flips bits 1->0 (a > b implies a/2 >= b/2), " +
      "so probe distance is bounded by the source popcount") {
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 2 === 1)
      .select($"doc_id", encode($"text", "UTF-8"))
      .as[(Long, Array[Byte])].filter(_._2.nonEmpty).take(40)
    assert(docs.nonEmpty)
    docs.foreach { case (id, tb) =>
      val base = MediaCodec.encodeWav(id, tb)
      val half = MultimodalOps.halfVolume(base)
      val h0 = AudioHash.ahash(base)
      val h1 = AudioHash.ahash(half)
      assert(h0 != null && h1 != null)
      // every set bit of the halved hash was set in the source hash
      assert((h1.longValue & ~h0.longValue) === 0L,
        s"doc $id: halving SET a comparison bit — monotonicity broken")
    }
  }

  test("the banded audio-search plan is equi-join only, with a " +
      "bounded per-probe top-k heap (no rank window, no sort)") {
    // assert on the UNCACHED plan — the audit's .cache() registration
    // on this exact top-k subtree otherwise collapses it into an
    // InMemoryTableScan (see MediaSearchSpec)
    spark.sharedState.cacheManager.clearCache()
    val df = q("q_simsearch_audio")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation degenerated to all-pairs")
    // r17: per-probe ranking = bounded top_k_pairs heap, not a window
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "top-k must be the heap aggregate, not a window")
    assert(plan.contains("top_k_pairs"), "bounded heap aggregate missing")
  }

  test("per-probe ranking is dense from 1 with non-decreasing hamming, " +
      "and low-distance probes find their source (pigeonhole)") {
    val rows = q("q_simsearch_audio").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (pid, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq ===
        (1L to byRank.length).toSeq, s"probe $pid ranks not dense")
      val hs = byRank.map(_.getAs[Long]("hamming")).toSeq
      assert(hs === hs.sorted)
    }
    // pigeonhole over 4×16 bands: a probe whose true source distance is
    // <= 3 MUST have the source among its candidates
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 2 === 1)
      .select($"doc_id", encode($"text", "UTF-8"))
      .as[(Long, Array[Byte])].filter(t => t._1 % 6 == 3 && t._2.nonEmpty)
      .collect()
    // the candidate stream is the right place to assert recall — top-k
    // may legitimately displace a source behind 5 closer neighbors
    val cand = MultimodalOps.searchCand(spark, sf, MultimodalOps.Audio)
      .select($"probe_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    var checked = 0
    docs.foreach { case (id, tb) =>
      val base = MediaCodec.encodeWav(id, tb)
      val h0 = AudioHash.ahash(base).longValue
      val h1 = AudioHash.ahash(MultimodalOps.halfVolume(base)).longValue
      if (java.lang.Long.bitCount(h0 ^ h1) <= 3) {
        checked += 1
        assert(cand.contains((id + MultimodalOps.ProbeOff, id)),
          s"probe of doc $id at hamming <= 3 lost its source")
      }
    }
    assert(checked > 0, "no low-distance probes in the fixture — vacuous")
  }

  test("persisted-index audio search == per-run rebuild, maintain pass " +
      "file-incremental, plan reads the index artifact") {
    spark.sharedState.cacheManager.clearCache()
    val base = java.nio.file.Paths.get("target", "test-audio-index")
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
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Audio, base.toString)
    val gen0 = md5s()
    assert(gen0.nonEmpty && gen0.keySet.forall(_.contains("gen=0")))
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Audio,
      base.toString)
    val after = md5s()
    gen0.foreach { case (p, sig) =>
      assert(after.get(p) === Some(sig), s"base index file rewritten: $p")
    }
    val deltaFiles = after.keySet -- gen0.keySet
    assert(deltaFiles.nonEmpty && deltaFiles.forall(_.contains("gen=1")),
      "audio delta generation is empty — the incremental claim is vacuous")
    import org.apache.spark.sql.functions._
    val nIdx = Tables.documents(spark, sf).filter($"doc_id" % 2 === 1)
      .count()
    assert(spark.read.parquet(base.toString)
      .select($"media_id").distinct().count() === nIdx)
    val indexed = q("q_simsearch_audio_index").collect().toSeq
    assert(indexed.nonEmpty &&
      indexed === q("q_simsearch_audio").collect().toSeq)
    val scans = q("q_simsearch_audio_index").queryExecution.sparkPlan
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("Location", "")
      }
    assert(scans.exists(_.contains("audio_band_index")),
      "indexed audio search does not scan the persisted index")
  }

  test("audio index forget: gen-1-only delete leaves gen-0 files " +
      "byte-identical and deleted ids vanish") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Paths.get("target", "test-audio-index-forget")
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
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Audio, base.toString)
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Audio,
      base.toString)
    val before = md5s()
    // confined to generation 1 (the audio delta slice), a strict subset
    val pred = GenerationLayout.AudioIndex.isDelta($"doc_id") && $"doc_id" % 3 === 0
    val deleted = Tables.documents(spark, sf)
      .filter($"doc_id" % 2 === 1).filter(pred)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "fixture delete set is empty — vacuous")
    MultimodalOps.forgetIndex(spark, sf, MultimodalOps.Audio,
      base.toString, pred)
    val after = md5s()
    before.filter(_._1.contains("gen=0")).foreach { case (p, sig) =>
      assert(after.get(p) === Some(sig),
        s"gen-0 file rewritten by a gen-1-only delete: $p")
    }
    val left = spark.read.parquet(base.toString)
      .select($"media_id").distinct().collect().map(_.getLong(0)).toSet
    assert(deleted.forall(!left.contains(_)), "a deleted id survived")
    assert(left === Tables.documents(spark, sf)
      .filter($"doc_id" % 2 === 1).filter(!pred)
      .select($"doc_id").collect().map(_.getLong(0)).toSet)
  }
}
