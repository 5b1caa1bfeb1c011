package graft

import graft.operators.ShardOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** q_stream_pipeline_forget_compacted contract: RTBF on a COMPACTED
  * stream store is a source-replay re-merge of ONLY the touched
  * shards.
  *  - forget∘compact ≡ compact∘forget (the declared oracle's basis),
  *    pinned end-to-end against the proven uncompacted forget path;
  *  - untouched shards keep every file byte-identical;
  *  - the stage + `_forget_committed` marker protocol survives an
  *    injected crash at EVERY window (before the marker the store is
  *    untouched and the delete simply has not happened yet; after it,
  *    a same-delete retry completes the install without data loss);
  *  - a shard whose every doc was deleted is wiped (the empty-stage
  *    tracking), and its crash windows replay too;
  *  - a delete that also touches POST-compact batch generations pays
  *    the re-merge only for the merged region — the batch generations
  *    get the existing bounded frozen-offset rewrite.
  */
class StreamStoreForgetCompactSpec extends SparkTestBase {
  import spark.implicits._

  private val predOneShard =
    col("doc_id") % 16 === 4 // partial delete, lands only in shard 4
  private val predTwoShards =
    (col("doc_id") % 8 === 3) || (col("doc_id") % 16 === 4)

  private def view(dir: String) =
    StreamingOps.compactedStreamView(spark, dir)
      .orderBy($"shard", $"seq_idx").collect().toSeq

  private def viewToks(dir: String): Seq[(Long, Long)] =
    StreamingOps.compactedStreamView(spark, dir)
      .select($"shard", $"seq_idx", posexplode(split($"ids_str", ",")))
      .toDF("shard", "seq_idx", "p", "tid")
      .orderBy($"shard", $"seq_idx", $"p")
      .select($"shard", $"tid".cast("long"))
      .as[(Long, Long)].collect().toSeq

  private def freshCompacted(name: String): java.nio.file.Path = {
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    val dir = graft.Fs.artifactDir(name, sf)
    graft.Fs.deleteRecursively(dir)
    graft.Fs.copyRecursively(pristine, dir)
    StreamingOps.compactStreamStore(spark, dir.toString)
    dir
  }

  /** The commutative twin: forget FIRST (the proven uncompacted
    * rewrite), THEN compact — the post-delete truth the compacted
    * forget must reproduce. */
  private def forgetThenCompact(name: String,
      pred: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Row] = {
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    val dir = graft.Fs.artifactDir(name, sf)
    graft.Fs.deleteRecursively(dir)
    graft.Fs.copyRecursively(pristine, dir)
    StreamingOps.forgetStreamStore(spark, sf, dir.toString, pred)
    StreamingOps.compactStreamStore(spark, dir.toString)
    view(dir.toString)
  }

  /** Data files of the shards the delete does NOT touch (root-level
    * protocol files — markers, the stage — are excluded: they appear
    * and disappear mid-protocol by design). */
  private def untouchedFiles(dir: java.nio.file.Path,
      touched: Set[Long]): Map[String, Long] =
    TestFs.crcByFile(dir).filter { case (rel, _) =>
      rel.startsWith("shard=") &&
        !touched.exists(sh => rel.startsWith(s"shard=$sh/"))
    }

  test("compact then forget == forget then compact; only the touched " +
      "shard is rewritten; stage and marker are cleaned up") {
    // the delete set must be non-vacuous AND leave survivors in the
    // shard it touches (the vacuous-split trap)
    val kept = StreamingOps.pipelineKeptDocs(spark, sf)
    assert(kept.filter(predOneShard).count() > 0)
    assert(kept.filter(col("doc_id") % 8 === 4)
      .filter(!predOneShard).count() > 0)
    val dir = freshCompacted("stream_forget_compacted_commute")
    val before = untouchedFiles(dir, Set(4L))
    StreamingOps.forgetStreamStore(spark, sf, dir.toString, predOneShard)
    assert(untouchedFiles(dir, Set(4L)) === before,
      "an untouched shard's files changed under the compacted forget")
    assert(view(dir.toString) ===
      forgetThenCompact("stream_forget_compacted_commute_twin",
        predOneShard),
      "compacted forget diverges from forget-then-compact")
    assert(!java.nio.file.Files.exists(dir.resolve("_forget_committed")))
    assert(!java.nio.file.Files.exists(dir.resolve("_forget_stage")))
    // idempotent re-delete: same pred again is a no-op on the view
    val settled = view(dir.toString)
    StreamingOps.forgetStreamStore(spark, sf, dir.toString, predOneShard)
    assert(view(dir.toString) === settled)
  }

  test("every injected crash window replays safely on a same-delete " +
      "retry; before the marker the store serves the pre-delete view") {
    val expected = forgetThenCompact("stream_forget_compacted_crash_twin",
      predTwoShards)
    for (at <- Seq("pre_marker", "post_marker", "dropped_3",
        "installed_3")) {
      val dir = freshCompacted(s"stream_forget_compacted_crash_$at")
      val preDelete = view(dir.toString)
      val beforeFiles = untouchedFiles(dir, Set(3L, 4L))
      val ex = intercept[IllegalStateException] {
        StreamingOps.forgetCompactedStore(spark, sf, dir.toString,
          predTwoShards, crashAt = Some(at))
      }
      assert(ex.getMessage.contains(at))
      if (at == "pre_marker") {
        assert(!java.nio.file.Files.exists(dir.resolve("_forget_committed")))
        assert(view(dir.toString) === preDelete,
          "pre-marker crash already changed the served store")
      }
      assert(untouchedFiles(dir, Set(3L, 4L)) === beforeFiles,
        s"crash at $at touched an unrelated shard")
      // retry of the same delete completes the protocol
      StreamingOps.forgetCompactedStore(spark, sf, dir.toString,
        predTwoShards)
      assert(view(dir.toString) === expected,
        s"retry after crash at $at lost data")
      assert(!java.nio.file.Files.exists(dir.resolve("_forget_committed")))
      assert(!java.nio.file.Files.exists(dir.resolve("_forget_stage")))
    }
  }

  test("a shard whose every doc is deleted is wiped — including across " +
      "a post-marker crash (the empty-stage tracking)") {
    val wipe = col("doc_id") % 8 === 3
    val expected = forgetThenCompact("stream_forget_compacted_wipe_twin",
      wipe)
    assert(!expected.exists(_.getLong(0) == 3L))
    val dir = freshCompacted("stream_forget_compacted_wipe")
    intercept[IllegalStateException] {
      StreamingOps.forgetCompactedStore(spark, sf, dir.toString, wipe,
        crashAt = Some("post_marker"))
    }
    StreamingOps.forgetCompactedStore(spark, sf, dir.toString, wipe)
    assert(view(dir.toString) === expected)
    assert(!TestFs.crcByFile(dir).keys.exists(_.startsWith("shard=3/")),
      "wiped shard still has data files")
  }

  test("a delete spanning the merged region AND a post-compact batch: " +
      "the batch generation keeps the bounded frozen-offset rewrite, " +
      "never the replay re-merge") {
    // store lifecycle: batch 0 lands -> compact (target Base+0) ->
    // batch 1 lands AFTER compaction -> the delete arrives
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    val dir = graft.Fs.artifactDir("stream_forget_compacted_post", sf)
    graft.Fs.deleteRecursively(dir)
    graft.Fs.copyRecursively(pristine, dir)
    TestFs.crcByFile(dir).keys.filter(_.contains("gen=1/"))
      .map(_.split("/gen=1/")(0)).toSet[String]
      .foreach(sh => graft.Fs.deleteRecursively(
        dir.resolve(sh).resolve("gen=1")))
    StreamingOps.compactStreamStore(spark, dir.toString)
    val t0 = StreamingOps.CompactedGenBase
    assert(TestFs.crcByFile(dir).keys.exists(_.contains(s"gen=$t0/")))
    // batch 1 "arrives" post-compact: restore its pristine partitions
    TestFs.crcByFile(pristine).keys.filter(_.contains("gen=1/"))
      .foreach { rel =>
        val dst = dir.resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(pristine.resolve(rel), dst)
      }
    // frozen starts of the post-compact generation, pre-delete
    val gen1Start = spark.read.parquet(dir.toString)
      .filter($"gen".cast("long") === 1L)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(min($"seq_idx").as("mn"))
      .as[(Long, Long)].collect().toMap
    val pred = col("doc_id") % ShardOps.ForgetMod === ShardOps.ForgetRes
    StreamingOps.forgetStreamStore(spark, sf, dir.toString, pred)
    // gen-1 partitions still exist as BATCH generations at their
    // frozen starts (rewritten in place, not absorbed into the merge)
    val gen1After = spark.read.parquet(dir.toString)
      .filter($"gen".cast("long") === 1L)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(min($"seq_idx").as("mn"))
      .as[(Long, Long)].collect().toMap
    assert(gen1After.nonEmpty, "post-compact batch generation vanished")
    gen1After.foreach { case (sh, mn) =>
      assert(mn === gen1Start(sh),
        s"shard $sh post-compact batch lost its frozen start")
    }
    // the view equals the admitted-survivor stream: per shard the
    // merged region's survivors then the batch's survivors, in
    // admission order
    val sp = StreamingOps.pipeMidpoint(spark, sf)
    val kept = StreamingOps.pipelineKeptDocs(spark, sf)
    val surv = Tables.documents(spark, sf).select($"doc_id", $"text")
      .join(kept, Seq("doc_id"), "left_semi")
      .filter(!pred)
    val want = graft.operators.BpeOps
      .subwordIdsOf(spark, sf, surv)
      .withColumn("shard",
        graft.operators.GenerationLayout.shardOf($"doc_id"))
      .withColumn("bgen",
        graft.operators.GenerationLayout.streamGenOf($"doc_id", sp))
      .orderBy($"shard", $"bgen", $"doc_id", $"pos", $"subpos")
      .select($"shard", $"tid".cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(viewToks(dir.toString) === want,
      "mixed merged+batch forget diverges from the survivor stream")
  }
}
