package graft

import graft.operators.{GenerationLayout, ShardOps}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** q_stream_pipeline_compact contract (hardened twice by the r15
  * adversarial reviews; FLAT-COST redesign r16): gen-0 files
  * byte-untouched; superseded batch generations vacuumed; PERIODIC
  * cycles preserve every earlier merge's files BYTE-IDENTICAL (the
  * flat-cost witness: a cycle re-packs only the previous run's tail
  * rows + the new batches, never an earlier merge's full rows); the
  * commit marker makes every crash window safe — including the
  * mid-vacuum window whose partial sources must never feed a
  * re-merge, and the ADVICE r15 window where an UNMARKED (partial)
  * merge is crash debris that must never be served, used as a source,
  * or cause sources to be vacuumed; a batch replayed AFTER its
  * generation was vacuumed is vacuumed again, never re-merged; the
  * view between cycles includes batches newer than the merge.
  * (RTBF on a compacted store: StreamStoreForgetCompactSpec.) */
class StreamStoreCompactSpec extends SparkTestBase {
  import spark.implicits._

  private def view(dir: String) =
    StreamingOps.compactedStreamView(spark, dir)
      .orderBy($"shard", $"seq_idx").collect().toSeq

  /** The view's token stream per shard, in address order. */
  private def viewToks(dir: String): Seq[(Long, Long)] =
    StreamingOps.compactedStreamView(spark, dir)
      .select($"shard", $"seq_idx", posexplode(split($"ids_str", ",")))
      .toDF("shard", "seq_idx", "p", "tid")
      .orderBy($"shard", $"seq_idx", $"p")
      .select($"shard", $"tid".cast("long"))
      .as[(Long, Long)].collect().toSeq

  private def freshCopy(name: String): java.nio.file.Path = {
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    val dir = graft.Fs.artifactDir(name, sf)
    graft.Fs.deleteRecursively(dir)
    graft.Fs.copyRecursively(pristine, dir)
    dir
  }

  private def restoreGen1(dir: java.nio.file.Path,
      onlyShard: Option[Long]): Unit = {
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    TestFs.crcByFile(pristine).keys
      .filter(_.contains("gen=1/"))
      .filter(rel => onlyShard.forall(sh => rel.startsWith(s"shard=$sh/")))
      .foreach { rel =>
        val dst = dir.resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(pristine.resolve(rel), dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
  }

  test("single cycle: gen-0 files byte-identical, sources vacuumed, " +
      "further compact is a file-untouched no-op; a post-vacuum replay " +
      "of the WHOLE merged batch is vacuumed, never re-merged; so is " +
      "the mid-vacuum crash's one-shard remnant") {
    val dir = freshCopy("stream_pipe_store_compact_spec")
    val gen0Before = TestFs.crcByFile(dir).filter(_._1.contains("gen=0"))
    StreamingOps.compactStreamStore(spark, dir.toString)
    val after = TestFs.crcByFile(dir)
    assert(after.filter(_._1.contains("gen=0")) === gen0Before,
      "gen-0 files changed under compaction")
    assert(!after.keys.exists(_.contains("gen=1/")),
      "source generation not vacuumed")
    val t1 = StreamingOps.CompactedGenBase + 1L
    assert(after.keys.exists(_.contains(s"gen=$t1")), "merge missing")
    val v1 = view(dir.toString)
    assert(v1.nonEmpty)
    val tails = v1.groupBy(_.getLong(0)).values.map(rs =>
      rs.count(_.getLong(2) != ShardOps.SeqLen.toLong))
    assert(tails.forall(_ <= 1), "more than one under-filled row per shard")
    val mergeFiles = after.filter(_._1.contains(s"gen=$t1"))
    // POST-VACUUM REPLAY (the second review's data-loss window): the
    // whole batch-1 generation re-appears; it is already covered by
    // the merge, so compact must vacuum it WITHOUT touching the merge
    restoreGen1(dir, None)
    StreamingOps.compactStreamStore(spark, dir.toString)
    assert(view(dir.toString) === v1, "replay leftover corrupted the view")
    assert(!TestFs.crcByFile(dir).keys.exists(_.contains("gen=1/")))
    assert(TestFs.crcByFile(dir).filter(_._1.contains(s"gen=$t1"))
      === mergeFiles, "merge files rewritten for a replay leftover")
    // MID-VACUUM CRASH: only one shard's source remnant survives; a
    // re-merge from it would overwrite the good merge with that
    // shard's partial content (the first review's scenario)
    restoreGen1(dir, Some(0L))
    StreamingOps.compactStreamStore(spark, dir.toString)
    assert(view(dir.toString) === v1, "partial remnant fed a re-merge")
    assert(!TestFs.crcByFile(dir).keys.exists(_.contains("gen=1/")))
    // already-compacted store: a further run is a no-op, files untouched
    val settled = TestFs.crcByFile(dir)
    StreamingOps.compactStreamStore(spark, dir.toString)
    assert(TestFs.crcByFile(dir) === settled, "no-op compact touched files")
  }

  test("crash before the commit marker leaves an unmarked PARTIAL " +
      "merge: never served by the view, never a content source, never " +
      "grounds to vacuum the (intact) sources; the retry vacuums the " +
      "debris and heals by a full re-pack (ADVICE r15 high)") {
    val dir = freshCopy("stream_pipe_store_compact_debris")
    val uncompacted = view(dir.toString)
    StreamingOps.compactStreamStore(spark, dir.toString)
    val v1 = view(dir.toString)
    val t1 = StreamingOps.CompactedGenBase + 1L
    // manufacture the window: target written but PARTIAL (one shard's
    // partition dropped mid-commit), sources intact (vacuum never
    // started — restore them), marker never written
    java.nio.file.Files.delete(dir.resolve(s"_merge_committed_$t1"))
    graft.Fs.deleteRecursively(dir.resolve("shard=0").resolve(s"gen=$t1"))
    restoreGen1(dir, None)
    // the partial unmarked merge must be invisible: the view falls
    // back to the intact uncompacted store
    assert(view(dir.toString) === uncompacted,
      "debris merge leaked into the served view")
    // retry: debris vacuumed, re-pack from the intact sources — the
    // healed store equals the clean first compaction
    StreamingOps.compactStreamStore(spark, dir.toString)
    assert(view(dir.toString) === v1, "retry did not heal the debris")
    assert(java.nio.file.Files.exists(dir.resolve(s"_merge_committed_$t1")))
    assert(!TestFs.crcByFile(dir).keys.exists(_.contains("gen=1/")),
      "sources not vacuumed after the healed re-pack")
  }

  test("periodic cycles: compact -> append batch 2 (replay-duplicated " +
      "in-window) -> view already serves it -> compact again keeps " +
      "every earlier merge BYTE-IDENTICAL (flat per-cycle cost) and " +
      "equals the admitted stream; a third cycle repeats the proof") {
    val dir = freshCopy("stream_pipe_store_compact_cycles")
    val accept = graft.Fs.artifactDir("stream_pipe_store_compact_cycles_accept", sf)
    graft.Fs.deleteRecursively(accept)
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StreamingOps.pipeAcceptSchema)
      .coalesce(1).write.mode("overwrite").parquet(accept.toString)
    StreamingOps.compactStreamStore(spark, dir.toString) // cycle 1
    val cycle1Toks = viewToks(dir.toString)
    // batch 2: fresh ids beyond the corpus (disjoint from batches 0/1),
    // synthesized from real texts so the frozen tokenizer applies
    val sp = StreamingOps.pipeMidpoint(spark, sf)
    val kept = StreamingOps.pipelineKeptDocs(spark, sf)
    val base = Tables.documents(spark, sf).select($"doc_id", $"text")
      .join(kept, Seq("doc_id"), "left_semi")
    val b2 = base.filter($"doc_id" < 50)
      .select(($"doc_id" + 4L * sp).as("doc_id"), $"text")
      .localCheckpoint()
    assert(b2.count() > 0)
    StreamingOps.pipelineBatchImpl(b2, 2L, sf, dir.toString,
      accept.toString, partitioned = true)
    StreamingOps.pipelineBatchImpl(b2, 2L, sf, dir.toString,
      accept.toString, partitioned = true) // in-window replay duplicate
    // the view BETWEEN cycles must already include batch 2 (the
    // second review's stale-read finding)
    val fed = base.unionAll(b2)
      .withColumn("bgen",
        when($"doc_id" >= 4L * sp, 2L)
          .otherwise(GenerationLayout.streamGenOf($"doc_id", sp)))
    val want = graft.operators.BpeOps
      .subwordIdsOf(spark, sf, fed.select($"doc_id", $"text"))
      .join(fed.select($"doc_id", $"bgen"), Seq("doc_id"))
      .select(GenerationLayout.shardOf($"doc_id").as("shard"),
        $"bgen", $"doc_id", $"pos", $"subpos", $"tid")
      .orderBy($"shard", $"bgen", $"doc_id", $"pos", $"subpos")
      .select($"shard", $"tid".cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(viewToks(dir.toString) === want,
      "between-cycles view misses the newest batch")
    val t1 = StreamingOps.CompactedGenBase + 1L
    val merge1Files = TestFs.crcByFile(dir).filter(_._1.contains(s"gen=$t1"))
    StreamingOps.compactStreamStore(spark, dir.toString) // cycle 2
    val got = viewToks(dir.toString)
    // earlier merge intact: cycle-1 tokens are a per-shard PREFIX
    val got1 = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    cycle1Toks.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .foreach { case (sh, toks) =>
        assert(got1(sh).take(toks.size) === toks,
          s"shard $sh lost cycle-1 tokens in cycle 2")
      }
    assert(got === want, "cycle-2 view diverges from the admitted stream")
    // FLAT COST: cycle 2's re-pack input is merge-1's tail rows + batch
    // 2 only — merge-1's files must come through byte-identical (its
    // tail row is shadowed at read, not rewritten)
    assert(TestFs.crcByFile(dir).filter(_._1.contains(s"gen=$t1"))
      === merge1Files, "cycle 2 rewrote the earlier merge's files")
    assertDefragged(dir.toString)
    // cycle 3: one more batch, one more merge — the earlier merges
    // stay byte-identical again (tier growth is additive, never a
    // re-pack of history)
    val b3 = base.filter($"doc_id" >= 50 && $"doc_id" < 100)
      .select(($"doc_id" + 8L * sp).as("doc_id"), $"text")
      .localCheckpoint()
    assert(b3.count() > 0)
    StreamingOps.pipelineBatchImpl(b3, 3L, sf, dir.toString,
      accept.toString, partitioned = true)
    val t2 = StreamingOps.CompactedGenBase + 2L
    val settled2 = TestFs.crcByFile(dir)
      .filter(p => p._1.contains(s"gen=$t1") || p._1.contains(s"gen=$t2"))
    StreamingOps.compactStreamStore(spark, dir.toString) // cycle 3
    assert(TestFs.crcByFile(dir)
      .filter(p => p._1.contains(s"gen=$t1") || p._1.contains(s"gen=$t2"))
      === settled2, "cycle 3 rewrote an earlier merge's files")
    val fed3 = fed.unionAll(b3.withColumn("bgen", lit(3L)))
    val want3 = graft.operators.BpeOps
      .subwordIdsOf(spark, sf, fed3.select($"doc_id", $"text"))
      .join(fed3.select($"doc_id", $"bgen"), Seq("doc_id"))
      .select(GenerationLayout.shardOf($"doc_id").as("shard"),
        $"bgen", $"doc_id", $"pos", $"subpos", $"tid")
      .orderBy($"shard", $"bgen", $"doc_id", $"pos", $"subpos")
      .select($"shard", $"tid".cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(viewToks(dir.toString) === want3,
      "cycle-3 view diverges from the admitted stream")
    assertDefragged(dir.toString)
  }

  /** The one-pass-pack shape: per shard the view's addresses are
    * exactly 0..n-1 (global contiguity survives every cycle) and at
    * most the LAST row is under-filled. */
  private def assertDefragged(dir: String): Unit = {
    view(dir).groupBy(_.getLong(0)).foreach { case (sh, rows) =>
      val seqs = rows.map(_.getLong(1)).sorted
      assert(seqs === (0L until seqs.size.toLong).toSeq,
        s"shard $sh view addresses not contiguous from 0")
      val under = rows.sortBy(_.getLong(1))
        .map(_.getLong(2)).zipWithIndex
        .filter(_._1 != ShardOps.SeqLen.toLong).map(_._2)
      assert(under.forall(_ == rows.size - 1),
        s"shard $sh has an interior under-filled row")
    }
  }
}
