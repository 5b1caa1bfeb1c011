package graft

import graft.operators.{BpeOps, GenerationLayout, ShardOps}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** q_stream_pipeline_forget contract: blast radius = exactly the
  * (shard, generation) partitions the delete set touches (every other
  * partition byte-identical), generation offsets frozen at append-time
  * values, the surviving token stream intact token-by-token, and the
  * partitioned micro-batch append idempotent under at-least-once
  * replay. */
class StreamStoreForgetSpec extends SparkTestBase {
  import spark.implicits._

  private def partitionOf(rel: String): String =
    rel.split('/').dropRight(1).mkString("/")

  test("a one-shard delete rewrites exactly that shard's touched " +
      "generations; every other partition stays byte-identical, and " +
      "BOTH generations are genuinely hit (the parity trap)") {
    val pristine = java.nio.file.Paths
      .get(StreamingOps.streamPipelineStore(spark, sf))
    val before = TestFs.crcByFile(pristine)
    val sp = StreamingOps.pipeMidpoint(spark, sf)
    // ids ≡ 4 (mod 16): all live in shard 4, but ids ≡ 12 (mod 16)
    // survive there — a PARTIAL rewrite of both generations, not the
    // whole-shard directory drop (%8==4 would delete the entire shard)
    val pred = col("doc_id") % (2L * ShardOps.NShards) === 4
    // the delete set must be non-vacuous in BOTH generations or the
    // frozen-offset path is silently untested (the vacuous-delta class
    // GenerationLayout records: ea3ed50)
    val kept = StreamingOps.pipelineKeptDocs(spark, sf)
    val byGen = kept.filter(pred)
      .groupBy(GenerationLayout.streamGenOf($"doc_id", sp).as("gen"))
      .count().as[(Long, Long)].collect().toMap
    assert(byGen.keySet === Set(0L, 1L),
      s"fixture delete set hits generations ${byGen.keySet} only")
    StreamingOps.forgetStreamVariant(spark, sf,
      "stream_pipe_store_spec", pred).count()
    val dir = graft.Fs.artifactDir("stream_pipe_store_spec", sf)
    val after = TestFs.crcByFile(dir)
    val expectTouched = Set("shard=4/gen=0", "shard=4/gen=1")
    // untouched partitions: identical relative file sets AND bytes
    // the r16 tombstone log is a NEW hidden artifact, not a partition —
    // excluded from the byte-identity sweep (its content is the delete
    // set, asserted by PeriodicLifecycleSpec's composition law)
    val beforeUn = before.filterNot(kv => expectTouched(partitionOf(kv._1))
      || kv._1.startsWith("_tombstones"))
    val afterUn = after.filterNot(kv => expectTouched(partitionOf(kv._1))
      || kv._1.startsWith("_tombstones"))
    assert(afterUn === beforeUn, "untouched partitions changed")
    // touched partitions really were rewritten (content differs)
    expectTouched.foreach { p =>
      val b = before.filter(kv => partitionOf(kv._1) == p)
      val a = after.filter(kv => partitionOf(kv._1) == p)
      assert(a.nonEmpty && a != b, s"$p not rewritten")
    }
  }

  test("post-forget: gen-1 seq offsets frozen at append-time values; " +
      "surviving token stream intact token-by-token per partition") {
    // the declared query builds (copy + forget with the fixture rule)
    val got = q("q_stream_pipeline_forget")
      .select($"shard", $"gen", $"seq_idx", $"ids_str").localCheckpoint()
    val pristine = StreamingOps.streamPipelineStore(spark, sf)
    // frozen offsets: each shard's gen-1 start unchanged from pristine
    val pristineG1 = spark.read.parquet(pristine).filter($"gen" === 1)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(min($"seq_idx").as("s0")).as[(Long, Long)].collect().toMap
    val forgotG1 = got.filter($"gen" === 1)
      .groupBy($"shard").agg(min($"seq_idx").as("s0"))
      .as[(Long, Long)].collect().toMap
    forgotG1.foreach { case (sh, s0) =>
      assert(s0 === pristineG1(sh),
        s"shard $sh gen-1 start moved: $s0 != ${pristineG1(sh)}")
    }
    // token stream: per (shard, gen), store ids in (seq_idx, pos) order
    // == the surviving admitted docs' tokenizer stream in store order
    val sp = StreamingOps.pipeMidpoint(spark, sf)
    val storeToks = got
      .select($"shard", $"gen", $"seq_idx",
        posexplode(split($"ids_str", ",")))
      .toDF("shard", "gen", "seq_idx", "p", "tid")
      .orderBy($"shard", $"gen", $"seq_idx", $"p")
      .select($"shard", $"gen", $"tid".cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    val survDocs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .filter($"doc_id" % ShardOps.ForgetMod =!= ShardOps.ForgetRes)
      .join(StreamingOps.pipelineKeptDocs(spark, sf),
        Seq("doc_id"), "left_semi")
    val wantToks = BpeOps.subwordIdsOf(spark, sf, survDocs)
      .select(GenerationLayout.shardOf($"doc_id").as("shard"),
        GenerationLayout.streamGenOf($"doc_id", sp).as("gen"),
        $"doc_id", $"pos", $"subpos", $"tid")
      .orderBy($"shard", $"gen", $"doc_id", $"pos", $"subpos")
      .select($"shard", $"gen", $"tid".cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(storeToks === wantToks)
  }

  test("the partitioned micro-batch append is idempotent under " +
      "at-least-once replay, and a later batch's offsets ignore the " +
      "replay duplicates") {
    val dir = graft.Fs.artifactDir("stream_pipe_store_replay_spec", sf).toString
    val accept = graft.Fs.artifactDir("stream_pipe_store_replay_accept", sf).toString
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(accept))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StreamingOps.pipeAcceptSchema)
      .coalesce(1).write.mode("overwrite").parquet(accept)
    val sp = StreamingOps.pipeMidpoint(spark, sf)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    def collapsed() = spark.read.parquet(dir)
      .groupBy($"shard".cast("long").as("shard"),
        $"gen".cast("long").as("gen"), $"seq_idx")
      .agg(max($"n_ids").as("n_ids"), max($"ids_str").as("ids_str"))
      .orderBy($"shard", $"gen", $"seq_idx").collect().toSeq
    val b0 = docs.filter($"doc_id" < sp)
    StreamingOps.pipelineBatchImpl(b0, 0L, sf, dir, accept,
      partitioned = true)
    val once = collapsed()
    StreamingOps.pipelineBatchImpl(b0, 0L, sf, dir, accept,
      partitioned = true) // the at-least-once replay
    assert(collapsed() === once, "replayed batch changed the read-back")
    val b1 = docs.filter($"doc_id" >= sp)
    StreamingOps.pipelineBatchImpl(b1, 1L, sf, dir, accept,
      partitioned = true)
    val all = collapsed()
    // gen-1 starts exactly at gen-0's next free row per shard — the
    // offsets ignored the duplicate gen-0 files
    val g0max = all.filter(_.getLong(1) == 0L).groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).max).toMap
    val g1min = all.filter(_.getLong(1) == 1L).groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).min).toMap
    g1min.foreach { case (sh, mn) =>
      assert(mn === g0max(sh) + 1L, s"shard $sh: gen-1 starts at $mn, " +
        s"gen-0 ends at ${g0max(sh)}")
    }
  }
}
