package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.operators.{BpeOps, DedupOps, ShardOps, TextOps}
import graft.streaming.StreamingOps

/** q_stream_pipeline contracts (VERDICT r12 task 5): exactly-once across
  * a mid-corpus stop/restart (the SourceSinkSpec two-phase pattern),
  * idempotent batch replay, and content equivalence with the batch
  * tokenize→pack path. */
class StreamPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val result = q("q_stream_pipeline").collect()

  /** Batch reference: kept docs (quality pass + min-doc_id-per-hash
    * dedup) tokenized and ordered — the pipeline's semantic ground
    * truth, computed without any streaming machinery. */
  private lazy val batchKept = {
    val (n, raw) = TextOps.modelRawScore($"text")
    val pass = Tables.documents(spark, sf)
      .select($"doc_id", $"text", n.as("n_grams"), raw.as("raw"))
      .filter(TextOps.modelScore($"n_grams", $"raw") >=
        lit(0).cast("decimal(38,6)"))
      .select($"doc_id", $"text", md5(DedupOps.normText).as("h"))
    pass.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"h").orderBy($"doc_id")))
      .filter($"rn" === 1).select($"doc_id", $"text")
  }

  test("streamed shards carry exactly the batch tokenize+pack content " +
      "per shard (row boundaries generation-aligned)") {
    // streamed: per-shard id stream concatenated over (gen, seq_idx)
    val streamed = result
      .groupBy(_.getAs[Long]("shard"))
      .map { case (shard, rs) =>
        shard -> rs.sortBy(r => (r.getAs[Long]("gen"), r.getAs[Long]("seq_idx")))
          .map(_.getAs[String]("ids_str")).mkString(",")
      }
    // batch: same kept docs, one pass, per-shard (doc_id, pos, subpos)
    val batch = BpeOps.subwordIdsOf(spark, sf, batchKept)
      .withColumn("shard", pmod($"doc_id", lit(ShardOps.NShards.toLong)))
      .groupBy($"shard")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"doc_id", $"pos", $"subpos", $"tid"))),
        x => x.getField("tid").cast("string")), ",").as("stream"))
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[String]("stream"))
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (shard, ids) =>
      assert(ids === batch(shard), s"shard $shard id stream diverges")
    }
    // the gates actually gated: docs were dropped relative to the corpus
    val total = Tables.documents(spark, sf).count()
    assert(batchKept.count() < total, "quality/dedup gates dropped nothing")
  }

  test("a replayed micro-batch appends identical rows that collapse away") {
    val base = Paths.get("target", "test-pipe-replay").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val shardLog = base.resolve("shards").toString
    val acceptLog = base.resolve("accept").toString
    StreamingOps.resetPipeLogs(spark, shardLog, acceptLog)
    val batch0 = batchKept.filter($"doc_id" < 100)
    def readBack() = spark.read.parquet(shardLog)
      .groupBy($"shard", $"gen", $"seq_idx")
      .agg(max($"n_ids").as("n_ids"), max($"ids_str").as("ids_str"))
      .orderBy($"shard", $"gen", $"seq_idx").collect().toSeq
    StreamingOps.pipelineBatch(batch0.toDF(), 0L, sf, shardLog, acceptLog)
    val once = readBack()
    StreamingOps.pipelineBatch(batch0.toDF(), 0L, sf, shardLog, acceptLog)
    val twice = readBack()
    assert(once.nonEmpty)
    assert(twice === once, "replay must collapse to the same read-back")
  }

  test("the pipeline is exactly-once across a mid-corpus stop/restart") {
    val base = Paths.get("target", "test-pipe-restart").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    val shardLog = base.resolve("shards").toString
    val acceptLog = base.resolve("accept").toString
    StreamingOps.resetPipeLogs(spark, shardLog, acceptLog)
    // the fixture landing files, low doc_id range first (mtime order)
    val srcDir = new java.io.File(StreamingOps.streamPipeDir(spark, sf))
    val srcFiles = srcDir.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.lastModified).toSeq
    assert(srcFiles.size === 2, "expected the two-file landing fixture")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val (n, raw) = TextOps.modelRawScore($"text")
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landing.toString)
        .select($"doc_id", $"text", n.as("n_grams"), raw.as("raw"))
        .filter(TextOps.modelScore($"n_grams", $"raw") >=
          lit(0).cast("decimal(38,6)"))
        .select($"doc_id", $"text")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            StreamingOps.pipelineBatch(b, id, sf, shardLog, acceptLog)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def copy(f: java.io.File): Unit = Files.copy(f.toPath,
      landing.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING)
    copy(srcFiles.head); drain() // phase 1: low range only
    val phase1 = spark.read.parquet(shardLog)
    assert(phase1.count() > 0)
    assert(phase1.select(max($"gen")).head().getLong(0) === 0L,
      "phase 1 must land only generation 0")
    copy(srcFiles.last); drain() // RESTART: same checkpoint, new file
    // the restarted run's collapsed read-back equals the single-run
    // declared result — no dupes, no loss, same generations
    val restarted = spark.read.parquet(shardLog)
      .groupBy($"shard", $"gen", $"seq_idx")
      .agg(max($"n_ids").as("n_ids"), max($"n_docs").as("n_docs"),
        max($"first_doc").as("first_doc"), max($"last_doc").as("last_doc"),
        max($"ids_str").as("ids_str"))
      .select($"shard", $"gen", $"seq_idx", $"n_ids", $"n_docs",
        $"first_doc", $"last_doc", $"ids_str")
      .orderBy($"shard", $"gen", $"seq_idx")
      .collect().toSeq
    assert(restarted === result.toSeq,
      "restart read-back must equal the single-run pipeline result")
  }

  test("stream-store lineage addresses every token of the real pipeline " +
      "shard log, and shed docs have no lineage row") {
    val rows = result // materialize the pipeline store (lazy)
    assert(rows.nonEmpty)
    val actual = rows.flatMap { r =>
      val (sh, g, seq) = (r.getAs[Long]("shard"), r.getAs[Long]("gen"),
        r.getAs[Long]("seq_idx"))
      r.getAs[String]("ids_str").split(",").zipWithIndex.map {
        case (tid, p) => (sh, g, seq * ShardOps.SeqLen + p, tid)
      }
    }.toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos", $"subpos")
    val lineage = q("q_stream_pipeline_lineage")
    val expected = BpeOps.subwordIdRows(spark, sf)
      .withColumn("k", row_number().over(w).cast("long") - 1L)
      .select($"doc_id", $"k", $"tid".cast("string").as("tid"))
      .join(lineage.select($"doc_id", $"shard", $"gen", $"gstart"),
        Seq("doc_id"))
      .select($"shard", $"gen", ($"gstart" + $"k").as("gpos"), $"tid")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(actual === expected,
      "stream-store lineage addresses diverge from the real shard log")
    // the negative answer: a gate-shed doc has NO lineage row
    val lineageDocs = lineage.select($"doc_id").collect()
      .map(_.getLong(0)).toSet
    val keptDocs = batchKept.select($"doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(lineageDocs === keptDocs)
    val allDocs = Tables.documents(spark, sf).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((allDocs -- keptDocs).nonEmpty &&
      (allDocs -- keptDocs).forall(!lineageDocs.contains(_)))
  }

  test("the near-dup pipeline sheds real cross-batch near-dups and is " +
      "exactly-once across a mid-corpus stop/restart") {
    val base = Paths.get("target", "test-pipe-nd-restart").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    val shardLog = base.resolve("shards").toString
    val acceptLog = base.resolve("accept").toString
    val bandLog = base.resolve("bands").toString
    StreamingOps.resetNdLogs(spark, shardLog, acceptLog, bandLog)
    val srcDir = new java.io.File(StreamingOps.streamPipeDir(spark, sf))
    val srcFiles = srcDir.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.lastModified).toSeq
    assert(srcFiles.size === 2, "expected the two-file landing fixture")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val (n, raw) = TextOps.modelRawScore($"text")
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landing.toString)
        .select($"doc_id", $"text", n.as("n_grams"), raw.as("raw"))
        .filter(TextOps.modelScore($"n_grams", $"raw") >=
          lit(0).cast("decimal(38,6)"))
        .select($"doc_id", $"text")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            StreamingOps.pipelineBatchNearDup(b, id, sf, shardLog,
              acceptLog, bandLog)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def copy(f: java.io.File): Unit = Files.copy(f.toPath,
      landing.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING)
    copy(srcFiles.head); drain() // phase 1: low range only
    copy(srcFiles.last); drain() // RESTART: same checkpoint, new file
    val restarted = spark.read.parquet(shardLog)
      .groupBy($"shard", $"gen", $"seq_idx")
      .agg(max($"n_ids").as("n_ids"), max($"n_docs").as("n_docs"),
        max($"first_doc").as("first_doc"), max($"last_doc").as("last_doc"),
        max($"ids_str").as("ids_str"))
      .select($"shard", $"gen", $"seq_idx", $"n_ids", $"n_docs",
        $"first_doc", $"last_doc", $"ids_str")
      .orderBy($"shard", $"gen", $"seq_idx")
      .collect().toSeq
    // exactly-once: restart read-back equals the single-run declared
    // result (which re-runs the whole stream into its own logs)
    assert(restarted === q("q_stream_pipeline_neardup").collect().toSeq,
      "restart read-back must equal the single-run near-dup pipeline")
    // the near-dup gate actually gated, and shed docs never reached the
    // accept log or the packed shards
    val (_, _, _, shed, _, _) = StreamingOps.nearDupBatchReference(spark, sf)
    val shedIds = shed.collect().map(_.getLong(0)).toSet
    assert(shedIds.nonEmpty, "fixture has no cross-batch near-dups")
    val acc = spark.read.parquet(acceptLog)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(shedIds.intersect(acc).isEmpty,
      "near-dup-shed docs leaked into the accept log")
    // exact-gate parity: relative to the exact-only pipeline, precisely
    // the shed docs are missing
    val exactAccepted = batchKept.collect().map(_.getLong(0)).toSet
    assert(acc === exactAccepted -- shedIds,
      "accepted set must be the exact-pipeline set minus the shed docs")
  }
}
