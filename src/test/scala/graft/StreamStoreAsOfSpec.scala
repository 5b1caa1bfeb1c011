package graft

import graft.operators.ShardOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** q_stream_pipeline_asof contract: the pure-layout manifest equals
  * the REAL partitioned stream store at every lifecycle event —
  * event 0 from the pristine store's gen-0 partitions (append never
  * touches them, so they ARE the after-batch-0 state), event 1 from
  * the full pristine store, event 2 from a fixture-rule-forgotten
  * copy, event 3 from that copy COMPACTED (the r16 boundary: the
  * batch generations event 2 listed are now physically vacuumed into
  * a merge, and the manifest must answer on BOTH sides of the
  * vacuum). */
class StreamStoreAsOfSpec extends SparkTestBase {
  import spark.implicits._

  private def manifest(dir: String, genFilter: Option[Long])
      : Seq[(Long, Long, Long, Long)] = {
    val base = spark.read.parquet(dir)
      .select($"shard".cast("long").as("shard"),
        $"gen".cast("long").as("gen"), $"seq_idx", $"n_ids")
    genFilter.fold(base)(g => base.filter($"gen" === g))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
  }

  /** The compacted store's SERVED rows with their generations: gen-0
    * full rows (the shadowed tail excluded) + the merge, the
    * compactedStreamView rule at (shard, gen) grain. */
  private def servedCompacted(dir: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(dir)
      .select($"shard".cast("long").as("shard"),
        $"gen".cast("long").as("gen"), $"seq_idx", $"n_ids")
      .filter(($"gen" === 0 && $"n_ids" === ShardOps.SeqLen.toLong) ||
        $"gen" >= StreamingOps.CompactedGenBase)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("as-of manifest == real streamed store at events 0, 1, 2, 3") {
    val asof = q("q_stream_pipeline_asof")
      .select($"asof_event", $"shard", $"gen", $"seq_idx", $"n_ids")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3, r._4, r._5)).toSeq.sorted)
      .toMap
    assert(asof.keySet === Set(0L, 1L, 2L, 3L))
    val pristine = StreamingOps.streamPipelineStore(spark, sf)
    assert(manifest(pristine, Some(0L)) === asof(0L),
      "event 0 (after micro-batch 0) diverges")
    assert(manifest(pristine, None) === asof(1L),
      "event 1 (full store) diverges")
    val dir = graft.Fs.artifactDir("stream_pipe_store_asof_spec", sf)
    graft.Fs.deleteRecursively(dir)
    graft.Fs.copyRecursively(java.nio.file.Paths.get(pristine), dir)
    StreamingOps.forgetStreamStore(spark, sf, dir.toString,
      col("doc_id") % ShardOps.ForgetMod === ShardOps.ForgetRes)
    assert(manifest(dir.toString, None) === asof(2L),
      "event 2 (post-forget) diverges")
    // event 3: the SAME store across the compaction boundary — the
    // batch generations event 2 listed are physically vacuumed now
    StreamingOps.compactStreamStore(spark, dir.toString)
    assert(asof(2L).exists(_._2 > 0L), "event 2 lost its batch gens")
    assert(asof(3L).forall(r => r._2 === 0L ||
      r._2 >= StreamingOps.CompactedGenBase),
      "event 3 still lists vacuumed batch generations")
    assert(servedCompacted(dir.toString) === asof(3L),
      "event 3 (post-compact) diverges from the real compacted store")
  }
}
