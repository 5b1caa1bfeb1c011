package graft

import graft.operators.ShardOps
import org.apache.spark.sql.functions._

/** q_shard_asof contract: the pure-layout as-of manifest equals the
  * REAL store's manifest at every lifecycle event — built here through
  * the same write → append → forget sequence on a spec-owned dir, with
  * each event's store state read back BEFORE the next event destroys
  * it (that destruction being exactly why as-of exists). */
class ShardAsOfSpec extends SparkTestBase {
  import spark.implicits._

  private def storeManifest(dir: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(dir)
      .select($"shard".cast("long"), $"gen".cast("long"),
        $"seq_idx", $"n_ids")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("as-of manifest == real store manifest at events 0, 1, 2") {
    val dir = graft.Fs.artifactDir("shard_asof_spec", sf).toString
    val asof = q("q_shard_asof")
      .select($"asof_event", $"shard", $"gen", $"seq_idx", $"n_ids")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3, r._4, r._5)).toSeq.sorted)
      .toMap
    assert(asof.keySet === Set(0L, 1L, 2L))
    ShardOps.writeShardBaseTo(spark, sf, dir)
    assert(storeManifest(dir) === asof(0L), "event 0 (base) diverges")
    ShardOps.appendShardDeltaTo(spark, sf, dir)
    assert(storeManifest(dir) === asof(1L), "event 1 (append) diverges")
    ShardOps.forgetDocs(spark, sf, dir)
    assert(storeManifest(dir) === asof(2L), "event 2 (forget) diverges")
    // the lifecycle really is destructive — the as-of answer for event 1
    // can no longer be read from the store (row count shrank), which is
    // the reason the manifest derivation must not scan the store
    assert(storeManifest(dir).size < asof(1L).size)
  }
}
