package graft

import graft.operators.{BpeOps, GenerationLayout, ShardOps}
import org.apache.spark.sql.functions._

/** The property the r14 audio-delta bug (ea3ed50) violated, pinned for
  * EVERY store layout at once: on any realistic contiguous id range —
  * whatever its parity mix or magnitude — each layout's slice is
  * non-empty and its base/delta split is non-vacuous (both generations
  * populated). A layout whose delta rule never fires on its own slice
  * ships a silent no-op "incremental maintain"; this spec makes that a
  * compile-against-the-list failure instead of a shipped vacuity. */
class GenerationLayoutSpec extends SparkTestBase {
  import spark.implicits._

  // Deterministic sweep: even-start / odd-start / astral (> 2^40) /
  // near-multiple-aligned windows, each longer than 2×HoldoutMod ids per
  // parity so every 1-in-HoldoutMod rank rule must fire at least twice.
  private val windows: Seq[(Long, Long)] = Seq(
    0L -> 400L,                    // the fixture shape: ids from 0
    1L -> 401L,                    // odd start
    (37L * 40L) -> (37L * 40L + 400L), // aligned to the forget-fixture mod
    (1L << 40) -> ((1L << 40) + 400L),        // astral even start
    ((1L << 40) + 1L) -> ((1L << 40) + 401L)) // astral odd start

  private def ids(lo: Long, hi: Long) =
    spark.range(lo, hi).toDF("doc_id")

  test("every layout: slice non-empty, base and delta both populated, " +
      "on every id window") {
    for ((lo, hi) <- windows; lay <- GenerationLayout.all) {
      val in = ids(lo, hi)
      val n = in.filter(lay.slice($"doc_id")).count()
      assert(n > 0, s"${lay.name}: empty slice on [$lo, $hi)")
      val byGen = in.filter(lay.slice($"doc_id"))
        .groupBy(lay.genOf($"doc_id").as("gen")).count()
        .as[(Long, Long)].collect().toMap
      assert(byGen.keySet === Set(0L, 1L),
        s"${lay.name}: generations ${byGen.keySet} on [$lo, $hi) — " +
          "a missing generation means a vacuous split (the ea3ed50 class)")
      assert(byGen.values.forall(_ > 0))
      // the delta really is the sparse ingest generation (~1/HoldoutMod)
      assert(byGen(1L) < byGen(0L),
        s"${lay.name}: delta (${byGen(1L)}) >= base (${byGen(0L)})")
    }
  }

  test("base/delta partition the slice exactly (disjoint and covering)") {
    for ((lo, hi) <- windows; lay <- GenerationLayout.all) {
      val in = ids(lo, hi).filter(lay.slice($"doc_id"))
      val both = in.filter(lay.genSlice($"doc_id", delta = true) &&
        lay.genSlice($"doc_id", delta = false)).count()
      val neither = in.filter(!lay.genSlice($"doc_id", delta = true) &&
        !lay.genSlice($"doc_id", delta = false)).count()
      assert(both === 0 && neither === 0,
        s"${lay.name}: split not a partition on [$lo, $hi)")
    }
  }

  test("shardOf lands every id in [0, NShards) and balances the " +
      "fixture-shaped window") {
    for ((lo, hi) <- windows) {
      val counts = ids(lo, hi)
        .groupBy(GenerationLayout.shardOf($"doc_id").as("shard")).count()
        .as[(Long, Long)].collect().toMap
      assert(counts.keySet === (0L until ShardOps.NShards.toLong).toSet,
        s"shard keys ${counts.keySet} on [$lo, $hi)")
    }
  }

  test("streamGenOf (the parameterized stream-store rule) is swept " +
      "too: both generations populated, split exactly at the midpoint, " +
      "on every id window") {
    // not a static Layout (gen = admitting micro-batch; the fixture
    // landing zone makes it a midpoint rule) — swept here explicitly so
    // the dynamic rule gets the same non-vacuity pin as `all`
    // (VERDICT r15 task 4)
    for ((lo, hi) <- windows) {
      val mid = lo + (hi - lo) / 2
      val byGen = ids(lo, hi)
        .groupBy(GenerationLayout.streamGenOf($"doc_id", mid).as("gen"))
        .count().as[(Long, Long)].collect().toMap
      assert(byGen.keySet === Set(0L, 1L),
        s"streamGenOf: generations ${byGen.keySet} on [$lo, $hi)")
      assert(byGen(0L) === mid - lo && byGen(1L) === hi - mid,
        s"streamGenOf: split sizes $byGen diverge from the midpoint " +
          s"rule on [$lo, $hi)")
    }
    // and the boundary id itself is the first of generation 1
    val edge = ids(10L, 12L)
      .select(GenerationLayout.streamGenOf($"doc_id", 11L).as("gen"))
      .as[Long].collect().toSeq
    assert(edge === Seq(0L, 1L))
  }

  test("the in-engine rules are the layout rules: ShardStore matches " +
      "the family HoldoutMod split") {
    val in = ids(0L, 1000L)
    val shardDiff = in.filter(
      GenerationLayout.ShardStore.isDelta($"doc_id") =!=
        ($"doc_id" % BpeOps.HoldoutMod === 0)).count()
    assert(shardDiff === 0)
  }
}
