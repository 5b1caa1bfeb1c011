package graft

import graft.operators.{EmbedIndexOps, MultimodalOps, SearchOps, ShardOps}
import org.apache.spark.sql.DataFrame

/** r16 optimization pins: the one-pass two-generation store builds
  * (`buildAppendStoreTo`, `buildPostingStore`,
  * `MultimodalOps.buildIndexStore`, `buildEmbedIndexStore`) must
  * produce EXACTLY the rows the phased base-then-delta builds produced
  * — same content, same (gen=0, gen=1) partition layout. The phased
  * helpers remain the maintain-path contract; these tests pin that the
  * forget queries' single-pass fixture builds did not change what lands
  * in the store. */
class OnePassBuildSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(dir: String): Set[String] =
    spark.read.parquet(dir).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def genDirs(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f +: f.listFiles().toSeq.flatMap(walk) else Seq.empty
    walk(new java.io.File(dir)).filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("gen=")).toSet
  }

  private def scratch(name: String): String = {
    val p = java.nio.file.Paths.get("target", "onepass_spec", name)
      .toAbsolutePath
    graft.Fs.deleteRecursively(p)
    p.toString
  }

  test("shard store: one-pass build == phased base+delta build") {
    val phased = scratch("shard_phased")
    ShardOps.writeShardBaseTo(spark, sf, phased)
    ShardOps.appendShardDeltaTo(spark, sf, phased)
    val onepass = scratch("shard_onepass")
    val ids = ShardOps.taggedIds(spark, sf).localCheckpoint()
    ShardOps.buildAppendStoreTo(spark, sf, onepass, ids)
    graft.Memo.releaseLocalCheckpoint(ids)
    assert(rows(onepass) === rows(phased))
    assert(genDirs(onepass) === Set("gen=0", "gen=1"))
  }

  test("posting store (+manifest): one-pass build == phased build") {
    val phased = scratch("post_phased")
    SearchOps.writePostingBase(spark, sf, phased)
    SearchOps.appendPostingDelta(spark, sf, phased)
    val onepass = scratch("post_onepass")
    SearchOps.buildPostingStore(spark, sf, onepass)
    assert(rows(onepass) === rows(phased))
    assert(rows(SearchOps.postingMetaDir(onepass)) ===
      rows(SearchOps.postingMetaDir(phased)))
    assert(genDirs(onepass) === Set("gen=0", "gen=1"))
  }

  test("media band index: one-pass build == phased build") {
    val phased = scratch("media_phased")
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Image, phased)
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Image, phased)
    val onepass = scratch("media_onepass")
    MultimodalOps.buildIndexStore(spark, sf, MultimodalOps.Image, onepass)
    assert(rows(onepass) === rows(phased))
    assert(genDirs(onepass) === Set("gen=0", "gen=1"))
  }

  test("audio band index: one-pass build == phased build") {
    val phased = scratch("audio_phased")
    MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Audio, phased)
    MultimodalOps.appendIndexDelta(spark, sf, MultimodalOps.Audio, phased)
    val onepass = scratch("audio_onepass")
    MultimodalOps.buildIndexStore(spark, sf, MultimodalOps.Audio, onepass)
    assert(rows(onepass) === rows(phased))
    assert(genDirs(onepass) === Set("gen=0", "gen=1"))
  }

  test("embedding ANN index: one-pass build == phased build") {
    val phased = scratch("embed_phased")
    EmbedIndexOps.writeEmbedIndexBase(spark, sf, phased)
    EmbedIndexOps.appendEmbedIndexDelta(spark, sf, phased)
    val onepass = scratch("embed_onepass")
    EmbedIndexOps.buildEmbedIndexStore(spark, sf, onepass)
    assert(rows(onepass) === rows(phased))
    assert(genDirs(onepass) === Set("gen=0", "gen=1"))
  }
}
