package graft

import graft.Tables
import graft.operators.{GenerationLayout, SearchOps, ShardOps}
import org.apache.spark.sql.functions._

/** q_search_index_forget contract — the q_media_index_forget posture
  * applied to postings: a forget touches ONLY the generations the
  * delete set lives in (untouched generation files byte-identical),
  * deleted ids vanish from EVERY posting and from the doc-count
  * manifest, and the search plan reads the index artifact with the
  * term filter pushed down, never the source corpus. */
class SearchIndexForgetSpec extends SparkTestBase {
  import spark.implicits._

  test("a gen-1-only delete leaves every gen-0 file byte-identical and " +
      "rewrites gen 1 to exactly the survivor postings") {
    val dir = graft.Fs.artifactDir("posting_index_spec", sf).toString
    SearchOps.writePostingBase(spark, sf, dir)
    SearchOps.appendPostingDelta(spark, sf, dir)
    val gen0 = java.nio.file.Paths.get(dir).resolve("gen=0")
    val before = TestFs.crcByFile(gen0)
    assert(before.nonEmpty)
    // %20==0 ⊂ %10==0: the delete set lives entirely in gen 1
    val pred = col("doc_id") % 20 === 0
    val nDel = Tables.documents(spark, sf).filter(pred).count()
    assert(nDel > 0, "fixture lost its %20 ids")
    SearchOps.forgetPostingIndex(spark, sf, dir, pred)
    assert(TestFs.crcByFile(gen0) === before, "gen-0 files changed under a " +
      "gen-1-only delete — the blast radius leaked")
    // gen 1 == a fresh tokenization of the surviving delta slice
    val got = spark.read.parquet(dir).filter($"gen" === 1)
      .select($"tok", $"doc_id", $"tf")
      .orderBy($"tok", $"doc_id").collect()
    val want = Tables.documents(spark, sf)
      .filter(GenerationLayout.ShardStore.genSlice($"doc_id", delta = true))
      .filter(!pred)
      .select($"doc_id",
        explode(array_remove(split(lower($"text"), " +"), "")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .orderBy($"tok", $"doc_id").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("after the fixture-rule forget: deleted ids absent from every " +
      "posting and from the manifest counts") {
    val dir = SearchOps.postingIndexDir(sf)
    // run the declared query (rebuild + forget on its own dir)
    assert(q("q_search_index_forget").count() > 0)
    val leaked = spark.read.parquet(dir)
      .filter($"doc_id" % ShardOps.ForgetMod === ShardOps.ForgetRes)
      .count()
    assert(leaked === 0, s"$leaked postings still name deleted docs")
    // manifest = per-generation survivor MEMBERSHIP (r16 doc-grain
    // form; counts derive from it)
    val meta = spark.read.parquet(SearchOps.postingMetaDir(dir))
      .groupBy($"gen".cast("int").as("gen"))
      .agg(count(lit(1)).as("n_docs"))
      .as[(Int, Long)].collect().toMap
    val surv = Tables.documents(spark, sf)
      .filter($"doc_id" % ShardOps.ForgetMod =!= ShardOps.ForgetRes)
    val base = surv.filter(
      GenerationLayout.ShardStore.genSlice($"doc_id", delta = false)).count()
    val delta = surv.filter(
      GenerationLayout.ShardStore.genSlice($"doc_id", delta = true)).count()
    assert(meta === Map(0 -> base, 1 -> delta))
    // and the whole index == a survivor-only rebuild (content, not files)
    val got = spark.read.parquet(dir)
      .select($"tok", $"doc_id", $"tf").orderBy($"tok", $"doc_id").collect()
    val want = surv
      .select($"doc_id",
        explode(array_remove(split(lower($"text"), " +"), "")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .orderBy($"tok", $"doc_id").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("the post-forget search plan scans the posting index with the " +
      "term filter pushed, and never the source corpus") {
    val dir = SearchOps.postingIndexDir(sf)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
    // the postings data scan is materialized once via localCheckpoint
    // (so a rebuilt dir can't pin stale cached relations, ADVICE r15);
    // its plan shape — term pushdown, index-only paths — is asserted
    // where the scan lives
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    val tfScans = fileScans(SearchOps.prunedPostings(spark, dir)
      .queryExecution.sparkPlan)
    assert(tfScans.nonEmpty)
    assert(tfScans.exists(_.metadata.get("PushedFilters")
      .exists(f => f.contains("In(tok") || f.contains("EqualTo(tok"))),
      "term filter not pushed into the postings scan")
    // the full search reads NOTHING outside the index artifact (the
    // only other file scan is the doc-count manifest)
    val scans = tfScans ++ fileScans(SearchOps.searchOverIndex(spark, dir)
      .queryExecution.sparkPlan)
    val paths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(paths.nonEmpty && paths.forall(_.contains("posting_index_forget")),
      s"search plan reads outside the index artifact: $paths")
    assert(TestFs.crcByFile(java.nio.file.Paths.get(dir)).nonEmpty)
  }
}
