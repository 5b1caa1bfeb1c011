package graft

import java.nio.file.Paths

/** Spark jobs per call for the curation queries perfbench times, on a
  * fresh copy of the fixture's documents and embeddings (ROADMAP item 9).
  * Build and collect are counted apart. Each bound is the count measured
  * when the spec was written; a change that removes jobs lowers its
  * bound. */
class CurationJobBudgetSpec extends SparkTestBase {

  /** (build, collect) bounds per query; the counts before the per-call
    * caches were deleted are in the trailing comments. */
  private val budgets = Map(
    // the build is not yet lazy: q_pipeline_clean computes its shared
    // n-gram pair set eagerly when built (ROADMAP item 3's leftover)
    "q_pipeline_clean" -> (12, 7), // was (15, 7)
    "q_dedup_minhash" -> (0, 8), // was (0, 9)
    "q_search_term" -> (0, 8), // was (0, 9)
    "q_simsearch_cosine" -> (0, 5)) // was (0, 5)

  test("build and collect of each curation query on a fresh corpus") {
    val d = freshCorpus()
    try {
      val counts = curationQueries.map { name =>
        var df: org.apache.spark.sql.DataFrame = null
        val build = jobsDuring { df = SparkEntry.queries(name)(spark, d) }
        val collect = jobsDuring(df.collect())
        name -> (build, collect)
      }
      println(s"[job-budget] ${counts.mkString(", ")}")
      val over = counts.filter { case (name, (b, c)) =>
        b > budgets(name)._1 || c > budgets(name)._2
      }
      assert(over.isEmpty, s"(build, collect) jobs over budget: " +
        over.map { case (n, got) => s"$n $got > ${budgets(n)}" }.mkString(", "))
    } finally Fs.deleteRecursively(Paths.get(d))
  }
}
