package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one lazy session per suite (spark_guide.md),
  * UTC + small shuffle partitions for local determinism and speed. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s) // idempotent; covers reuse
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** The curation queries perfbench times, in its order. */
  val curationQueries: Seq[String] = Seq("q_pipeline_clean",
    "q_dedup_minhash", "q_search_term", "q_simsearch_cosine")

  /** A fresh copy of the fixture's documents and embeddings tables, at a
    * path no earlier call has seen: no per-corpus memo or artifact serves
    * it, as for perfbench's cold corpora. Delete it with
    * `Fs.deleteRecursively`. */
  def freshCorpus(): String = {
    import java.nio.file.{Files, Paths}
    val root = Files.createDirectories(Paths.get("target", "fresh-corpora"))
    val dir = Files.createTempDirectory(root, "corpus")
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    dir.toString
  }

  /** Spark jobs launched while `body` runs. Job ids are globally
    * increasing per context, so the max-id delta bounds the jobs a call
    * launched (specs run serially). */
  def jobsDuring(body: => Unit): Int = {
    def maxId = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).maxOption.getOrElse(-1)
    val before = maxId; body; maxId - before
  }
}
