package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: run ONE declared query against an arbitrary fixture dir
  * and print wall time, row count, and — with SPARK_GRAFT_EXPLAIN=1 —
  * the formatted physical plan. Verify dumps every declared query and
  * perfbench times whole workloads; this is the iteration loop for
  * diagnosing one query's plan or straggler.
  *
  *   sbt "runMain graft.RunOne q_dedup_ngram_jaccard path/to/sf0.1"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))
    val df = fn(spark, dir)
    val t0 = System.nanoTime()
    val n = df.count()
    printf("RUNONE %s rows=%d sec=%.1f%n", name, n, (System.nanoTime() - t0) / 1e9)
    // AFTER execution: the AQE-final plan with real stage shapes
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) df.explain("formatted")
    spark.stop()
  }
}
