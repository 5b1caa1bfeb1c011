package graft

import java.nio.file.Paths

import graft.api.BitcoinEtl
import graft.sources.PayloadCorpus
import org.apache.spark.sql.streaming.Trigger

/** Spark jobs per call on the payload path that perfbench drives. Each
  * bound is the count measured when the spec was written; a change that
  * removes jobs lowers its bound. Every action on ingest frames parses
  * the zone again, and these bounds pin that cost. */
class PayloadJobBudgetSpec extends SparkTestBase {

  private lazy val zone = PayloadCorpus.ensure("test-job-budget", 300)

  test("ingest plus a count of each table") {
    val jobs = jobsDuring {
      val t = BitcoinEtl.ingest(spark, zone)
      assert(t.price.count() === 150L && t.hashrate.count() === 150L)
    }
    assert(jobs <= 4, s"$jobs Spark jobs")
  }

  test("each appendRaw") {
    val t = BitcoinEtl.ingest(spark, zone)
    val jobs = Seq("price" -> t.price, "hashrate" -> t.hashrate).map { case (name, df) =>
      val out = Paths.get("target", "test-job-budget-out", name)
      Fs.deleteRecursively(out)
      name -> jobsDuring(BitcoinEtl.appendRaw(df, out.toString))
    }
    assert(jobs.forall(_._2 <= 1), jobs.mkString(", "))
  }

  test("one avgInfoStream micro-batch over a one-file zone") {
    val ck = Paths.get("target", "test-job-budget-ck")
    Fs.deleteRecursively(ck)
    val q = BitcoinEtl.avgInfoStream(spark, PayloadCorpus.ensure("test-job-budget-one", 1))
      .writeStream.format("memory").queryName("job_budget_stream")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // stream jobs run in the query's job group, not the caller's
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(q.runId.toString).length
    assert(q.recentProgress.count(_.numInputRows > 0) === 1)
    assert(jobs <= 1, s"$jobs Spark jobs")
  }
}
