package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** corpus_curation: a closed loop with one caller. Each job derives a
  * fresh seeded corpus directory, so no job reuses a pair set or index
  * the engine memoizes per corpus, then runs the curation queries on it.
  * The timed path is the cold one. Query outputs are checked against
  * their DuckDB oracles after the loop (q_dedup_minhash has none and is
  * checked through its audit query). */
object Curation {
  val Docs = 1000
  val Vectors = 2000
  val Queries = Seq("q_pipeline_clean", "q_dedup_minhash", "q_search_term",
    "q_simsearch_cosine")
  val Audit = "q_dedup_minhash_audit"

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Writes the corpus of repetition `rep` as single-file parquet tables
    * under `dir`, the layout the engine's table loaders read. */
  def writeCorpus(ctx: Ctx, rep: Int, docs: Int, vecs: Int, dir: Path): Unit = {
    import ctx._
    withGroup("setup") {
      val d = Gen.documents(seed, rep, docs).map(x =>
        Row(x.docId, x.text, x.lang, x.source, x.text.length.toLong))
      val v = Gen.embeddings(seed, rep, vecs).map(x =>
        Row(x.vecId, x.embedding.toSeq, x.label))
      Seq("documents" -> spark.createDataFrame(d.asJava, docSchema),
        "embeddings" -> spark.createDataFrame(v.asJava, vecSchema)).foreach { case (t, df) =>
        val tmp = dir.resolve(s".$t.tmp")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(s"$t.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
  }

  private final case class Job(rep: Int, corpus: Path, out: Path, seconds: Double,
      perQuery: Map[String, Double])

  def run(ctx: Ctx): Unit = {
    import ctx._
    // JIT and codegen warm-up on corpora of their own, at full size: the
    // heap then grows before the measured jobs, and peak RSS does not
    // split between runs that grew it early or late
    warmups.foreach(job(ctx, _, Docs, Vectors))

    val setups = Vector.newBuilder[Double]
    val jobs = Vector.newBuilder[Job]
    var timedS = 0.0
    var rep = 0
    while (more(rep, timedS, 2)) {
      val (j, setupS) = ctx.measure(rep)(job(ctx, rep, Docs, Vectors))
      setups += setupS
      j.foreach { j => jobs += j; timedS += j.seconds }
      if (j.isEmpty) timedS += 1.0
      rep += 1
    }
    val done = jobs.result()

    // outputs of the first job are checked (each run's seed gives it
    // another corpus); the q_pipeline_clean oracle costs about a job
    val oracles = SparkEntry.oracleSql
    done.take(1).foreach { j =>
      ops.attempt(s"$Audit j${j.rep}")(withGroup("check") {
        SparkEntry.queries(Audit)(spark, j.corpus.toString)
          .coalesce(1).write.parquet(j.out.resolve(Audit).toString)
      })
      for (q <- Queries) {
        val checked = if (q == "q_dedup_minhash") Audit else q
        oracleChecks += Map("op" -> s"$q j${j.rep}", "query" -> checked,
          "corpus" -> j.corpus.toString, "result" -> j.out.resolve(checked).toString,
          "oracle" -> oracles.getOrElse(checked, ""))
      }
    }

    e2e("setup_s", Stats.median(setups.result()))
    throughput(done.map(j => (j.rep, Docs.toDouble, j.seconds)))
    samples("jobs", done.size)
    if (traced) {
      for (q <- Queries)
        layer(s"curation.${q.stripPrefix("q_")}_s",
          if (done.isEmpty) 0.0 else Stats.median(done.map(_.perQuery(q))))
      timedWallS = timedS
    }
  }

  private def job(ctx: Ctx, rep: Int, docs: Int, vecs: Int): (Option[Job], Double) = {
    import ctx._
    val tag = if (rep < 0) s"warmup${-rep}" else s"j$rep"
    val corpus = work.resolve(s"curation/$tag/corpus")
    val out = work.resolve(s"curation/$tag/out")
    Files.createDirectories(corpus)
    writeCorpus(ctx, rep, docs, vecs, corpus)
    // set-up is the engine's preparation of the fresh corpus: loading both
    // tables (schema read) and planning their scans. Writing the corpus is
    // not timed, and neither is building the queries: q_pipeline_clean
    // computes its shared n-gram pair set eagerly when built, so planning
    // it would move the cold work the job times into set-up.
    val s0 = System.nanoTime()
    withGroup("setup") {
      Tables.documents(spark, corpus.toString).queryExecution.executedPlan
      Tables.embeddings(spark, corpus.toString).queryExecution.executedPlan
    }
    val setupS = (System.nanoTime() - s0) / 1e9

    val timed = runQueries(ctx, tag, corpus, out).filter(_ => rep >= 0)
    (timed.map { case (seconds, per) => Job(rep, corpus, out, seconds, per) }, setupS)
  }

  /** Runs the curation queries on `corpus`, writing each result under
    * `out`. Returns the job's seconds and per-query seconds, or None if
    * any query failed: a failed job is no timing sample. */
  def runQueries(ctx: Ctx, tag: String, corpus: Path, out: Path)
      : Option[(Double, Map[String, Double])] = {
    import ctx._
    val per = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val ok = withGroup(if (tag.startsWith("warmup")) "warmup" else "timed") {
      tracer.span("harness.job", tag) {
        Queries.forall { q =>
          val q0 = System.nanoTime()
          val r = ops.attempt(s"$q $tag")(tracer.span(s"curation.$q", tag) {
            SparkEntry.queries(q)(spark, corpus.toString)
              .coalesce(1).write.parquet(out.resolve(q).toString)
          })
          per(q) = (System.nanoTime() - q0) / 1e9
          r.isDefined
        }
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    if (ok) Some((seconds, per.toMap)) else None
  }
}
