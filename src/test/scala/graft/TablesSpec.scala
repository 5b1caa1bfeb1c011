package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.load` learns a table's schema from one parquet footer on the
  * driver: it runs no Spark job, gives the schema Spark's own inference
  * gives, and sees a table rewritten in place. `Tables.rawEvents` turns
  * the legacy nanos flag on only for the TIMESTAMP(NANOS) vintage. */
class TablesSpec extends SparkTestBase {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Fs.deleteRecursively(dir)
  }

  /** Runs `body`, then puts the session's nanos flag back as it was. */
  private def keepingNanosFlag[T](body: => T): T = {
    val before = spark.conf.getAll.get(NanosAsLong)
    try body
    finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  /** Writes `df` as the single parquet file `dir/<name>.parquet`, the
    * fixture corpus layout. */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: Path,
      name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"))
    Fs.deleteRecursively(tmp)
  }

  test("loading and planning a fresh corpus runs no Spark job") {
    import spark.implicits._
    withTempDir("graft_tables_fresh") { dir =>
      writeTable(Seq((1L, "a b c", "en", "web", 5L), (2L, "d e", "en", "web", 3L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
      writeTable(Seq((1L, Seq(0.5f, -0.25f), "x"), (2L, Seq(1f, 0f), "y"))
        .toDF("vec_id", "embedding", "label"), dir, "embeddings")
      val jobs = jobsDuring {
        Tables.documents(spark, dir.toString).queryExecution.executedPlan
        Tables.embeddings(spark, dir.toString).queryExecution.executedPlan
      }
      assert(jobs === 0, s"fresh-corpus load and planning ran $jobs Spark jobs")
      assert(Tables.documents(spark, dir.toString).count() === 2)
    }
  }

  test("the footer schema equals Spark's inferred schema") {
    import spark.implicits._
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings", "events")
    for (n <- names) {
      val path = s"$sf/$n.parquet"
      assert(Tables.load(spark, sf, n).schema === spark.read.parquet(path).schema, n)
    }
    // a Spark-written table: a directory of several part files beside
    // _SUCCESS and checksum files
    withTempDir("graft_tables_dir") { dir =>
      (1 to 30).map(i => (i.toLong, s"t$i", i * 0.5, Seq(i.toFloat)))
        .toDF("id", "s", "d", "v")
        .withColumn("ts", timestamp_seconds($"id"))
        .repartition(3).write.parquet(dir.resolve("t.parquet").toString)
      assert(Tables.load(spark, dir.toString, "t").schema ===
        spark.read.parquet(dir.resolve("t.parquet").toString).schema)
      assert(Tables.load(spark, dir.toString, "t").count() === 30)
    }
  }

  test("a table rewritten at the same path is seen by the next load") {
    import spark.implicits._
    withTempDir("graft_tables_rewrite") { dir =>
      val path = dir.resolve("documents.parquet").toString
      Seq((1L, "x")).toDF("doc_id", "text").write.parquet(path)
      assert(Tables.documents(spark, dir.toString).schema.fieldNames.toSeq ===
        Seq("doc_id", "text"))
      Seq((7, 2.5, "y")).toDF("k", "w", "tag").write.mode("overwrite").parquet(path)
      val again = Tables.documents(spark, dir.toString)
      assert(again.schema.fieldNames.toSeq === Seq("k", "w", "tag"))
      assert(again.as[(Int, Double, String)].collect().toSeq === Seq((7, 2.5, "y")))
    }
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](
      Tables.load(spark, "/nonexistent/graft_corpus", "documents"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }

  test("Tables.events on the µs fixtures leaves the nanos flag as it found it") {
    keepingNanosFlag {
      spark.conf.unset(NanosAsLong)
      assert(Tables.events(spark, sf).schema("ts").dataType === TimestampType)
      assert(!spark.conf.getAll.contains(NanosAsLong), "the flag was set")
      spark.conf.set(NanosAsLong, "false")
      Tables.events(spark, sf).schema
      assert(spark.conf.get(NanosAsLong) === "false")
    }
  }

  test("Tables.events reads the TIMESTAMP(NANOS) vintage as µs TimestampType") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import spark.implicits._
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |}""".stripMargin)
    val baseNs = 1704067200000000000L // 2024-01-01 00:00:00 UTC
    withTempDir("graft_tables_nanos") { dir =>
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
        .withType(schema).build()
      try {
        val groups = new SimpleGroupFactory(schema)
        Seq(1L -> (baseNs + 1999L), 2L -> (baseNs + 5000000123L)).foreach {
          case (id, ns) => w.write(groups.newGroup().append("event_id", id).append("ts", ns))
        }
      } finally w.close()
      keepingNanosFlag {
        spark.conf.unset(NanosAsLong)
        val ev = Tables.events(spark, dir.toString)
        assert(ev.schema("ts").dataType === TimestampType)
        val us = ev.orderBy($"event_id").select(unix_micros($"ts")).as[Long].collect()
        assert(us.toSeq === Seq(baseNs / 1000 + 1L, baseNs / 1000 + 5000000L))
      }
    }
  }
}
