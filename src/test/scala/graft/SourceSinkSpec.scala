package graft

import org.apache.spark.sql.functions._

/** Source/sink surface: DSv2 payload source behavior and append-sink
  * round trips (the reference's O6/O14 MySQL append sinks map to
  * parquet/csv/json appends — SURVEY §1.4). */
class SourceSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("payload DSv2 source: typed rows, error path, reference quirks") {
    val df = q("q_source_payload_json")
    val byKind = df.groupBy($"kind").count().as[(String, Long)].collect().toMap
    assert(byKind("price") === 150 && byKind("hashrate") === 150)
    assert(byKind("error") === 1, "malformed payload becomes an error row, not a crash")
    // reference quirk preserved at the source: hashrate server_ts := spider_ts
    assert(df.filter($"kind" === "hashrate" && $"server_ts" =!= $"spider_ts").count() === 0)
    // price rows carry the API's own time field
    assert(df.filter($"kind" === "price" && $"usd".isNull).count() === 0)
  }

  test("payload batch scan plans one contiguous split per core over the sorted listing") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def load(dir: String) = spark.read.format("graft.sources.PayloadJsonSource")
      .option("path", dir).load()
    def splits(dir: String): Seq[Seq[String]] =
      load(dir).queryExecution.sparkPlan
        .collectFirst { case b: BatchScanExec => b.inputPartitions }.get
        .map(_.asInstanceOf[graft.sources.PayloadPartition].files.toSeq)
    def listing(dir: String): Seq[String] = Files.list(Paths.get(dir))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".json")).toSeq.sorted

    val zone = operators.SourceOps.materializePayloads(spark, sf)
    val parts = splits(zone)
    assert(listing(zone).size === 301)
    assert(parts.size === 4, "one split per core of local[4]")
    assert(parts.flatten === listing(zone),
      "splits concatenated in partition order are the sorted listing, each file once")
    assert(parts.map(_.size).max - parts.map(_.size).min <= 1, "even split")

    val base = Paths.get("target", "test-split").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val small = base.resolve("small"); Files.createDirectories(small)
    (0 until 3).foreach(i => Files.write(small.resolve(s"p_$i.json"),
      s"""{"spider_ts": $i, "price_data": {"USD": 1, "time": $i}}"""
        .getBytes(StandardCharsets.UTF_8)))
    assert(splits(small.toString).map(_.size) === Seq(1, 1, 1),
      "fewer files than cores: one file per split")
    val empty = base.resolve("empty"); Files.createDirectories(empty)
    for (dir <- Seq(empty, base.resolve("missing")).map(_.toString)) {
      assert(splits(dir).isEmpty, dir)
      assert(load(dir).count() === 0L, dir)
    }
  }

  test("payload MicroBatchStream equals the batch scan and rate-limits per trigger") {
    val stream = q("q_stream_source_payload")
      .select($"kind", $"spider_ts", $"usd", $"server_ts", $"hashrate", $"difficulty")
    val batch = q("q_source_payload_json")
      .select($"kind", $"spider_ts", $"usd", $"server_ts", $"hashrate", $"difficulty")
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
    // admission control: 301 files at 50/trigger needs >= 7 micro-batches
    val dir = operators.SourceOps.materializePayloads(spark, sf)
    val sq = spark.readStream.format("graft.sources.PayloadJsonSource")
      .option("path", dir).option("maxFilesPerTrigger", "50").load()
      .writeStream.format("memory").queryName("payload_rate_test")
      .outputMode("append").start()
    sq.processAllAvailable()
    val batches = sq.recentProgress.filter(_.numInputRows > 0)
    sq.stop()
    assert(batches.length >= 7, s"expected >= 7 rate-limited batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 50), "no batch may exceed the trigger cap")
    assert(spark.table("payload_rate_test").count() === 301)
  }

  test("payload stream restart resumes from the checkpoint (no dupes, no loss)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(operators.SourceOps.materializePayloads(spark, sf))
    val base = Paths.get("target", "test-restart").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    import scala.jdk.CollectionConverters._
    val files = Files.list(src).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    def copy(fs: Seq[java.nio.file.Path]): Unit = fs.foreach(f =>
      Files.copy(f, landing.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.PayloadJsonSource")
        .option("path", landing.toString)
        .option("maxFilesPerTrigger", "40").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    copy(files.take(150)); drain()
    assert(spark.read.parquet(out).count() === 150)
    copy(files.drop(150)); drain() // RESTART: same checkpoint, new files
    val got = spark.read.parquet(out)
    assert(got.count() === files.size.toLong, "exactly-once across restart")
    // content equality with the batch scan (not just counts)
    val batch = q("q_source_payload_json")
    assert(got.select(batch.columns.map(col): _*).exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got.select(batch.columns.map(col): _*)).count() === 0)
  }

  test("payload stream fails loudly when a file lands out of sorted order") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val base = Paths.get("target", "test-ooo").toAbsolutePath
    graft.Fs.deleteRecursively(base)
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    def put(name: String): Unit = Files.write(landing.resolve(name),
      s"""{"spider_ts": 1, "price_data": {"USD": 1, "time": 1}}"""
        .getBytes(StandardCharsets.UTF_8))
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.PayloadJsonSource")
        .option("path", landing.toString).load()
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    put("b_0.json"); put("b_1.json")
    drain()
    assert(spark.read.parquet(base.resolve("out").toString).count() === 2)
    // a late file that sorts BELOW the committed boundary would remap the
    // count-indexed offsets — the boundary name in the offset catches it
    put("a_0.json")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("out of sorted order")) ||
      messages(e).exists(_.contains("out-of-order landing")),
      s"unexpected failure chain: ${messages(e).mkString(" | ")}")
  }

  test("q_sink_text_roundtrip equals the direct aggregation") {
    val got = q("q_sink_text_roundtrip")
      .select($"lang", $"n", $"sum_chars").as[(String, Long, Long)]
      .collect().map { case (l, n, s) => l -> ((n, s)) }.toMap
    val expect = Tables.documents(spark, sf).groupBy($"lang")
      .agg(count("*").as("n"), sum($"n_chars").as("s"))
      .as[(String, Long, Long)].collect()
      .map { case (l, n, s) => l -> ((n, s)) }.toMap
    assert(got === expect)
  }

  test("parquet append sink round trip, partitioned by event_type") {
    val out = "target/test-sink/events_agg"
    val agg = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count("*").as("n"), sum($"value".cast("decimal(18,2)")).as("s"))
    agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() === agg.count())
    val a = agg.select($"event_type", $"n").as[(String, Long)].collect().toMap
    val b = back.select($"event_type", $"n").as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("csv and json sink/source round trips preserve values") {
    val df = Tables.nation(spark, sf)
    for ((fmt, path) <- Seq("csv" -> "target/test-sink/nation_csv",
                            "json" -> "target/test-sink/nation_json")) {
      val w = df.write.mode("overwrite")
      (if (fmt == "csv") w.option("header", "true") else w).format(fmt).save(path)
      val r = spark.read
      val back = (if (fmt == "csv")
        r.option("header", "true").option("inferSchema", "true") else r)
        .format(fmt).load(path)
      assert(back.count() === df.count(), fmt)
      assert(back.select($"n_name").as[String].collect().sorted
        === df.select($"n_name").as[String].collect().sorted, fmt)
    }
  }

  test("q_pivot_wide row sums equal total events per window") {
    val df = q("q_pivot_wide")
    val totalFromPivot = df.select(
      ($"n_click" + $"n_error" + $"n_purchase" + $"n_signup" + $"n_view").as("t"))
      .agg(sum($"t")).as[Long].head()
    assert(totalFromPivot === Tables.events(spark, sf).count())
  }

  test("q_grouped_map equals untyped groupBy") {
    val typed = q("q_grouped_map")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toMap
    val untyped = Tables.events(spark, sf).groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(typed === untyped)
  }

  test("q_sink_partitioned plan prunes to the purchase partition") {
    val plan = q("q_sink_partitioned").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan must expose partition filters")
    assert(plan.contains("event_type"),
      "the event_type predicate must reach the partitioned scan")
    // value correctness: counts equal the direct filtered aggregation
    val n = q("q_sink_partitioned").agg(sum($"n")).as[Long].head()
    assert(n === Tables.events(spark, sf)
      .filter($"event_type" === "purchase").count())
  }

  test("q_sink_csv_roundtrip equals direct aggregation") {
    val got = q("q_sink_csv_roundtrip")
      .select($"event_type", $"n").as[(String, Long)].collect().toMap
    val expect = Tables.events(spark, sf).groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    assert(got === expect)
  }

  test("q_sink_jdbc_roundtrip equals direct aggregation (values survive JDBC)") {
    val got = q("q_sink_jdbc_roundtrip")
      .select($"event_type", $"n", $"sum_value".cast("string"))
      .as[(String, Long, String)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    val expect = Tables.events(spark, sf).groupBy($"event_type")
      .agg(count("*").as("n"),
        (sum(($"value".cast("decimal(18,2)") * 100).cast("long"))
          .cast("decimal(38,2)") / 100)
          .cast("double").cast("string").as("s"))
      .as[(String, Long, String)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(got === expect)
  }

  test("q_sink_orc_roundtrip pushes the filter into the ORC scan") {
    val df = q("q_sink_orc_roundtrip")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id,500)"),
      "read-back filter must reach the ORC scan:\n" + plan)
    val got = df.select($"event_type", $"n").as[(String, Long)].collect().toMap
    val expect = Tables.events(spark, sf).filter($"event_id" >= 500L)
      .groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    assert(got === expect)
  }

  test("q_sink_compaction rewrites 64 files to 4 with identical content") {
    val rows = q("q_sink_compaction").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("files_before") === 64L)
      assert(r.getAs[Long]("files_after") === 4L)
    }
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count())
    // the compacted layout holds the same rows as the original table
    val sfName = new java.io.File(sf).getName
    val compact = spark.read.parquet(s"target/sink_compacted/$sfName")
    val orig = Tables.events(spark, sf)
      .select($"event_id", unix_timestamp($"ts").as("ts_s"))
    assert(compact.select($"event_id", $"ts_s").exceptAll(orig).count() === 0)
    assert(orig.exceptAll(compact.select($"event_id", $"ts_s")).count() === 0)
  }

  test("q_stream_static_join equals the batch enrichment join") {
    val got = q("q_stream_static_join")
      .select($"n_name", $"n_events", $"sum_cents")
      .as[(String, Long, Long)].collect().toSeq
    val expect = Tables.events(spark, sf)
      .withColumn("nkey", $"user_id" % 25)
      .join(Tables.nation(spark, sf)
        .select($"n_nationkey".cast("long").as("nkey"), $"n_name"), Seq("nkey"))
      .groupBy($"n_name")
      .agg(count("*").as("n"),
        sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .orderBy($"n_name")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === expect)
  }

  test("q_stream_join equals the batch interval self-join") {
    val got = q("q_stream_join").as[(Long, Long)].collect().toSet
    val e = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val expect = e.as("p").filter($"p.event_type" === "purchase")
      .join(e.as("v").filter(col("v.event_type") === "view"),
        col("p.user_id") === col("v.user_id") &&
        col("v.ts") >= col("p.ts") - expr("INTERVAL 10 MINUTES") &&
        col("v.ts") <= col("p.ts"))
      .select(col("p.event_id"), col("v.event_id"))
      .as[(Long, Long)].collect().toSet
    assert(got === expect)
  }

  test("q_stream_stateful state store results equal batch group-by") {
    val got = q("q_stream_stateful")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toMap
    val expect = Tables.events(spark, sf).groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
  }
}
