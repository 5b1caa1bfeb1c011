package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.api.BitcoinEtl
import org.apache.spark.sql.functions._

/** The reference user's end-to-end story through the facade, with the
  * reference's own golden values (tests/test_transform.py: USD=50000,
  * ts=1609459200 = 2021-01-01T00:00:00Z). */
class ApiSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = 1609459200L // window w0 start (aligned to 5 min)
  private def zone(name: String, payloads: Seq[(String, String)]): String = {
    val d = Paths.get("target", name)
    graft.Fs.deleteRecursively(d)
    Files.createDirectories(d)
    for ((file, json) <- payloads)
      Files.write(d.resolve(file), json.getBytes(StandardCharsets.UTF_8))
    d.toString
  }
  private val payloads = Seq(
    // w0 [t0, t0+300): two prices (50000, 50010), two hashrate rows
    "p1.json" -> s"""{"spider_ts": ${t0 + 10}, "price_data": {"USD": 50000, "time": ${t0 + 5}}}""",
    "p2.json" -> s"""{"spider_ts": ${t0 + 70}, "price_data": {"USD": 50010, "time": ${t0 + 65}}}""",
    "h1.json" -> s"""{"spider_ts": ${t0 + 20}, "hash_rate_data": {"currentHashrate": 1000, "currentDifficulty": 500}}""",
    "h2.json" -> s"""{"spider_ts": ${t0 + 80}, "hash_rate_data": {"currentHashrate": 3000, "currentDifficulty": 700}}""",
    // w1 [t0+300, t0+600): hashrate only -> price falls back to w0's avg
    "h3.json" -> s"""{"spider_ts": ${t0 + 310}, "hash_rate_data": {"currentHashrate": 5000, "currentDifficulty": 900}}""")
  private val dir = zone("test-api-payloads", payloads)

  test("ingest splits payloads into the reference's typed tables") {
    val t = BitcoinEtl.ingest(spark, dir)
    val p = t.price.orderBy($"server_ts")
      .select($"usd", unix_timestamp($"server_ts")).as[(Long, Long)].collect()
    assert(p.toSeq === Seq((50000L, t0 + 5), (50010L, t0 + 65)))
    // hashrate quirk preserved: server_ts := spider_ts (transform.py:25)
    val h = t.hashrate.orderBy($"server_ts")
      .select($"hashrate", $"difficulty", unix_timestamp($"server_ts"))
      .as[(Long, Long, Long)].collect()
    assert(h.toSeq === Seq((1000L, 500L, t0 + 20), (3000L, 700L, t0 + 80),
      (5000L, 900L, t0 + 310)))
  }

  test("avgInfo: per-window averages with previous-window price fallback") {
    val t = BitcoinEtl.ingest(spark, dir)
    val rows = BitcoinEtl.avgInfo(t.price, t.hashrate)
      .select($"win_start", $"avg_usd", $"avg_hashrate", $"avg_difficulty")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(rows === Seq(
      (t0, 50005.0, 2000.0, 600.0),        // both streams present
      (t0 + 300, 50005.0, 5000.0, 900.0))) // price absent -> previous avg
  }

  test("avgInfoStream emits the batch answer for fully-present windows") {
    val q = BitcoinEtl.avgInfoStream(spark, dir)
      .writeStream.format("memory").queryName("api_avg_stream")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("api_avg_stream")
      .orderBy($"win_start")
      .select($"win_start", $"avg_usd", $"avg_hashrate", $"avg_difficulty")
      .as[(Long, Option[Double], Double, Double)].collect().toSeq
    // streaming has no O11 fallback: w1's price is NULL, not carried over
    assert(rows === Seq(
      (t0, Some(50005.0), 2000.0, 600.0),
      (t0 + 300, None, 5000.0, 900.0)))
  }

  test("OpsListener observes batches and clean termination (O17 analog)") {
    val listener = graft.streaming.OpsListener.attach(spark)
    try {
      val q = BitcoinEtl.avgInfoStream(spark, dir)
        .writeStream.format("memory").queryName("api_ops_listener")
        .outputMode("complete")
        .start()
      q.processAllAvailable()
      q.stop()
      // listener delivery is async on the event bus — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while ((listener.terminatedCount < 1 ||
        !listener.batches.exists(_.numInputRows > 0)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(listener.startedCount >= 1)
      assert(listener.terminatedCount >= 1)
      assert(listener.failureMessages.isEmpty, "clean stop must not alert")
      val mine = listener.batches.filter(_.queryName == "api_ops_listener")
      assert(mine.exists(_.numInputRows > 0),
        s"expected a progress record with input rows, got ${listener.batches}")
      // the windowed agg holds state, so state rows must be visible
      assert(mine.exists(_.stateRows > 0))
    } finally graft.streaming.OpsListener.detach(spark, listener)
  }

  test("OpsListener captures the failure path (email_on_failure analog)") {
    val listener = graft.streaming.OpsListener.attach(spark)
    try {
      val q = BitcoinEtl.avgInfoStream(spark, dir)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          throw new RuntimeException("synthetic batch failure")
        }
        .outputMode("complete")
        .start()
      intercept[Exception] { q.processAllAvailable() }
      try q.stop() catch { case _: Throwable => () }
      val deadline = System.nanoTime() + 10e9.toLong
      while (listener.failureMessages.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(listener.failureMessages.nonEmpty, "failure must be alerted")
      assert(listener.failureMessages.exists(_.contains("synthetic batch failure")))
    } finally graft.streaming.OpsListener.detach(spark, listener)
  }

  test("observeQuality collects metrics in-flight with no extra pass") {
    val t = BitcoinEtl.ingest(spark, dir)
    val (observed, obs) =
      graft.streaming.OpsListener.observeQuality(t.hashrate, "hr_quality", "hashrate")
    val n = observed.count() // the ONE action; metrics ride along
    val row = obs.get
    assert(row("n_rows") === n)
    assert(row("n_null") === 0L)
    assert(row("sum_watch") === (1000.0 + 3000.0 + 5000.0))
  }

  test("reference pipeline at 3000 payloads: admission control bounds every batch") {
    // VERDICT r4 task 4: the whole O1→O14 path (payload landing zone →
    // DSv2 micro-batch source → watermarked 5-min window agg) at 3000+
    // files on the RocksDB state store, with SupportsAdmissionControl
    // holding the per-batch file count (1 payload row per file, so
    // numInputRows IS the admitted file count).
    val nFiles = 3000
    val maxPerTrigger = 256
    val pdir = graft.sources.PayloadCorpus.ensure("stress-api-payloads", nFiles)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = BitcoinEtl.avgInfoStream(ss, pdir, Some(maxPerTrigger))
      .writeStream.format("memory").queryName("api_avg_stream_10x")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.length >= nFiles / maxPerTrigger,
        s"expected >= ${nFiles / maxPerTrigger} non-empty batches, " +
          s"got ${progress.length}")
      val oversized = progress.filter(_.numInputRows > maxPerTrigger)
      assert(oversized.isEmpty,
        "admission control must cap every batch at maxFilesPerTrigger; " +
          s"violations: ${oversized.map(_.numInputRows).mkString(",")}")
      assert(progress.map(_.numInputRows).sum === nFiles.toLong,
        "every landed payload admitted exactly once")
      // the pipeline result: one wide row per 5-min window with hashrate
      // present (3000 files * 20 s spacing = 200 windows of 15 files)
      val rows = ss.table("api_avg_stream_10x")
      assert(rows.count() === 200L)
      assert(rows.filter($"avg_usd".isNull || $"avg_hashrate".isNull).count() === 0L)
      // batch and stream agree window for window: every window holds both
      // kinds, so the batch-only O11 fallback never fires on this zone
      val cols = Seq($"win_start", $"avg_usd", $"avg_hashrate", $"avg_difficulty")
      val t = BitcoinEtl.ingest(spark, pdir)
      val batch = BitcoinEtl.avgInfo(t.price, t.hashrate).select(cols: _*)
        .as[(Long, Double, Double, Double)].collect().toSeq
      val stream = rows.orderBy($"win_start").select(cols: _*)
        .as[(Long, Double, Double, Double)].collect().toSeq
      assert(batch.length === 200)
      assert(stream === batch)
    } finally q.stop()
  }

  test("the frames of one ingest plan against one listing of the zone") {
    val zone = Paths.get("target", "test-api-snapshot")
    graft.Fs.deleteRecursively(zone)
    Files.createDirectories(zone)
    def price(name: String, usd: Long): Unit = Files.write(zone.resolve(name),
      s"""{"spider_ts": $t0, "price_data": {"USD": $usd, "time": $t0}}"""
        .getBytes(StandardCharsets.UTF_8))
    price("p1.json", 50000L); price("p2.json", 50010L)
    val t = BitcoinEtl.ingest(spark, zone.toString)
    val n = t.price.count()
    assert(n === 2L)
    price("p3.json", 50020L) // lands after the first action of this ingest
    assert(t.price.count() === n, "a later action of the same ingest sees the same files")
    val out = "target/test-api-snapshot-out"
    graft.Fs.deleteRecursively(Paths.get(out))
    BitcoinEtl.appendRaw(t.price, out)
    assert(spark.read.parquet(out).count() === n, "the append writes what was counted")
    assert(BitcoinEtl.ingest(spark, zone.toString).price.count() === n + 1,
      "a fresh ingest sees the new file")
  }

  test("appendRaw of a 300-payload zone writes at most one file per core per table") {
    val zone = graft.sources.PayloadCorpus.ensure("test-api-smallfiles", 300)
    val t = BitcoinEtl.ingest(spark, zone)
    val out = Paths.get("target", "test-api-smallfiles-out")
    graft.Fs.deleteRecursively(out)
    for ((name, df) <- Seq("price" -> t.price, "hashrate" -> t.hashrate)) {
      val n = df.count()
      assert(n === 150L, name)
      val dir = out.resolve(name).toString
      BitcoinEtl.appendRaw(df, dir)
      val parts = new java.io.File(dir).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts >= 1 && parts <= spark.sparkContext.defaultParallelism,
        s"$name: $parts parquet files for $n rows")
      assert(spark.read.parquet(dir).count() === n, name)
    }
  }

  test("raw and avg_info append sinks round-trip") {
    val t = BitcoinEtl.ingest(spark, dir)
    val out = "target/test-api-out"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(out))
    BitcoinEtl.appendRaw(t.price, s"$out/price")
    BitcoinEtl.appendRaw(t.price, s"$out/price") // append, not overwrite
    assert(spark.read.parquet(s"$out/price").count() === 4)
    BitcoinEtl.appendAvgInfo(BitcoinEtl.avgInfo(t.price, t.hashrate),
      s"$out/avg_info")
    val back = spark.read.parquet(s"$out/avg_info")
    assert(back.count() === 2)
    assert(back.columns.sorted ===
      Array("avg_difficulty", "avg_hashrate", "avg_usd", "win_start"))
  }

  test("partial payloads: each average counts its own column, in batch and stream alike") {
    // the zone above plus four partial payloads: a price without USD and a
    // difficulty without hashrate land in w0; a price without time and a
    // hashrate without spider_ts have no server_ts, so no window
    val partial = zone("test-api-partial", payloads ++ Seq(
      "p3.json" -> s"""{"spider_ts": ${t0 + 30}, "price_data": {"time": ${t0 + 35}}}""",
      "p4.json" -> s"""{"spider_ts": ${t0 + 40}, "price_data": {"USD": 99999}}""",
      "h4.json" -> """{"hash_rate_data": {"currentHashrate": 7777, "currentDifficulty": 8888}}""",
      "h5.json" -> s"""{"spider_ts": ${t0 + 90}, "hash_rate_data": {"currentDifficulty": 100}}"""))
    val cols = Seq($"win_start", $"avg_usd", $"avg_hashrate", $"avg_difficulty")
    val t = BitcoinEtl.ingest(spark, partial)
    val batch = BitcoinEtl.avgInfo(t.price, t.hashrate).select(cols: _*)
      .as[(Option[Long], Option[Double], Double, Double)].collect().toSeq
    val q = BitcoinEtl.avgInfoStream(spark, partial)
      .writeStream.format("memory").queryName("api_avg_partial")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("api_avg_partial").orderBy($"win_start").select(cols: _*)
      .as[(Option[Long], Option[Double], Double, Double)].collect().toSeq
    // w0: USD (50000 + 50010) / 2, hashrate (1000 + 3000) / 2 and
    // difficulty (500 + 700 + 100) / 3
    val w0 = (Some(t0), Some(50005.0), 2000.0, 433.33)
    assert(batch === Seq(w0, (Some(t0 + 300), Some(50005.0), 5000.0, 900.0)))
    assert(stream === Seq(w0, (Some(t0 + 300), None, 5000.0, 900.0)))
  }
}
