package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference user's API, end to end: everything
  * lyfer233/BitcoinMiningETL computes, as three calls on typed frames.
  *
  *   ingest(dir)            — O1/O3/O4/O5: payload JSON → typed
  *                            price/hashrate tables
  *                            (utils/extract.py:6-20, transform.py:9-31)
  *   appendRaw(t, dir)      — O6: the raw append sink
  *                            (transform.py:34-46 → parquet append)
  *   avgInfo(price, hash)   — O7-O13: per-5-minute averages of price and
  *                            hashrate/difficulty, flattened into one wide
  *                            row per window, with the reference's
  *                            previous-window price fallback
  *                            (utils/load.py:8-42)
  *   appendAvgInfo(df, dir) — O14: the avg_info append sink
  *                            (load.py:45-55)
  *
  * Differences from the reference, deliberate (SURVEY §7.4.3): typed
  * longs instead of str-cast numerics; one row per window instead of one
  * row per scheduler tick; decimal-exact averages (the reference wraps a
  * float division in Decimal, load.py:34-35); no ZeroDivisionError on an
  * empty hashrate window (the row is simply absent).
  */
object BitcoinEtl {

  /** Typed raw tables (the reference's `price` and `hashrate` MySQL
    * tables, init.sql:8-23). */
  case class RawTables(price: DataFrame, hashrate: DataFrame)

  /** Payload-shaped JSON directory → typed frames. The DSv2 source
    * already applies the reference's cleaning quirks (price-wins branch,
    * hashrate server_ts := spider_ts, error rows for bad payloads).
    *
    * Both frames, and every action on them, see one file set: the
    * directory is listed once, at the first action, and files landing
    * after it are read only by a fresh ingest. A count followed by
    * appendRaw of the same frame therefore agree. */
  def ingest(spark: SparkSession, payloadDir: String): RawTables = {
    val raw = spark.read.format("graft.sources.PayloadJsonSource")
      .option("path", payloadDir).load()
    val price = raw.filter(col("kind") === "price")
      .select(col("usd"),
        timestamp_seconds(col("server_ts")).as("server_ts"),
        timestamp_seconds(col("spider_ts")).as("spider_ts"))
    val hashrate = raw.filter(col("kind") === "hashrate")
      .select(col("hashrate"), col("difficulty"),
        timestamp_seconds(col("server_ts")).as("server_ts"),
        timestamp_seconds(col("spider_ts")).as("spider_ts"))
    RawTables(price, hashrate)
  }

  /** O6/O14: append sink (the MySQL INSERT path as a parquet append). */
  def appendRaw(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** The reference's one real query (O7-O13): 5-minute windowed averages
    * of both streams, joined at the window grain into the wide avg_info
    * row. Price windows with no rows fall back to the previous window's
    * average (O11, load.py:16-25); output rounds to 2 decimals like the
    * reference's f"{x:.2f}" (O13, load.py:52-53).
    */
  def avgInfo(price: DataFrame, hashrate: DataFrame): DataFrame = {
    def win(c: org.apache.spark.sql.Column) =
      unix_timestamp(window(c, "5 minutes").getField("start"))
    val p = price
      .groupBy(win(col("server_ts")).as("win_start"))
      .agg(sum(col("usd").cast("decimal(18,2)")).cast("decimal(38,2)").as("s"),
        count("*").as("n"))
      .select(col("win_start"),
        round(col("s") / col("n"), 2).cast("decimal(38,2)").as("avg_usd_w"))
    val h = hashrate
      .groupBy(win(col("server_ts")).as("win_start"))
      .agg(
        sum(col("hashrate").cast("decimal(28,0)")).cast("decimal(38,0)").as("sh"),
        sum(col("difficulty").cast("decimal(28,0)")).cast("decimal(38,0)").as("sd"),
        count("*").as("n"))
      .select(col("win_start"),
        round(col("sh") / col("n"), 2).cast("decimal(38,2)").as("avg_hashrate"),
        round(col("sd") / col("n"), 2).cast("decimal(38,2)").as("avg_difficulty"))
    // previous-window price fallback over the joint window axis
    val prevW = Window.orderBy(col("win_start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.join(p, Seq("win_start"), "full_outer")
      .withColumn("avg_usd",
        coalesce(col("avg_usd_w"),
          last(col("avg_usd_w"), ignoreNulls = true).over(prevW)))
      .filter(col("avg_hashrate").isNotNull) // hashrate has no fallback (load.py:30-35)
      .select(col("win_start"),
        col("avg_usd").cast("double").as("avg_usd"),
        col("avg_hashrate").cast("double").as("avg_hashrate"),
        col("avg_difficulty").cast("double").as("avg_difficulty"))
      .orderBy(col("win_start"))
  }

  def appendAvgInfo(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** The continuous form of the whole reference DAG: an UNSTARTED
    * streaming DataFrame over a payload-JSON landing directory that
    * emits one avg_info row per closed 5-minute window. The caller picks
    * the sink/trigger (`df.writeStream...start()`), i.e. the reference's
    * scheduler cadence becomes a trigger interval.
    *
    * Both logical streams flow through ONE windowed aggregation
    * (conditional aggregates instead of a stream-stream join of
    * aggregates — a single stateful operator, bounded state at the
    * watermark). The O11 fallback is deliberately absent in streaming:
    * the watermark's late-data tolerance replaces it (SURVEY O11's row —
    * the fallback is the reference's crude stand-in for lateness
    * handling).
    */
  def avgInfoStream(spark: SparkSession, payloadDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // the engine's own DSv2 MicroBatchStream over the landing directory —
    // the O1 poll loop as a streaming source (kind/server_ts typing,
    // error-row quirks already applied by the reader). maxFilesPerTrigger
    // bounds per-batch admission (the reference's sleep cadence as a rate
    // limit, via SupportsAdmissionControl).
    val rawReader = spark.readStream.format("graft.sources.PayloadJsonSource")
      .option("path", payloadDir)
    val raw = maxFilesPerTrigger
      .fold(rawReader)(m => rawReader.option("maxFilesPerTrigger", m.toString))
      .load()
    val typed = raw
      .filter(col("kind") =!= "error")
      .select(
        timestamp_seconds(col("server_ts")).as("server_ts"),
        col("usd"), col("hashrate"), col("difficulty"))
    typed
      .withWatermark("server_ts", "10 minutes")
      .groupBy(window(col("server_ts"), "5 minutes"))
      .agg(
        sum(col("usd").cast("decimal(18,2)")).cast("decimal(38,2)").as("ps"),
        count(col("usd")).as("pn"),
        sum(col("hashrate").cast("decimal(28,0)")).cast("decimal(38,0)").as("hs"),
        sum(col("difficulty").cast("decimal(28,0)")).cast("decimal(38,0)").as("ds"),
        count(col("hashrate")).as("hn"))
      .filter(col("hn") > 0)
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        round(col("ps") / col("pn"), 2).cast("double").as("avg_usd"),
        round(col("hs") / col("hn"), 2).cast("double").as("avg_hashrate"),
        round(col("ds") / col("hn"), 2).cast("double").as("avg_difficulty"))
  }
}
