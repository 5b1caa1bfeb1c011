package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink surface: the reference's one true source — HTTP JSON
  * payloads (O1, utils/extract.py:6-20) — as a DataSource V2 scan
  * ([[graft.sources.PayloadJsonSource]]) followed by the O3/O4/O5
  * clean-and-branch projection (utils/transform.py:9-31).
  *
  * The payload corpus is derived deterministically from the events
  * fixture (even event_id → price shape, odd → hashrate shape, one
  * malformed file → the reference's error path) and written under
  * target/ once per scale factor — test scaffolding standing in for the
  * HTTP hop, exactly like the reference's own mocked tests
  * (tests/test_transform.py:7-55).
  */
object SourceOps extends QueryPack {

  private val NPayloads = 300

  /** Last payload dir this JVM materialized — the lazy oracle renders its
    * read_json glob from it, so the oracle tracks whatever checkout dir and
    * sf the queries actually ran with (no absolute paths in the contract). */
  @volatile private var lastPayloadDir: Option[String] = None

  /** Deterministic payload corpus for one sf; idempotent. */
  def materializePayloads(s: SparkSession, d: String): String = {
    val dir = graft.Fs.staged("payloads", d,
        graft.FixtureStamp.stamp("v2", d, "events")) { dir =>
      import s.implicits._
      val rows = Tables.events(s, d)
        .orderBy($"event_id").limit(NPayloads)
        .select($"event_id", unix_timestamp($"ts").as("ts_s"), $"value")
        .as[(Long, Long, Double)].collect()
      rows.foreach { case (id, tsS, v) =>
        val spiderTs = 1700000000L + id
        val json =
          if (id % 2 == 0)
            s"""{"spider_ts": $spiderTs, "price_data": {"USD": ${math.round(v)}, "time": $tsS}}"""
          else
            s"""{"spider_ts": $spiderTs, "hash_rate_data": {"currentHashrate": ${math.round(v * 1e6)}, "currentDifficulty": ${math.round(v * 1e4)}}}"""
        Files.write(dir.resolve(f"payload_$id%06d.json"),
          json.getBytes(StandardCharsets.UTF_8))
      }
      // one malformed payload: exercises the reference's swallow-and-log
      // error path (extract.py:14-19) without failing the scan
      Files.write(dir.resolve("payload_bad.json"),
        "{not json".getBytes(StandardCharsets.UTF_8))
    }
    lastPayloadDir = Some(dir) // for the lazy oracle
    dir
  }

  /** Shared by the batch scan and its MicroBatchStream twin — identical
    * rows, so the identical oracle. Rendered lazily (Verify dumps oracles
    * AFTER running the queries) so the glob points at the dir this run
    * actually wrote, whatever the checkout path or sf. Before any payload
    * query ran in this JVM there is no such dir, and rendering throws
    * (`SparkEntry.oracleSql` then leaves the oracle out). */
  private def payloadOracle: String = {
    val dir = lastPayloadDir.getOrElse(throw new IllegalStateException(
      "payload oracle rendered before a payload query ran: no landing " +
        "dir (run the query fn first; Verify does)"))
    s"""SELECT
      CASE WHEN price_data IS NOT NULL THEN 'price'
           WHEN hash_rate_data IS NOT NULL THEN 'hashrate'
           ELSE 'error' END AS kind,
      spider_ts,
      price_data.USD AS usd,
      CASE WHEN price_data IS NOT NULL THEN price_data.time
           WHEN hash_rate_data IS NOT NULL THEN spider_ts END AS server_ts,
      hash_rate_data.currentHashrate AS hashrate,
      hash_rate_data.currentDifficulty AS difficulty
      FROM read_json('$dir/*.json',
        format = 'auto', union_by_name = true, ignore_errors = true)
      ORDER BY kind, spider_ts"""
  }
  // (ignore_errors turns the malformed payload into an all-NULL row,
  // which the CASE maps to kind='error' — same as the DSv2 reader)

  private val sourcePayload = QueryDef(
    "q_source_payload_json",
    (s, d) => {
      import s.implicits._
      val dir = materializePayloads(s, d)
      s.read.format("graft.sources.PayloadJsonSource")
        .option("path", dir).load()
        .select($"kind", $"spider_ts", $"usd", $"server_ts",
          $"hashrate", $"difficulty")
        .orderBy($"kind", $"spider_ts")
    },
    None,
    "DataSource V2 scan of reference-shaped JSON payloads + O3/O4 typing",
    oracleFn = Some(() => payloadOracle))

  // ------------------------------------- streaming payload source (O1/O2)
  // The SAME source as a real MicroBatchStream: the reference's poll loop
  // (main.py:79-98) with maxFilesPerTrigger as the cadence. Several
  // micro-batches drain the landing directory into a memory sink; the
  // union of batches must equal the batch scan — hence the shared oracle.
  private val streamSourcePayload = QueryDef(
    "q_stream_source_payload",
    (s, d) => {
      import s.implicits._
      val dir = materializePayloads(s, d)
      graft.streaming.StreamingOps.withStreamPartitions(s,
      graft.Fs.partitionsFor(dir)) { ss =>
        val q = ss.readStream.format("graft.sources.PayloadJsonSource")
          .option("path", dir)
          .option("maxFilesPerTrigger", "64") // ~5 micro-batches per sf
          .load()
          .writeStream.format("memory").queryName("graft_stream_payload")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
        ss.table("graft_stream_payload")
      }
        .select($"kind", $"spider_ts", $"usd", $"server_ts",
          $"hashrate", $"difficulty")
        .orderBy($"kind", $"spider_ts")
    },
    None,
    "Payload DSv2 source as a rate-limited MicroBatchStream; equals the batch scan",
    oracleFn = Some(() => payloadOracle))

  private def sinkDir(kind: String, d: String): String =
    graft.Fs.artifactDir(kind, d).toString

  /** Exact cents view of the double value column (decimal*100 as long) —
    * survives any text format without float round-trip concerns. */
  private def cents(s: SparkSession) = {
    import s.implicits._
    ($"value".cast("decimal(18,2)") * 100).cast("long")
  }

  // ---------------------------------------------- CSV sink + source
  // The append-sink analog of the reference's MySQL INSERT path (O6/O14,
  // utils/transform.py:34-46) over a text format: write the typed rows,
  // read them back with an explicit schema, aggregate. The oracle is the
  // direct aggregation — equality proves the round trip is lossless.
  private val sinkCsv = QueryDef(
    "q_sink_csv_roundtrip",
    (s, d) => {
      import s.implicits._
      val dir = sinkDir("sink_csv", d)
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING, ts_s LONG, value_cents LONG")
        .csv(dir)
        .groupBy($"event_type")
        .agg(count("*").as("n"),
          min($"event_id").as("min_id"), max($"ts_s").as("max_ts"),
          (sum($"value_cents").cast("decimal(38,2)") / 100)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      min(event_id) AS min_id,
      max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts,
      CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""),
    "CSV sink + schema'd source round trip; oracle = direct aggregation")

  // ---------------------------------------------- ORC sink + source
  // The second columnar format Spark ships natively. Same round-trip
  // contract as the text sinks; additionally the read-back filter must
  // reach the ORC scan as a pushed predicate (ORC keeps row-group
  // min/max stats like parquet, so pushdown skips stripes at scale —
  // SourceSinkSpec asserts PushedFilters on the plan).
  private val sinkOrc = QueryDef(
    "q_sink_orc_roundtrip",
    (s, d) => {
      import s.implicits._
      val dir = sinkDir("sink_orc", d)
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter($"event_id" >= 500L) // → PushedFilters into the ORC scan
        // (500 < max event_id at every fixture scale — sf0.001 tops out
        // at 999 — so the round trip is non-empty wherever the spec runs)
        .groupBy($"event_type")
        .agg(count("*").as("n"),
          min($"event_id").as("min_id"), max($"ts_s").as("max_ts"),
          (sum($"value_cents").cast("decimal(38,2)") / 100)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      min(event_id) AS min_id,
      max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts,
      CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DOUBLE) AS sum_value
      FROM events WHERE event_id >= 500
      GROUP BY event_type ORDER BY event_type"""),
    "ORC sink + source round trip with predicate pushdown into the scan")

  // ----------------------------------------------- text sink + source
  // The simplest format Spark ships — one string column per line — and
  // still a real pipeline format (log shipping, WET-style dumps). The
  // round trip proves a schema can be carried THROUGH a schemaless
  // format: typed fields serialize into a delimited line, the read-back
  // parses them out with split/element_at, and the aggregate equals the
  // direct one. Zero-shuffle write, one aggregate exchange on read.
  private val sinkText = QueryDef(
    "q_sink_text_roundtrip",
    (s, d) => {
      import s.implicits._
      val dir = sinkDir("sink_text", d)
      Tables.documents(s, d)
        .select(concat_ws("\t", $"doc_id", $"lang", $"n_chars").as("value"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir)
        .select(split($"value", "\t").as("f"))
        .select(element_at($"f", 1).cast("long").as("doc_id"),
          element_at($"f", 2).as("lang"),
          element_at($"f", 3).cast("long").as("n_chars"))
        .groupBy($"lang")
        .agg(count("*").as("n"), sum($"n_chars").as("sum_chars"),
          min($"doc_id").as("min_doc"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      min(doc_id) AS min_doc
      FROM documents GROUP BY lang ORDER BY lang"""),
    "Text-lines sink + source round trip through a delimited encoding")

  // --------------------------------------------- JSON sink + source
  private val sinkJson = QueryDef(
    "q_sink_json_roundtrip",
    (s, d) => {
      import s.implicits._
      val dir = sinkDir("sink_json", d)
      Tables.events(s, d)
        .select($"event_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
        .write.mode("overwrite").json(dir)
      s.read
        .schema("event_id LONG, event_type STRING, ts_s LONG, value_cents LONG")
        .json(dir)
        .groupBy($"event_type")
        .agg(count("*").as("n"),
          sum($"value_cents").as("sum_cents"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events GROUP BY event_type ORDER BY event_type"""),
    "JSON-lines sink + source round trip; oracle = direct aggregation")

  // --------------------------------------------- JDBC sink + source
  // The closest analog of the reference's actual sink — MySQL INSERTs
  // (O6/O14, utils/transform.py:34-46, load.py:45-55, static/init.sql) —
  // as a real df.write.jdbc round trip against embedded Derby (the JDBC
  // engine already on Spark's classpath). Same contract as the text
  // sinks: write the typed rows, read them back over JDBC, aggregate;
  // the oracle is the direct aggregation. At scale the URL points at a
  // server-side RDBMS and numPartitions fans the writers out; embedded
  // Derby is single-JVM, so the write coalesces to a few connections.
  private val sinkJdbc = QueryDef(
    "q_sink_jdbc_roundtrip",
    (s, d) => {
      import s.implicits._
      val url = s"jdbc:derby:${sinkDir("sink_jdbc", d)}/db;create=true"
      val props = new java.util.Properties()
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
        .coalesce(4)
        .write.mode("overwrite")
        .option("createTableColumnTypes",
          "event_id BIGINT, user_id BIGINT, event_type VARCHAR(32), " +
            "ts_s BIGINT, value_cents BIGINT")
        .option("batchsize", "10000")
        .jdbc(url, "events_raw", props)
      s.read.jdbc(url, "events_raw", props)
        .groupBy($"event_type")
        .agg(count("*").as("n"),
          min($"event_id").as("min_id"), max($"ts_s").as("max_ts"),
          (sum($"value_cents").cast("decimal(38,2)") / 100)
            .cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      min(event_id) AS min_id,
      max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts,
      CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""),
    "JDBC sink + source round trip (embedded Derby); oracle = direct aggregation")

  // ------------------------------- partitioned parquet sink + pruning
  // Hive-style partitioned layout: the write shards by event_type, the
  // read-back filter prunes to ONE partition directory before any I/O —
  // the physical plan's PartitionFilters list carries the predicate
  // (asserted in SourceSinkSpec). At 100 TB this is the difference
  // between scanning a shard and scanning the lake.
  private val sinkPartitioned = QueryDef(
    "q_sink_partitioned",
    (s, d) => {
      import s.implicits._
      val dir = sinkDir("sink_part", d)
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir)
        .filter($"event_type" === "purchase") // → PartitionFilters, zero non-purchase I/O
        .groupBy((floor($"ts_s" / 3600) * 3600).cast("long").as("hour_start"))
        .agg(count("*").as("n"),
          (sum($"value_cents").cast("decimal(38,2)") / 100)
            .cast("double").as("sum_value"))
        .orderBy($"hour_start")
    },
    Some("""SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600 AS hour_start,
      count(*) AS n,
      CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1"""),
    "Partitioned parquet sink; read-back prunes to one partition dir")

  // ------------------------------------- small-file compaction
  // The landing-zone maintenance op every streaming ingest needs: many
  // tiny files (one per trigger/writer) rewritten into few well-sized
  // ones. Stage 1 simulates the problem (64-way repartition write →
  // 64 small files); stage 2 compacts with a single coalesce rewrite
  // (coalesce, not repartition: file-merge needs NO shuffle — partitions
  // are unioned, not redistributed). The declared result proves the
  // rewrite: file counts from each layout plus content aggregates that
  // must survive compaction bit-for-bit. At 100 TB the same rewrite runs
  // per partition directory on a schedule.
  private val sinkCompaction = QueryDef(
    "q_sink_compaction",
    (s, d) => {
      import s.implicits._
      val small = sinkDir("sink_smallfiles", d)
      val compact = sinkDir("sink_compacted", d)
      val typed = Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_s"), cents(s).as("value_cents"))
      typed.repartition(64).write.mode("overwrite").parquet(small)
      s.read.parquet(small).coalesce(4)
        .write.mode("overwrite").parquet(compact)
      def nFiles(p: String): Long =
        Files.list(Paths.get(p)).iterator().asScala
          .count(f => f.toString.endsWith(".parquet")).toLong
      val agg = s.read.parquet(compact)
        .groupBy($"event_type")
        .agg(count("*").as("n"), min($"event_id").as("min_id"),
          max($"event_id").as("max_id"),
          sum($"value_cents").as("sum_cents"))
      agg
        .withColumn("files_before", lit(nFiles(small)))
        .withColumn("files_after", lit(nFiles(compact)))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      min(event_id) AS min_id, max(event_id) AS max_id,
      CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after
      FROM events GROUP BY event_type ORDER BY event_type"""),
    "Small-file compaction: 64-file landing layout -> 4-file coalesce " +
      "rewrite (no shuffle); content provably unchanged")

  // ------------------------------------------- schema evolution
  // A landing zone written over months drifts: files created before a
  // column existed sit next to files that carry it. The operator reads
  // BOTH vintages in one scan with a DECLARED unified schema — the 100 TB
  // path: `spark.read.schema(...)` plans from the declared schema alone,
  // touching no footers at planning time, and parquet's by-name column
  // resolution yields NULL for the column a vintage lacks. (The
  // alternative `mergeSchema=true` discovery read sweeps every file
  // footer at planning — fine for exploration, wrong as a production
  // default; SchemaEvolutionSpec proves the two reads agree and that
  // predicate pushdown reaches both vintages.) NULL-vs-absent is then a
  // plan-level `coalesce` to the pre-column default.
  //
  // Fixture: the documents corpus split by doc_id%3 — vintage-1 files
  // (doc_id%3=0) WITHOUT `lang`, vintage-2 files with it — landed as
  // plain part files in ONE flat directory, the real landing-zone shape.

  // v2: one file per vintage (the landing-zone builder's layout)
  private[graft] def schemaEvoDir(s: SparkSession, d: String): String =
    graft.Fs.landingZone("schema_evo", d,
        graft.FixtureStamp.stamp("v2", d, "documents")) {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Seq(docs.filter($"doc_id" % 3 === 0)
          .select($"doc_id", $"text"), // the pre-lang vintage
        docs.filter($"doc_id" % 3 =!= 0)
          .select($"doc_id", $"text", $"lang"))
    }

  /** The unified schema a reader DECLARES over the drifted zone. */
  private[graft] val evoSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)))

  private val schemaEvolution = QueryDef(
    "q_schema_evolution",
    (s, d) => {
      import s.implicits._
      val dir = schemaEvoDir(s, d)
      s.read.schema(evoSchema).parquet(dir)
        .select($"doc_id", $"text",
          coalesce($"lang", lit("und")).as("lang_eff"))
        .groupBy($"lang_eff")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("n_chars"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy($"lang_eff")
    },
    Some("""SELECT
      CASE WHEN doc_id % 3 = 0 THEN 'und'
           ELSE COALESCE(lang, 'und') END AS lang_eff,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(length(text)) AS BIGINT) AS n_chars,
      min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents GROUP BY 1 ORDER BY lang_eff"""),
    "Schema evolution: one declared-schema scan over a landing zone " +
      "whose older files lack the lang column (NULL by parquet name " +
      "resolution -> coalesce default); oracle recomputes from the " +
      "source corpus")

  // -------------------------- schema evolution v2 (r14, VERDICT r13 #5)
  // The added-column case above is the easy vintage. A years-old landing
  // zone also ships the two harder drifts: TYPE WIDENING (old files
  // wrote 32-bit ids before the key space outgrew them) and a RENAMED
  // column (lang_code → lang). Still ONE declared-schema scan:
  //   - widening: the declared schema says BIGINT; Spark 4's vectorized
  //     parquet reader up-casts INT32 leaves in place (the
  //     IntegerToLongUpdater path) — no per-vintage branch, no footer
  //     sweep, and pushed predicates are rewritten against the narrow
  //     physical type;
  //   - rename: parquet resolves by name, so the declared schema carries
  //     BOTH names (each NULL where absent) and the plan folds them with
  //     one coalesce — the column-mapping layer expressed in the plan.
  // Fixture: three vintages of the documents corpus in one flat dir —
  // v1 (doc_id%3=0): INT32 doc_id, no lang column at all;
  // v2 (doc_id%3=1): BIGINT doc_id, the OLD column name lang_code;
  // v3 (doc_id%3=2): BIGINT doc_id, the current name lang.
  // One file per vintage, mtimes pinned oldest-first (v2: the
  // landing-zone builder's layout).
  private[graft] def schemaEvo2Dir(s: SparkSession, d: String): String =
    graft.Fs.landingZone("schema_evo2", d,
        graft.FixtureStamp.stamp("v2", d, "documents")) {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Seq(docs.filter($"doc_id" % 3 === 0) // the int32-id, pre-lang vintage
          .select($"doc_id".cast("int").as("doc_id"), $"text"),
        docs.filter($"doc_id" % 3 === 1) // the renamed-column vintage
          .select($"doc_id", $"text", $"lang".as("lang_code")),
        docs.filter($"doc_id" % 3 === 2) // the current vintage
          .select($"doc_id", $"text", $"lang"))
    }

  /** The streaming view of the same zone: its pinned mtimes make the
    * stream admit the vintages oldest-first (v1 int32/pre-lang → v2
    * renamed → v3 current) — the production shape where a landing zone
    * drifts MID-STREAM (q_stream_schema_evolution). */
  private[graft] def schemaEvo2StreamDir(s: SparkSession, d: String): String =
    schemaEvo2Dir(s, d)

  /** The declared unified schema: widened id + BOTH lang names. */
  private[graft] val evo2Schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang_code",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)))

  private val schemaEvolution2 = QueryDef(
    "q_schema_evolution_v2",
    (s, d) => {
      import s.implicits._
      val dir = schemaEvo2Dir(s, d)
      s.read.schema(evo2Schema).parquet(dir)
        .select($"doc_id", $"text",
          coalesce($"lang", $"lang_code", lit("und")).as("lang_eff"))
        .groupBy($"lang_eff")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("n_chars"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy($"lang_eff")
    },
    Some("""SELECT
      CASE WHEN doc_id % 3 = 0 THEN 'und'
           ELSE COALESCE(lang, 'und') END AS lang_eff,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(length(text)) AS BIGINT) AS n_chars,
      min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents GROUP BY 1 ORDER BY lang_eff"""),
    "Schema evolution, hard vintages: one declared-schema scan over a " +
      "zone mixing an int32-id pre-lang vintage (widened in the " +
      "vectorized reader), a renamed-column vintage (both names " +
      "declared, one coalesce), and the current files; oracle " +
      "recomputes from the source corpus")

  override def defs: Seq[QueryDef] =
    Seq(sourcePayload, streamSourcePayload, sinkCsv, sinkOrc, sinkText,
      sinkJson, sinkJdbc, sinkPartitioned, sinkCompaction, schemaEvolution,
      schemaEvolution2)
}
