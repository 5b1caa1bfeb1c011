package graft

import org.apache.spark.sql.functions._

/** q_stream_quality_gate: the streaming gate must emit exactly the batch
  * quality-model aggregation, and its landing zone must really be a
  * two-file (two-micro-batch) stream. */
class StreamQualitySpec extends SparkTestBase {
  import spark.implicits._

  test("streaming quality gate equals the batch recompute") {
    val got = q("q_stream_quality_gate")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    val (n, raw) = graft.operators.TextOps.modelRawScore($"text")
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", n.as("n_grams"), raw.as("raw"))
      .filter(graft.operators.TextOps.modelScore($"n_grams", $"raw") >=
        lit(0).cast("decimal(38,6)"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_pass"), sum($"n_grams").as("sum_grams"),
        sum($"raw").as("sum_raw"))
      .select($"source", $"n_pass", $"sum_grams".cast("long"),
        $"sum_raw".cast("long"),
        graft.operators.TextOps.modelScore($"sum_grams", $"sum_raw")
          .cast("double"))
      .orderBy($"source")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    // the gate must actually reject something and pass something at this
    // fixture, or the filter is vacuous
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.map(_._2).sum > 0L && got.map(_._2).sum < total)
  }

  test("q_stream_index_maintain: delta-log sum equals the batch index " +
      "stats, and terms spanning both halves received two deltas") {
    val got = q("q_stream_index_maintain")
      .as[(String, Long, Long, Long)].collect().toSeq
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", explode(array_remove(
        split(lower($"text"), " +"), "")).as("tok"))
      .groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("cf"),
        countDistinct($"doc_id" % 2).as("n_batches"))
      .select($"tok", $"df", $"cf", $"n_batches")
      .orderBy($"tok")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // the maintenance must genuinely be incremental: at least one term
    // accumulated deltas from BOTH micro-batches
    assert(got.exists(_._4 == 2L), "no term spanned two micro-batches")
  }

  test("the landing zone is a two-file stream (two micro-batches)") {
    val dir = graft.streaming.StreamingOps.streamDocsDir(spark, sf)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 2, s"expected 2 part files, got ${parts.length}")
  }

  test("q_stream_index_compact: read-equivalent to the delta log, and " +
      "the compacted read plans fewer files") {
    val compacted = q("q_stream_index_compact")
      .as[(String, Long, Long)].collect().toSeq
    val fromDeltas = q("q_stream_index_maintain")
      .select($"term", $"df", $"cf")
      .as[(String, Long, Long)].collect().toSeq
    assert(compacted == fromDeltas,
      "compaction changed the index contents")
    // the read-amplification win: the base index is a strictly smaller
    // file set than the delta log it folded
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles()
        .count(f => f.getName.endsWith(".parquet") ||
          f.getName.startsWith("part-"))
    val deltaDir = graft.Fs.artifactDir("sink_index_deltas", sf).toString
    val baseDir = graft.Fs.artifactDir("sink_index_base", sf).toString
    val nDelta = parquetFiles(deltaDir)
    val nBase = parquetFiles(baseDir)
    assert(nBase < nDelta,
      s"compaction must shrink the file set: base=$nBase delta=$nDelta")
    assert(nBase == 1, s"fixture-scale compaction target is 1 file, got $nBase")
    // and the planned scan reflects it: the compacted read's file scan
    // reports fewer files than the delta read's
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length.toLong
      }.sum
    val baseScan = plannedFiles(spark.read.parquet(baseDir))
    val deltaScan = plannedFiles(spark.read.parquet(deltaDir))
    assert(baseScan < deltaScan,
      s"planned file count must shrink: $baseScan vs $deltaScan")
  }

  test("q_stream_anomaly equals the batch z-flag pass row-for-row " +
      "(watermarked append windows -> same moments, same flags)") {
    val got = q("q_stream_anomaly")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val expect = q("q_anomaly_windows")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // every real window must have emitted exactly once (append-mode
    // close), and the fixture must actually flag something and pass
    // something or the gate is vacuous
    assert(got.map(r => (r._2, r._1)).distinct.length == got.length)
    val outliers = got.count(_._5 == 1L)
    assert(outliers > 0 && outliers < got.length,
      s"vacuous gate: $outliers outliers of ${got.length} windows")
  }

  test("q_stream_dedup_bloom sheds volume at the bloom gate, verifies " +
      "only candidates, and matches the batch gate (VERDICT r11 task 3)") {
    val stream = q("q_stream_dedup_bloom").collect()
    val batch = q("q_dedup_bloom").collect()
    // dup decisions identical to the batch bloom gate
    assert(stream.map(r => (r.getLong(0), r.getAs[Long]("is_dup")))
      .sortBy(_._1).toSeq ===
      batch.map(r => (r.getLong(0), r.getAs[Long]("is_dup")))
        .sortBy(_._1).toSeq)
    // the per-batch log carries bloom_hit: same filter state as batch,
    // every batch probed, no false negative end-to-end, volume shed
    val dir = graft.Fs.artifactDir("stream_dedup_bloom_out", sf).toString
    val log = spark.read.parquet(dir).collect()
    val hitByDoc = log.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("bloom_hit")).toMap
    batch.foreach(r => assert(
      hitByDoc(r.getLong(0)) === r.getAs[Long]("bloom_hit"),
      s"bloom_hit parity for doc ${r.getLong(0)}"))
    assert(log.filter(_.getAs[Long]("is_dup") === 1L)
      .forall(_.getAs[Long]("bloom_hit") === 1L), "no false negatives")
    val nCand = log.count(_.getAs[Long]("bloom_hit") === 1L)
    assert(nCand < log.length,
      s"bloom must shed volume: $nCand candidates of ${log.length}")
    assert(log.map(_.getAs[Long]("batch_id")).distinct.length >= 2,
      "the gate must have processed multiple micro-batches")
  }

  test("q_stream_state_inspect reads checkpoint state OFFLINE — a second " +
      "read with no stream running returns the same rows") {
    val first = q("q_stream_state_inspect").collect()
    assert(first.length > 0)
    // the checkpoint outlives the query; reading it again runs NO stream
    // (this is the whole point of the statestore source: state debugging
    // without replay). Same checkpoint -> same rows. Resolve the path
    // through the SAME RAM-backed-or-disk rule the query used (the r16
    // scratch-checkpoint move; a hard-coded disk path reads a stale or
    // absent checkpoint on any host with /dev/shm).
    val ck = graft.Fs.scratchCheckpointPath("stream_state_ck", sf).toString
    // streams run on POOLED SCOPED sessions whose StreamingQueryManagers
    // the outer session can't see — spark.streams.active here is always
    // empty and proves nothing (r12 review); enumerate the pool instead
    assert(graft.streaming.StreamingOps.activeScopedStreams.isEmpty,
      "no stream may be running on any scoped session")
    val again = spark.read.format("statestore").option("path", ck).load()
    assert(again.count() === first.length.toLong)
    // every (event_type, window) pair appears exactly once in state
    assert(first.map(r => (r.getString(0), r.getLong(1))).distinct.length
      === first.length)
  }

  test("q_stream_state_evict inspects OPEN windows only: eviction " +
      "happened, survivors end past the batch-0 watermark") {
    val open = q("q_stream_state_evict").collect()
    val full = q("q_stream_state_inspect").collect()
    assert(open.nonEmpty && open.length < full.length,
      s"watermark must evict closed windows (${open.length} vs ${full.length})")
    // every surviving window is open w.r.t. the batch-0 watermark:
    // wm = ms-floored max(batch-0 ts) - 10 min
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Tables.events(spark, sf).select($"ts")
    val sp = ev.agg(unix_timestamp(min($"ts")).as("a"),
        unix_timestamp(max($"ts")).as("b"))
      .select(expr("(a + b) div 2").as("sp")).head().getLong(0)
    val wmS = ev.filter($"ts" < timestamp_seconds(lit(sp)))
      .agg(((max($"ts").cast("double") * 1000).cast("long") - 600000L)
        .as("ms"))
      .select(expr("ms div 1000")).head().getLong(0)
    open.foreach { r =>
      assert(r.getAs[Long]("win_start") + 300L > wmS,
        s"closed window survived: ${r.mkString(",")}")
    }
    // and no open window was lost: full set restricted to open == open
    val expected = full.filter(_.getAs[Long]("win_start") + 300L > wmS)
    assert(open.length === expected.length, "open-window set must be complete")
  }

  test("q_stream_anomaly's epilogue reads from the parquet FILE sink, " +
      "not driver memory (unbounded-safe, VERDICT r11 task 4)") {
    val df = q("q_stream_anomaly")
    // logical-plan introspection: the physical plan is an AQE root whose
    // children only materialize at execution, so collect the scan
    // relations from the analyzed plan instead
    val scans = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(scans.nonEmpty && scans.forall(_.contains("stream_anomaly_out")),
      s"epilogue must scan the file-sink dir: $scans")
    // closed-window history is ON DISK — a restart could rebuild the
    // epilogue without the stream's driver state
    val outDir = scans.head.stripPrefix("file:")
    assert(new java.io.File(outDir).listFiles()
      .exists(_.getName.endsWith(".parquet")), "sink files must persist")
  }
}
