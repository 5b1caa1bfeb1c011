package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.RadSig.rad_sig
import graft.functions.ScaledDot.{decimal_scale6, scaled_dot}
import graft.functions.TopKPairs.top_k_pairs

/** The persisted embedding-ANN index lifecycle (VERDICT r15 task 3) —
  * the third modality's cell in the store-lifecycle matrix. The media
  * and audio band indexes and the text posting index all have persisted
  * LSM artifacts with build → stream-maintain → compact → forget; the
  * embedding similarity side (SRP/IVF/IVFPQ, `SimilarityOps`) rebuilt
  * its structures per query — fine for a one-off, wrong for a serving
  * path (at 100 TB you do not re-hash the corpus per search).
  *
  * The artifact is a banded LSH signature relation, exactly the media
  * index's shape with Rademacher-SRP band keys instead of dHash bands:
  * (vec_id, sv, band, bkey), hive-partitioned by generation. `sv` is
  * the vector's exact scale-6 scaled-long form ([[graft.functions.DecimalScale6]])
  * carried alongside each band key — the pair-carry convention the
  * media index uses for `ph`: the probe join needs no second lookup to
  * exact-rerank. That is a ×Bands duplication of the vector
  * (4 × 64 longs/row); the deliberate trade is one equi-join serving
  * path vs a second join against a vector side-table — and the
  * engine's PQ/IVF queries (`q_embed_ivfpq`) already demonstrate the
  * compressed-code alternative for when vectors outgrow the carry.
  *
  * Unlike the gaussian-plane `q_simsearch_ann_srp` (audit-covered, no
  * oracle — a JVM PRNG stream is replayable by nobody else), this
  * family's hyperplanes are ±1 signs of splitmix64(seed + k·dim + i)
  * ([[graft.functions.RadSig]]), and every dot is exact scale-6 decimal
  * arithmetic — so DuckDB replays the ENTIRE chain (plane derivation →
  * signature → band buckets → candidate join → exact-decimal rerank)
  * and all five lifecycle queries get full hash oracles.
  *
  * Scale posture: signatures are bands×N narrow rows; search is the
  * bounded probe set broadcast against one equi-join on (band, bkey) —
  * the index side streams through a BroadcastHashJoin with no shuffle
  * and no corpus re-read; maintain hashes only the delta slice; forget
  * re-derives only the generations the delete touches (the
  * [[GenerationLayout.EmbedIndex]] rule bounds the blast radius from
  * ids alone). Recall/cost dial is (Bands, Bits): candidates/probe ≈
  * Bands·N/2^Bits, so at 1000× the corpus you raise Bits — the bucket
  * join stays an equi-join.
  *
  * Reference anchor: the reference has no ANN index (extract.py:6-20 is
  * a 507-line ETL); this family is the 100 TB extension tier mandated
  * alongside SURVEY §2 — same data model as `q_simsearch_cosine`
  * (embeddings: vec_id, 64-dim float).
  */
object EmbedIndexOps extends QueryPack {

  private[graft] val Bands = 4
  private[graft] val Bits = 8
  private[graft] val RadSeed = 20260816L
  private val Dim = 64
  private def Planes: Int = Bands * Bits
  private def K = SimilarityOps.K
  private def NQ = SimilarityOps.NQ

  // ----------------------------------------------------------- builders

  /** Exact scale-6 scaled vectors of a slice of the corpus — the ONE
    * representation the signature AND the rerank scorer share. */
  private def scaledVecs(s: SparkSession, d: String,
      keep: Column): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).filter(keep)
      .select($"vec_id", decimal_scale6($"embedding").as("sv"))
  }

  /** (vec_id, sv, band, bkey) index rows of a scaled-vector relation. */
  private def bandRows(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs.select($"vec_id", $"sv",
        posexplode(rad_sig($"sv", Bands, Bits, RadSeed)))
      .toDF("vec_id", "sv", "band", "bkey")
  }

  /** One generation's slice, SCALED AND HASHED ONLY FOR THAT SLICE —
    * the incremental-maintain contract (filter before the per-row
    * work). `keep` further restricts it (the forget rewrite passes the
    * survivor predicate). */
  private def genRows(s: SparkSession, d: String, delta: Boolean,
      keep: Column = lit(true)): DataFrame = {
    import s.implicits._
    val lay = GenerationLayout.EmbedIndex
    bandRows(scaledVecs(s, d,
      lay.slice($"vec_id") && lay.genSlice($"vec_id", delta) && keep))
  }

  /** Base build: band rows of the base slice, gen=0. */
  private[graft] def writeEmbedIndexBase(s: SparkSession, d: String,
      dir: String): Unit =
    genRows(s, d, delta = false)
      .withColumn("gen", lit(0))
      .write.mode("overwrite").partitionBy("gen").parquet(dir)

  /** Incremental maintain: ONLY the delta slice is scaled and hashed;
    * lands as new gen=1 files, base generation byte-untouched. */
  private[graft] def appendEmbedIndexDelta(s: SparkSession, d: String,
      dir: String): Unit =
    genRows(s, d, delta = true)
      .withColumn("gen", lit(1))
      .write.mode("append").partitionBy("gen").parquet(dir)

  /** One-pass two-generation build for the forget query's SCRATCH store
    * (r16, guide §1.2: cut the pass count): q_ann_index_forget rebuilds
    * its store per invocation, and the phased base+delta helpers each
    * re-ran the scale+hash map over their slice — deriving gen from the
    * id lands the identical (gen=0, gen=1) hive layout in ONE pass and
    * ONE write. The phased helpers stay: they ARE the maintain-path
    * contract (delta-only hashing) and the stamped index artifact's
    * builder. */
  private[graft] def buildEmbedIndexStore(s: SparkSession, d: String,
      dir: String): Unit = {
    import s.implicits._
    val lay = GenerationLayout.EmbedIndex
    bandRows(scaledVecs(s, d, lay.slice($"vec_id")))
      .withColumn("gen", lay.genOfInt($"vec_id"))
      .write.mode("overwrite").partitionBy("gen").parquet(dir)
  }

  /** The persisted index artifact, stamped per corpus version. */
  private[graft] def embedIndexDir(s: SparkSession, d: String): String =
    graft.Fs.staged("embed_rad_index", d,
        graft.FixtureStamp.stamp("v1", d, "embeddings")) { dir =>
      writeEmbedIndexBase(s, d, dir.toString)
      appendEmbedIndexDelta(s, d, dir.toString)
    }

  private def indexRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(dir)
      .select($"vec_id".as("cid"), $"sv".as("cv"), $"band", $"bkey")
  }

  // ------------------------------------------------------------- search

  /** Probe top-k over an arbitrary (cid, cv, band, bkey) index relation
    * — the ONE search plan every variant (per-run rebuild, batch LSM,
    * stream log, compacted base, post-forget store) shares: scale+hash
    * the BOUNDED probe set, broadcast it into one equi-join on
    * (band, bkey), exact scaled-long dot, per-probe bounded-heap top-k
    * (rank order (dot DESC, cid ASC) — [[graft.functions.TopKPairs]]).
    * The distinct collapses multi-band candidate duplicates AFTER
    * scoring (≤ Bands-fold redundant scoring, each 64 long
    * multiply-adds) rather than paying a second exchange to dedup
    * before it — the media index's measured trade. */
  private[graft] def probeTopK(s: SparkSession, d: String,
      idx: DataFrame, probeKeep: Column = lit(true)): DataFrame = {
    import s.implicits._
    val probes = scaledVecs(s, d, col("vec_id") < NQ && probeKeep)
      .select($"vec_id".as("qid"), $"sv".as("qv"))
    val pBands = probes
      .select($"qid", $"qv", posexplode(rad_sig($"qv", Bands, Bits, RadSeed)))
      .toDF("qid", "qv", "band", "bkey")
    broadcast(pBands)
      .join(idx, Seq("band", "bkey"))
      .filter($"qid" =!= $"cid")
      .select($"qid", $"cid", scaled_dot($"qv", $"cv").as("dot"))
      .distinct()
      .groupBy($"qid")
      .agg(top_k_pairs($"dot", $"cid", K).as("tk"))
      .select($"qid", posexplode($"tk"))
      .select($"qid", ($"pos" + 1).cast("long").as("rnk"),
        $"col.id".as("cid"), $"col.score".cast("double").as("dot"))
      .orderBy($"qid", $"rnk")
  }

  // ------------------------------------------------------------ oracles

  /** splitmix64 in DuckDB: UBIGINT state, xors/shifts native, each
    * 64×64→64 multiply split at 2^32 so no intermediate leaves signed
    * HUGEINT range — validated bit-for-bit against the JVM kernel. The
    * plane matrix is tiny (Planes×Dim signs) and derived once. */
  private def radCtes: String = s"""
    radpk AS (SELECT unnest(range(0, ${Planes * Dim})) AS pk),
    radz0 AS (SELECT pk, CAST((CAST($RadSeed AS HUGEINT) + pk
        + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z
      FROM radpk),
    radz1 AS (SELECT pk, xor(z, z >> 30) AS z FROM radz0),
    radz2 AS (SELECT pk, CAST(((CAST(z AS HUGEINT) % 4294967296)
        * 13787848793156543929
        + ((CAST(z AS HUGEINT) // 4294967296) * 13787848793156543929
           % 4294967296) * 4294967296)
        % 18446744073709551616 AS UBIGINT) AS z FROM radz1),
    radz3 AS (SELECT pk, xor(z, z >> 27) AS z FROM radz2),
    radz4 AS (SELECT pk, CAST(((CAST(z AS HUGEINT) % 4294967296)
        * 10723151780598845931
        + ((CAST(z AS HUGEINT) // 4294967296) * 10723151780598845931
           % 4294967296) * 4294967296)
        % 18446744073709551616 AS UBIGINT) AS z FROM radz3),
    radpl AS (SELECT pk // $Dim AS k, pk % $Dim AS i,
        CASE WHEN xor(z, z >> 31) >= 9223372036854775808
          THEN 1 ELSE -1 END AS s FROM radz4),
    radsv AS (SELECT k, list(s ORDER BY i) AS sv FROM radpl GROUP BY k),
    raddt AS (SELECT e.vec_id, p.k,
        list_sum(list_transform(range(1, ${Dim + 1}), i ->
          CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,6)) * p.sv[i]))
          AS dt
      FROM embeddings e CROSS JOIN radsv p),
    radsig AS MATERIALIZED (SELECT vec_id, CAST(k // $Bits AS BIGINT) AS band,
        CAST(sum(CASE WHEN dt > 0 THEN CAST(1 << (k % $Bits) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS bkey
      FROM raddt GROUP BY vec_id, k // $Bits)"""

  /** Exact-decimal dot of two embeddings rows — the q_simsearch_cosine
    * formula (proven bit-identical to [[graft.functions.ScaledDot]]). */
  private def dotSql(q: String, c: String): String =
    s"""CAST(round(list_sum(list_transform(range(1, ${Dim + 1}),
        i -> CAST(CAST(CAST($q.embedding[i] AS DOUBLE) AS DECIMAL(18,6))
           * CAST(CAST($c.embedding[i] AS DOUBLE) AS DECIMAL(18,6))
           AS DECIMAL(20,12)))), 6) AS DECIMAL(38,6))"""

  /** The banded-top-k oracle, shared verbatim by every variant — the
    * lifecycle changes WHERE signatures are served from, never what
    * they are. `probePred`/`idxPred` are extra conjuncts on the two
    * sides of the candidate join (the forget variant excludes the
    * delete set from both: the index must not surface a deleted vector,
    * and a deleted user's query vector is not replayed either). */
  private def searchSql(probePred: String = "",
      idxPred: String = ""): String = s"""WITH $radCtes,
    radc AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      FROM radsig q JOIN radsig c ON q.band = c.band AND q.bkey = c.bkey
      WHERE q.vec_id < $NQ AND q.vec_id <> c.vec_id $probePred $idxPred),
    rads AS (SELECT qid, cid,
        CAST(${dotSql("qe", "ce")} AS DOUBLE) AS dot,
        row_number() OVER (PARTITION BY qid
          ORDER BY ${dotSql("qe", "ce")} DESC, cid) AS rnk
      FROM radc JOIN embeddings qe ON radc.qid = qe.vec_id
        JOIN embeddings ce ON radc.cid = ce.vec_id)
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS BIGINT) AS rnk,
      CAST(cid AS BIGINT) AS cid, dot
    FROM rads WHERE rnk <= $K ORDER BY qid, rnk"""

  // ---------------------------------------------------- declared queries

  private val annRebuild = QueryDef(
    "q_simsearch_ann_rad",
    (s, d) => probeTopK(s, d, bandRows(scaledVecs(s, d, lit(true)))
      .toDF("cid", "cv", "band", "bkey")),
    Some(searchSql()),
    "ANN top-k via Rademacher-SRP banded LSH (splitmix64 ±1 planes, " +
      "exact scale-6 integer sign sums) + exact-decimal rerank, " +
      "computed per run from the corpus — the rebuild twin the " +
      "persisted-index variants must match and beat; full hash oracle " +
      "replays plane derivation -> signatures -> buckets -> rerank")

  private val annIndexed = QueryDef(
    "q_simsearch_ann_index",
    (s, d) => probeTopK(s, d, indexRead(s, embedIndexDir(s, d))),
    Some(searchSql()),
    "ANN top-k over the PERSISTED band-signature index (LSM base + " +
      "incremental delta generation; the maintain pass scales+hashes " +
      "only the delta slice): bounded probe set broadcast into one " +
      "(band, bkey) equi-join against the index read — the corpus is " +
      "never re-hashed; same full-replay hash oracle as the rebuild twin")

  // ---------------------------------------------- stream-maintained log

  /** Two-file embeddings landing zone (vec_id midpoint split, mtime-
    * pinned batch order) — the ingest-stream fixture for the
    * stream-maintained index. Idempotent per sf. */
  private[graft] def streamEmbedDir(s: SparkSession, d: String): String =
    graft.Fs.landingZone("stream_embed", d,
        graft.FixtureStamp.stamp("v1", d, "embeddings")) {
      import s.implicits._
      val vecs = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      val sp = vecs.agg(((max($"vec_id") + 1L) / 2L).cast("long"))
        .head().getLong(0)
      Seq(vecs.filter($"vec_id" < sp), vecs.filter($"vec_id" >= sp))
    }

  /** One stream micro-batch: scale+hash the arriving vectors, append
    * their signature delta as gen=batchId. Stateless — a replayed
    * at-least-once batch re-appends byte-identical rows and the search
    * read's distinct collapses them (each vec_id is admitted by exactly
    * one batch). */
  private[graft] def streamEmbedIndexBatch(batch: Dataset[Row],
      batchId: Long, out: String): Unit = {
    val s2 = batch.sparkSession
    import s2.implicits._
    bandRows(batch.select($"vec_id", decimal_scale6($"embedding").as("sv")))
      .withColumn("gen", lit(batchId))
      .write.mode("append").parquet(out)
  }

  private[graft] def streamEmbedIndexLog(s: SparkSession, d: String)
      : String =
    graft.Fs.staged("stream_embed_rad_index", d,
        graft.FixtureStamp.stamp("v1", d, "embeddings")) { outPath =>
      val dir = streamEmbedDir(s, d)
      val out = outPath.toString
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      graft.streaming.StreamingOps.withStreamPartitions(s,
        graft.Fs.partitionsFor(dir)) { ss =>
        val q = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(dir)
          .writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            streamEmbedIndexBatch(batch, batchId, out)
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }

  private val annStreamIndexed = QueryDef(
    "q_stream_ann_index",
    (s, d) => {
      val log = streamEmbedIndexLog(s, d)
      probeTopK(s, d, indexRead(s, log).distinct())
    },
    Some(searchSql()),
    "ANN top-k over the STREAM-maintained signature index: each ingest " +
      "micro-batch appends its scaled+hashed delta as gen=batchId (no " +
      "streaming-engine state; at-least-once replays collapse under the " +
      "distinct read); same full-replay hash oracle — the whole " +
      "stream->scale->hash->log->search chain under one hash")

  private val annStreamCompacted = QueryDef(
    "q_stream_ann_index_compact",
    (s, d) => {
      import s.implicits._
      val log = streamEmbedIndexLog(s, d)
      val basePath = graft.Fs.artifactDir("stream_embed_rad_base", d)
      s.read.parquet(log)
        .select($"vec_id", $"sv", $"band", $"bkey")
        .distinct()
        .coalesce(1)
        .write.mode("overwrite").parquet(basePath.toString)
      probeTopK(s, d, indexRead(s, basePath.toString))
    },
    Some(searchSql()),
    "Stream-index compaction: the per-batch signature log folded into " +
      "a single-file base (exactly-once distinct collapse, " +
      "q_sink_compaction layout rule); search over the compacted base " +
      "under the same full-replay hash oracle")

  // ------------------------------------------------------------- forget

  /** RTBF propagation into the embedding serving index — same bounded
    * blast radius as the media index: a vec_id's rows live in exactly
    * ONE generation, derivable from the id alone, so only the
    * generations the delete touches rewrite — via the shared
    * filter-in-place engine ([[IndexForget]]): the artifact's current
    * rows minus the delete set (survivors carried byte-for-byte,
    * nothing re-scaled or re-hashed, repeated forgets compose);
    * untouched generations keep their files byte-identical. */
  private[graft] def forgetEmbedIndex(s: SparkSession, d: String,
      dir: String, deletePred: Column): Unit = {
    import s.implicits._
    val lay = GenerationLayout.EmbedIndex
    val vecs = Tables.embeddings(s, d).filter(lay.slice($"vec_id"))
    val affected = vecs.filter(deletePred)
      .select(lay.genOfInt($"vec_id").as("gen"))
      .distinct().as[Int].collect().toSeq.sorted
    IndexForget.filterInPlace(s, dir, "vec_id",
      Seq("vec_id", "sv", "band", "bkey"), affected,
      vecs.filter(deletePred).select($"vec_id"))
  }

  private val annIndexForget = QueryDef(
    "q_ann_index_forget",
    (s, d) => {
      val dir = graft.Fs.artifactDir("embed_rad_index_forget", d).toString
      buildEmbedIndexStore(s, d, dir) // one scale+hash pass (r16)
      val pred = col("vec_id") % ShardOps.ForgetMod === ShardOps.ForgetRes
      forgetEmbedIndex(s, d, dir, pred)
      probeTopK(s, d, indexRead(s, dir), probeKeep = !pred)
    },
    Some(searchSql(
      probePred =
        s"AND NOT q.vec_id % ${ShardOps.ForgetMod} = ${ShardOps.ForgetRes}",
      idxPred =
        s"AND NOT c.vec_id % ${ShardOps.ForgetMod} = ${ShardOps.ForgetRes}")),
    "RTBF propagation into the embedding ANN index: affected " +
      "generations filtered in place (current artifact rows minus the " +
      "delete set — nothing re-scaled or re-hashed, repeated forgets " +
      "compose), dynamic partition overwrite, emptied generations " +
      "directory-dropped; post-forget search hash-equal to the " +
      "oracle's replay with the delete set excluded from both " +
      "candidate sides")

  // ------------------------------------------------------------- audit

  /** MEASURED recall — a first for the engine's ANN audits. The
    * SRP/IVF/IVFPQ audits pin deterministic recall FLOORS because
    * their hit counts are algorithm-specific (JVM-PRNG planes /
    * learned quantizers — DuckDB cannot recompute them); this family's
    * banded result replays in DuckDB like everything else, so the
    * audit ships the actual hit count as a hash-checked value: both
    * the exact decimal top-K truth and the banded candidate top-K are
    * recomputed independently by the oracle, and n_hits is their join
    * cardinality — no floor, no margin, no pinning risk. */
  private val annRadAudit = QueryDef(
    "q_simsearch_ann_rad_audit",
    (s, d) => {
      import s.implicits._
      val exact = SimilarityOps.exactTopK(s, d)
        .select($"qid", $"cid").cache()
      val found = probeTopK(s, d,
          bandRows(scaledVecs(s, d, lit(true)))
            .toDF("cid", "cv", "band", "bkey"))
        .select($"qid", $"cid")
      val hits = exact.join(found, Seq("qid", "cid"), "left_semi")
      exact.agg(
          countDistinct($"qid").cast("long").as("n_queries"),
          count(lit(1)).cast("long").as("n_exact_topk"))
        .crossJoin(broadcast(found.agg(
          count(lit(1)).cast("long").as("n_found"))))
        .crossJoin(broadcast(hits.agg(
          count(lit(1)).cast("long").as("n_hits"))))
    },
    Some(s"""WITH $radCtes,
      radc AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        FROM radsig q JOIN radsig c ON q.band = c.band AND q.bkey = c.bkey
        WHERE q.vec_id < $NQ AND q.vec_id <> c.vec_id),
      fnd AS MATERIALIZED (SELECT qid, cid FROM (SELECT qid, cid,
          row_number() OVER (PARTITION BY qid
            ORDER BY ${dotSql("qe", "ce")} DESC, cid) AS rnk
        FROM radc JOIN embeddings qe ON radc.qid = qe.vec_id
          JOIN embeddings ce ON radc.cid = ce.vec_id)
        WHERE rnk <= ${SimilarityOps.K}),
      tk AS MATERIALIZED (SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${dotSql("q", "c")} DESC, c.vec_id) AS rnk
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < $NQ AND q.vec_id <> c.vec_id)
        WHERE rnk <= ${SimilarityOps.K})
      SELECT CAST((SELECT count(DISTINCT qid) FROM tk) AS BIGINT) AS n_queries,
        CAST((SELECT count(*) FROM tk) AS BIGINT) AS n_exact_topk,
        CAST((SELECT count(*) FROM fnd) AS BIGINT) AS n_found,
        CAST((SELECT count(*) FROM tk JOIN fnd USING (qid, cid)) AS BIGINT)
          AS n_hits"""),
    "Rademacher-ANN recall audit with MEASURED hits: exact decimal " +
      "top-K truth and banded top-K both replayed independently by the " +
      "oracle; n_hits is their exact intersection — a hash-checked " +
      "recall number, not a pinned floor")

  override def defs: Seq[QueryDef] = Seq(
    annRebuild, annIndexed, annStreamIndexed, annStreamCompacted,
    annIndexForget, annRadAudit)
}
