package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-data cleaning pipeline — the engine's user
  * story in one declared query, composed entirely from operators that
  * are individually oracle-verified elsewhere:
  *
  *   documents
  *     → quality gate   (type-token ratio; q_text_quality semantics)
  *     → exact dedup    (keep lowest doc_id per normalized-content hash;
  *                       q_dedup_exact semantics)
  *     → near-dup purge (drop the doc2 side of every exact 3-gram
  *                       Jaccard >= 0.5 pair; q_dedup_ngram_jaccard
  *                       semantics — left_anti join)
  *     → corpus stats per language
  *
  * Everything is one Catalyst plan: the gates are pushed filters, the
  * dedups are shuffle-on-key joins/aggregations, and the final stats is
  * a map-side-combined aggregation — the same shapes the round-1
  * physical-plan audit covered, composed.
  */
object CleanPipelineOps extends QueryPack {

  private def toks(c: Column): Column = split(lower(c), " +")

  /** The cleaned, deduplicated survivor set — quality gates (heuristic
    * TTR + model score, both pushed per-row filters) → exact dedup
    * (keep lowest doc_id per content hash) → near-dup purge (anti-join
    * against the shared J≥0.5 loser set). Shared by the stats pipeline
    * (q_pipeline_clean) and the shard materialization
    * (q_pipeline_shards); carries (doc_id, text, lang, n_chars, ttr). */
  private[graft] def keptDocs(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val quality = round(size(array_distinct(t)).cast("decimal(18,2)") / size(t), 6)
    // round-9 addition: the MODEL quality gate (hashed-ngram linear
    // scorer, TextOps.modelRawScore) composes after the heuristic TTR
    // gate — both are pushed per-row filters, still zero extra shuffle
    val (mn, mraw) = TextOps.modelRawScore($"text")
    val gated = Tables.documents(s, d)
      .withColumn("ttr", quality)
      .filter($"ttr" >= lit("0.30").cast("decimal(38,6)"))
      .withColumn("mn", mn).withColumn("mraw", mraw)
      .filter(TextOps.modelScore($"mn", $"mraw") >=
        lit(0).cast("decimal(38,6)"))
      .drop("mn", "mraw")
    val exactKept = gated
      .withColumn("chash", md5(regexp_replace(lower($"text"), "\\s+", " ")))
      .withColumn("keep", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"chash")))
      .filter($"doc_id" === $"keep")
    // distinct BEFORE the anti join: the loser set is bounded by corpus
    // size, the raw pair stream is bounded by Σdf² — broadcasting the
    // latter blew past the 8 GiB broadcast ceiling at 10× scale.
    // Reads the SHARED materialized pair set (DedupOps.sharedNgramPairs)
    // instead of recomputing pair generation (VERDICT r8 task 3).
    val nearDupLosers = DedupOps.sharedNgramPairs(s, d)
      .select($"doc2".as("doc_id")).distinct()
    exactKept.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** The DuckDB CTE chain producing the same survivor set (`kept`) —
    * the shared prefix of both pipeline oracles. */
  private val cleanCtes: String = {
    val g = TextOps.modelSqlGrams("text")
    val scoreSql = TextOps.modelSqlScore(
      s"CAST(len($g) AS BIGINT)", TextOps.modelSqlRaw(g))
    raw"""gated AS (
        SELECT doc_id, lang, n_chars, text,
          round(CAST(len(list_distinct(regexp_split_to_array(lower(text), ' +'))) AS DECIMAL(18,2))
            / len(regexp_split_to_array(lower(text), ' +')), 6) AS ttr
        FROM documents
        WHERE round(CAST(len(list_distinct(regexp_split_to_array(lower(text), ' +'))) AS DECIMAL(18,2))
            / len(regexp_split_to_array(lower(text), ' +')), 6) >= 0.30
          AND $scoreSql >= 0),
      exact_kept AS (
        SELECT * FROM (
          SELECT g.*, min(doc_id) OVER (PARTITION BY
            md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS keep
          FROM gated g)
        WHERE doc_id = keep),
      w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS w FROM documents),
      docs AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        FROM w WHERE len(w) >= 3),
      counts AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM docs),
      posting AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
      inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
        FROM posting a JOIN posting b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      losers AS (
        SELECT DISTINCT doc2 AS doc_id FROM inter
        JOIN counts c1 ON doc1 = c1.doc_id
        JOIN counts c2 ON doc2 = c2.doc_id
        WHERE CAST(round(CAST(i AS DECIMAL(18,2)) / (c1.n_sh + c2.n_sh - i), 6) AS DECIMAL(38,6)) >= 0.5),
      kept AS (SELECT * FROM exact_kept
        WHERE doc_id NOT IN (SELECT doc_id FROM losers))"""
  }

  private val pipelineClean = QueryDef(
    "q_pipeline_clean",
    (s, d) => {
      import s.implicits._
      keptDocs(s, d)
        .groupBy($"lang")
        .agg(count("*").as("n_docs"),
          sum($"n_chars").as("total_chars"),
          round(sum($"ttr").cast("decimal(38,6)") / count("*"), 6)
            .cast("decimal(38,6)").cast("double").as("avg_ttr"))
        .orderBy($"lang")
    },
    // raw interpolator: the SQL contains regex escapes (\s+) that the
    // s-interpolator would reject as invalid escape sequences
    Some(raw"""WITH $cleanCtes
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(CAST(round(CAST(sum(ttr) AS DECIMAL(38,6)) / count(*), 6) AS DECIMAL(38,6)) AS DOUBLE) AS avg_ttr
      FROM kept
      GROUP BY lang ORDER BY lang"""),
    "End-to-end cleaning pipeline: quality gates (heuristic + model) -> " +
      "exact dedup -> near-dup purge -> per-language corpus stats")

  // ------------------------------------------------ q_pipeline_shards
  // The pipeline's DELIVERABLE (what the cleaning stats only describe):
  // the cleaned survivor corpus chunked into context windows and packed
  // into per-shard token-budget bins — the training-shard manifest a
  // data loader consumes. Composed entirely from oracle-verified
  // pieces: keptDocs (the q_pipeline_clean survivor set) → ChunkText
  // (the q_text_chunk one-pass codegen kernel, 128-token windows,
  // 32-token overlap) → the q_pack_sequences running-sum bin rule
  // ([[BinBudget]]-token budget, shard = doc_id % 32).
  //
  // Scale shape: chunking is a pure map + bounded Generate; packing is
  // ONE shuffle on shard with a per-shard ordered running sum (the
  // shard count is the parallelism knob — 32 here, thousands at
  // 100 TB); the bin grouping reuses the shard partitioning. Nothing
  // global, no corpus-grain window.
  // One named budget interpolated into BOTH the Spark expr and the
  // DuckDB oracle (ADVICE r12: twin magic 512s can silently desync);
  // deliberately the same 512 as ShardOps.SeqLen — a bin holds exactly
  // one packed training sequence.
  private val BinBudget: Long = ShardOps.SeqLen.toLong

  private val pipelineShards = QueryDef(
    "q_pipeline_shards",
    (s, d) => {
      import s.implicits._
      val chunks = keptDocs(s, d)
        .select($"doc_id",
          explode(graft.functions.ChunkText.chunk_text(
            $"text", MixOps.ChunkLen, MixOps.ChunkOverlap)).as("c"))
        .select($"doc_id", $"c.chunk_idx",
          ($"c.end_tok" - $"c.start_tok").as("n_tokens"))
        .withColumn("shard", $"doc_id" % 32)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"doc_id", $"chunk_idx")
      chunks
        .withColumn("cum", sum($"n_tokens").over(w))
        // integer floor division (operands are non-negative longs): a
        // double divide loses integer exactness past 2^53 cumulative
        // tokens per shard, which a 100 TB corpus can reach (ADVICE r11)
        .withColumn("bin", expr(s"(cum - n_tokens) div $BinBudget"))
        .groupBy($"shard", $"bin")
        .agg(count("*").as("n_chunks"),
          countDistinct($"doc_id").as("n_docs"),
          sum($"n_tokens").cast("long").as("sum_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"shard", $"bin")
    },
    Some(raw"""WITH $cleanCtes,
      kt AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), ' +'),
            x -> x <> '') AS tk
        FROM kept),
      kc AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
          CASE WHEN len(tk) <= ${MixOps.ChunkLen} THEN 1
               ELSE 1 + CAST(floor((len(tk) - ${MixOps.ChunkLen} + ${MixOps.ChunkStride} - 1)
                                   / ${MixOps.ChunkStride}.0) AS BIGINT) END AS nc
        FROM kt WHERE len(tk) > 0),
      ch AS (SELECT doc_id, n_tok, unnest(range(0, nc)) AS chunk_idx FROM kc),
      cl AS (SELECT doc_id, chunk_idx, doc_id % 32 AS shard,
          least(chunk_idx * ${MixOps.ChunkStride} + ${MixOps.ChunkLen}, n_tok)
            - chunk_idx * ${MixOps.ChunkStride} AS n_tokens
        FROM ch),
      cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
          ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING) AS cum
        FROM cl)
      SELECT shard, CAST((cum - n_tokens) // $BinBudget AS BIGINT) AS bin,
        count(*) AS n_chunks,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM cum GROUP BY 1, 2 ORDER BY shard, bin"""),
    "Training-shard manifest: cleaned corpus -> context-window chunks " +
      "-> 512-token packed bins over 32 shards — the full pipeline " +
      "deliverable in one Catalyst plan")

  // ------------------------- deterministic split + systematic sample
  // The corpus-management tail of every training pipeline: carve
  // train/val/test on a deterministic key function (stable across runs
  // and engines — no RNG state to reconcile at 100 TB) and take a
  // systematic 1-in-7 audit sample the same way. Pure map + one
  // group-cardinality-bounded aggregation; rows never shuffle except by
  // (lang, split).
  private val sampleSplit = QueryDef(
    "q_sample_split",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("split",
          when($"doc_id" % 10 < 8, "train")
            .when($"doc_id" % 10 === 8, "val")
            .otherwise("test"))
        .withColumn("in_sample", ($"doc_id" % 7 === 0).cast("long"))
        .groupBy($"lang", $"split")
        .agg(
          count("*").as("n_docs"),
          sum($"in_sample").cast("long").as("n_sampled"),
          sum($"n_chars".cast("long")).cast("long").as("total_chars"))
        .orderBy($"lang", $"split")
    },
    Some("""SELECT lang,
        CASE WHEN doc_id % 10 < 8 THEN 'train'
             WHEN doc_id % 10 = 8 THEN 'val'
             ELSE 'test' END AS split,
        count(*) AS n_docs,
        CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY 1, 2 ORDER BY lang, split"""),
    "Deterministic train/val/test split + systematic audit sample")

  override def defs: Seq[QueryDef] =
    Seq(pipelineClean, pipelineShards, sampleSplit)
}
