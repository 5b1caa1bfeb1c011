package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a production training-data pipeline runs
  * between ingest and training — the tier above cleaning/dedup
  * ([[CleanPipelineOps]], [[DedupOps]]): CDC upserts into the corpus,
  * stratified subsampling, context-window sequence packing, PII-style
  * scrubbing, and test-set decontamination.
  *
  * (The reference has no analog tier — its pipeline ends at MySQL AVG
  * rows, static/init.sql — but the mandate's LLM-pipeline surface does.)
  *
  * Scale posture: every op here is one shuffle or less. The merge
  * shuffles once on the merge key; sampling and scrubbing are pure maps;
  * packing windows over bounded shards; decontamination broadcasts the
  * (tiny) test-set gram index and never shuffles the corpus.
  */
object CurationOps extends QueryPack {

  // ----------------------------------------------------- CDC upsert merge
  // Latest-wins MERGE: base ∪ updates ∪ inserts reduced to one row per
  // key by (ts, src) recency — the lakehouse MERGE INTO pattern as a
  // declarative window. The updates/inserts are derived deterministically
  // from the fixture (no side files): every 7th key gets a newer, bumped
  // row; every 97th key also appears as a fresh insert key. One shuffle
  // on the merge key; at 100 TB the same plan runs per partition after
  // pruning to the touched partitions.
  private val mergeUpsert = QueryDef(
    "q_merge_upsert",
    (s, d) => {
      import s.implicits._
      val base = Tables.events(s, d).select(
        $"event_id",
        unix_timestamp($"ts").as("ts_s"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("value_cents"),
        lit(0L).as("src"))
      val upd = base.filter($"event_id" % 7 === 0)
        .select($"event_id", ($"ts_s" + 3600L).as("ts_s"),
          ($"value_cents" + 100L).as("value_cents"), lit(1L).as("src"))
      val ins = base.filter($"event_id" % 97 === 0)
        .select(($"event_id" + 10000000L).as("event_id"), $"ts_s",
          $"value_cents", lit(1L).as("src"))
      val w = Window.partitionBy($"event_id")
        .orderBy($"ts_s".desc, $"src".desc)
      base.unionByName(upd).unionByName(ins)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn")
        .orderBy($"event_id")
    },
    Some("""WITH base AS (SELECT event_id,
        CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
        CAST(0 AS BIGINT) AS src FROM events),
      upd AS (SELECT event_id, ts_s + 3600 AS ts_s,
        value_cents + 100 AS value_cents, CAST(1 AS BIGINT) AS src
        FROM base WHERE event_id % 7 = 0),
      ins AS (SELECT event_id + 10000000 AS event_id, ts_s, value_cents,
        CAST(1 AS BIGINT) AS src FROM base WHERE event_id % 97 = 0),
      u AS (SELECT * FROM base UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins)
      SELECT event_id, ts_s, value_cents, src FROM u
      QUALIFY row_number() OVER (PARTITION BY event_id
        ORDER BY ts_s DESC, src DESC) = 1
      ORDER BY event_id"""),
    "Latest-wins CDC merge (MERGE INTO pattern): one shuffle on the key")

  // ------------------------------------------------- stratified sampling
  // Per-stratum subsampling with language-dependent rates — the corpus
  // rebalancing step every multilingual pipeline runs. The keep decision
  // is a DETERMINISTIC key function (doc_id mod 100 vs the stratum rate),
  // not an RNG, so it is reproducible across engines, restarts and
  // cluster sizes — same rationale as q_sample_split. Pure map + one
  // vocabulary-bounded aggregate.
  private val sampleStratified = QueryDef(
    "q_sample_stratified",
    (s, d) => {
      import s.implicits._
      val rate = when($"lang" === "en", 50L)
        .when($"lang" === "zh", 25L).otherwise(10L)
      val kept = $"doc_id" % 100 < rate
      Tables.documents(s, d)
        .groupBy($"lang")
        .agg(count("*").as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          sum(when(kept, $"n_chars").otherwise(0L)).as("kept_chars"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_total,
      CAST(sum(CASE WHEN doc_id % 100 <
        (CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN doc_id % 100 <
        (CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END)
        THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM documents GROUP BY lang ORDER BY lang"""),
    "Deterministic per-language stratified sampling rates (key mod, no RNG)")

  // ---------------------------------------------- sequence packing
  // Context-window packing: concatenate documents in a fixed order and
  // chunk the token stream into 512-token windows (the GPT-style
  // pack-then-chunk layout). A document's window is where its FIRST
  // token lands: bin = floor(preceding_tokens / 512) over a running sum.
  // Packing runs per SHARD (doc_id mod 32), not globally — a global
  // running sum would serialize into one partition, while 32 shards
  // match the cluster's parallelism and each shard's window is an
  // independent sort, exactly how per-worker packing runs at 100 TB.
  private val packSequences = QueryDef(
    "q_pack_sequences",
    (s, d) => {
      import s.implicits._
      val Budget = 512.0
      val docs = Tables.documents(s, d).select(
        $"doc_id",
        size(split(lower($"text"), " +")).cast("long").as("n_tokens"),
        ($"doc_id" % 32).as("shard"))
      val w = Window.partitionBy($"shard").orderBy($"doc_id")
      docs
        .withColumn("cum", sum($"n_tokens").over(w))
        .withColumn("bin",
          floor(($"cum" - $"n_tokens") / lit(Budget)).cast("long"))
        .groupBy($"shard", $"bin")
        .agg(count("*").as("n_docs"),
          sum($"n_tokens").as("sum_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"shard", $"bin")
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(lower(text), ' +')) AS BIGINT) AS n_tokens,
        doc_id % 32 AS shard FROM documents),
      c AS (SELECT doc_id, n_tokens, shard,
        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
        count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1, 2 ORDER BY shard, bin"""),
    "Context-window sequence packing (512-token bins) over parallel shards")

  // --------------------------------------------------- PII-style scrub
  // Redaction pass: digit runs replaced with a mask token, plus the
  // audit facts (match count, scrubbed length) a compliance pipeline
  // logs. Pure map — regexp_replace/regexp_extract_all stay inside
  // whole-stage codegen; at 100 TB this is a zero-shuffle scan.
  // The digit-run pattern is dialect-portable (identical semantics in
  // Java regex and RE2), which is what makes the oracle exact.
  private val redactScrub = QueryDef(
    "q_redact_scrub",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id",
          regexp_replace($"props", "[0-9]+", "#").as("scrubbed"),
          size(regexp_extract_all($"props", lit("[0-9]+"), lit(0)))
            .cast("long").as("n_hits"))
        .withColumn("scrub_len", length($"scrubbed").cast("long"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id,
      regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
      CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits,
      CAST(len(regexp_replace(props, '[0-9]+', '#', 'g')) AS BIGINT) AS scrub_len
      FROM events ORDER BY event_id"""),
    "Redaction scrub + audit counts; zero-shuffle codegen map")

  // ---------------------------------------- test-set decontamination
  // The pretraining hygiene op: flag corpus documents sharing any word
  // 4-gram with the held-out test set (here: every 50th doc stands in
  // for the benchmark suite; production uses longer grams — 4 is the
  // longest that yields non-trivial overlap on the 31-word fixture
  // vocabulary, and the shape is gram-length-independent). The test side is SMALL by construction —
  // its distinct gram index broadcasts — so contamination becomes a
  // map-side broadcast join over the corpus gram stream + one groupBy
  // per flagged doc. The corpus is never shuffled and no pairwise doc
  // comparison exists; at 100 TB this is the only viable shape.
  /** Contamination decision threshold: a doc is contaminated iff at
    * least this fraction of its distinct 4-grams hits the held-out
    * index. Any-hit (the pre-round-9 rule) is brittle both ways at web
    * scale — one boilerplate 4-gram flags an innocent doc, while a
    * paraphrased leak that shares many grams is indistinguishable from
    * it; the published decontamination setups (GPT-3 appendix C,
    * FineWeb) use overlap fractions for exactly this reason. */
  private val DecontamThreshold = "0.20"

  private val decontaminate = QueryDef(
    "q_decontaminate",
    (s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id",
          graft.functions.WordNGrams
            .word_ngrams(split(lower($"text"), " +"), 4).as("sh"))
        .filter(size($"sh") > 0)
      val testGrams = sh.filter($"doc_id" % 50 === 0)
        .select(explode($"sh").as("g")).distinct()
      val corpus = sh.filter($"doc_id" % 50 =!= 0)
      // only the HIT stream (bounded by the index size × corpus hits)
      // shuffles to the per-doc count; the corpus gram stream reaches
      // the broadcast join map-side, unshuffled
      val hits = corpus
        .select($"doc_id", explode($"sh").as("g"))
        .join(broadcast(testGrams), Seq("g"))
        .groupBy($"doc_id")
        .agg(count("*").as("n_hits")) // grams are distinct per doc
      val overlapDec = round($"n_hits".cast("decimal(18,2)") / $"n_sh", 6)
        .cast("decimal(38,6)")
      corpus.select($"doc_id", size($"sh").cast("long").as("n_sh"))
        .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hits"))
        .select($"doc_id", $"n_sh", $"n_hits",
          overlapDec.cast("double").as("overlap"),
          (overlapDec >= lit(DecontamThreshold).cast("decimal(38,6)"))
            .cast("long").as("contaminated"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS w
        FROM documents),
      docs AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        FROM w WHERE len(w) >= 4),
      tg AS (SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id % 50 = 0),
      cg AS (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id % 50 <> 0),
      hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM cg JOIN tg USING (g) GROUP BY doc_id),
      res AS (
        SELECT d.doc_id, CAST(len(d.sh) AS BIGINT) AS n_sh,
          COALESCE(h.n_hits, 0) AS n_hits,
          CAST(round(CAST(COALESCE(h.n_hits, 0) AS DECIMAL(18,2))
            / len(d.sh), 6) AS DECIMAL(38,6)) AS ov
        FROM docs d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 50 <> 0)
      SELECT doc_id, n_sh, n_hits, CAST(ov AS DOUBLE) AS overlap,
        CAST(CASE WHEN ov >= $DecontamThreshold THEN 1 ELSE 0 END AS BIGINT)
          AS contaminated
      FROM res ORDER BY doc_id"""),
    "Test-set 4-gram decontamination: broadcast test-gram index, " +
      "map-side join, overlap-fraction contamination decision")

  // --------------------------------- importance-weighted data selection
  // DSIR-style selection (Xie et al., "Data Selection for Language Models
  // via Importance Resampling", NeurIPS 2023): score every corpus
  // document by the likelihood ratio of a TARGET-domain bag-of-hashed-
  // grams model to the raw-corpus model. The published estimator works in
  // log space with float probabilities; this is the exact-arithmetic
  // variant of the same statistic — per-bucket Laplace-smoothed ratios
  // fixed at 6 decimal places and summed per document in integer
  // MILLIONTHS — so the hash oracle proves it bit-for-bit (the
  // decimal-avg precedent; a log-space twin would hash-diverge on libm).
  //
  // Scale shape: both bucket models are ≤[[DsirBuckets]] rows built with
  // map-side combine; their join, the totals (unpartitioned window over
  // the bucket-sized relation — no 1-row cross join, no BNLJ), and the
  // ratio table stay bucket-sized and broadcast. The corpus token stream
  // md5-buckets as a pure map, joins the broadcast ratio map-side, and
  // shuffles ONCE on doc_id for the per-doc sum. No corpus-sized
  // relation is ever collected, broadcast, or pair-joined — the only
  // shape that survives scoring a 100 TB corpus against a curated target.
  private[graft] val DsirBuckets = 1024L
  /** Target-domain slice: source='src0' (5% of the fixture corpus) —
    * stands in for the curated high-quality target set a production DSIR
    * run fits its target model on. */
  private val DsirTarget = "src0"

  private val dsirWeights = QueryDef(
    "q_dsir_weights",
    (s, d) => {
      import s.implicits._
      val tok = Tables.documents(s, d)
        .select($"doc_id", $"source",
          explode(split(lower($"text"), " +")).as("w"))
        .filter($"w" =!= "")
        .select($"doc_id", $"source",
          OpHash.md5Bucket($"w", DsirBuckets).as("b"))
      val raw = tok.groupBy($"b").agg(count(lit(1)).as("r_cnt"))
      val tgt = tok.filter($"source" === DsirTarget)
        .groupBy($"b").agg(count(lit(1)).as("t_cnt"))
      val all = Window.partitionBy()
      // per-bucket ratio in millionths, plus the corpus totals the
      // RELATIVE selection rule needs (Laplace mass over B buckets
      // deflates every absolute ratio on a small-vocab corpus, so "w>=1"
      // would be corpus-size-dependent; DSIR selects by relative weight
      // anyway). s_tot = Σ_b r_b·w_mil and r_tot = Σ_b r_b ride along
      // from bucket-sized windows — never a corpus-sized window or a
      // 1-row cross join.
      val ratio = raw.join(tgt, Seq("b"), "left")
        .na.fill(0L, Seq("t_cnt"))
        .withColumn("rt", sum($"r_cnt").over(all))
        .withColumn("tt", sum($"t_cnt").over(all))
        .withColumn("w_mil",
          (round((($"t_cnt" + 1L) * ($"rt" + DsirBuckets)).cast("decimal(18,2)") /
              (($"r_cnt" + 1L) * ($"tt" + DsirBuckets)), 6)
            .cast("decimal(38,6)") * 1000000L).cast("long"))
        .withColumn("s_tot", sum($"r_cnt" * $"w_mil").over(all))
        .select($"b", $"w_mil", $"s_tot", $"rt".as("r_tot"))
      val perDoc = tok
        .join(broadcast(ratio), "b")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"), sum($"w_mil").as("sum_mw"),
          max($"s_tot").as("s_tot"), max($"r_tot").as("r_tot"))
      val avgDec = round($"sum_mw".cast("decimal(18,2)") / ($"n_tok" * 1000000L), 6)
        .cast("decimal(38,6)")
      // selected iff the doc's mean ratio >= the corpus token-weighted
      // mean: sum_mw/n_tok >= s_tot/r_tot, cross-multiplied in
      // decimal(38,0) so the comparison is integer-exact at any corpus
      // size (no division, no float)
      Tables.documents(s, d).select($"doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_tok", "sum_mw"))
        .select($"doc_id", $"n_tok", $"sum_mw",
          when($"n_tok" > 0, avgDec).otherwise(lit(0).cast("decimal(38,6)"))
            .cast("double").as("weight"),
          ($"n_tok" > 0 &&
            $"sum_mw".cast("decimal(38,0)") * $"r_tot" >=
              $"n_tok".cast("decimal(38,0)") * $"s_tot")
            .cast("long").as("selected"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH tk AS (
        SELECT doc_id, source, w FROM (
          SELECT doc_id, source,
            unnest(regexp_split_to_array(lower(text), ' +')) AS w
          FROM documents) WHERE w <> ''),
      bk AS MATERIALIZED (
        SELECT doc_id, source,
          CAST(list_sum(list_transform(range(1, 9), i ->
              (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
                * (16 ** (8 - i))))
            AS BIGINT) % $DsirBuckets AS b
        FROM tk),
      raw AS (SELECT b, CAST(count(*) AS BIGINT) AS r_cnt FROM bk GROUP BY 1),
      tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt FROM bk
        WHERE source = '$DsirTarget' GROUP BY 1),
      rb AS (SELECT b, r_cnt, COALESCE(t_cnt, 0) AS t_cnt,
          CAST(SUM(r_cnt) OVER () AS BIGINT) AS rt,
          CAST(SUM(COALESCE(t_cnt, 0)) OVER () AS BIGINT) AS tt
        FROM raw LEFT JOIN tgt USING (b)),
      ratio AS (
        SELECT b, w_mil,
          CAST(SUM(CAST(r_cnt AS HUGEINT) * w_mil) OVER () AS BIGINT) AS s_tot,
          rt AS r_tot
        FROM (SELECT b, r_cnt, rt,
            CAST(CAST(round(
              CAST((t_cnt + 1) * (rt + $DsirBuckets) AS DECIMAL(18,2))
              / ((r_cnt + 1) * (tt + $DsirBuckets)),
              6) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS w_mil
          FROM rb)),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
          CAST(sum(w_mil) AS BIGINT) AS sum_mw,
          max(s_tot) AS s_tot, max(r_tot) AS r_tot
        FROM bk JOIN ratio USING (b) GROUP BY 1)
      SELECT d.doc_id, COALESCE(p.n_tok, 0) AS n_tok,
        COALESCE(p.sum_mw, 0) AS sum_mw,
        CAST(CASE WHEN COALESCE(p.n_tok, 0) > 0
          THEN CAST(round(CAST(p.sum_mw AS DECIMAL(18,2)) / (p.n_tok * 1000000), 6)
            AS DECIMAL(38,6))
          ELSE CAST(0 AS DECIMAL(38,6)) END AS DOUBLE) AS weight,
        CAST(CASE WHEN COALESCE(p.n_tok, 0) > 0
            AND CAST(p.sum_mw AS HUGEINT) * p.r_tot
              >= CAST(p.n_tok AS HUGEINT) * p.s_tot
          THEN 1 ELSE 0 END AS BIGINT) AS selected
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id"""),
    "DSIR importance weighting: hashed-unigram target/raw likelihood " +
      "ratios in exact decimal millionths, bucket-sized models broadcast, " +
      "one doc_id shuffle")

  // ------------------------------------ deterministic corpus shuffle
  // Training-data ordering must be a reproducible function of the DATA,
  // not of cluster scheduling or an RNG seed file: epoch shuffling that
  // can't be replayed makes training runs unrepeatable. Shard = first
  // two hex digits of md5(doc_id, salt) — a 256-way uniform split
  // (width is a knob; take more digits for more shards) — and the
  // position inside a shard is the rank of the full digest. Every stage
  // parallelizes: the hash is a pure map, and the within-shard rank is
  // a PARTITIONED window (256-way at this width), never a global sort.
  // Re-running on any cluster layout, or on DuckDB, yields bit-identical
  // (shard, pos) — which the hash oracle proves.
  private val shuffleDeterministic = QueryDef(
    "q_shuffle_deterministic",
    (s, d) => {
      import s.implicits._
      val hashed = Tables.documents(s, d)
        .select($"doc_id",
          md5(concat($"doc_id".cast("string"), lit(":graft:42"))).as("skey"))
        // hex digit -> value via locate into the digit alphabet: exact,
        // engine-portable (no conv()/from_hex divergence)
        .withColumn("shard",
          expr("(locate(substring(skey, 1, 1), '0123456789abcdef') - 1) * 16" +
            " + locate(substring(skey, 2, 1), '0123456789abcdef') - 1"))
      hashed
        .withColumn("pos", row_number().over(
          Window.partitionBy($"shard").orderBy($"skey", $"doc_id")))
        .select($"shard".cast("long").as("shard"), $"pos".cast("long").as("pos"),
          $"doc_id")
        .orderBy($"shard", $"pos")
    },
    Some("""WITH h AS (SELECT doc_id,
        md5(CAST(doc_id AS VARCHAR) || ':graft:42') AS skey FROM documents),
      sh AS (SELECT doc_id, skey,
        (strpos('0123456789abcdef', substring(skey, 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(skey, 2, 1)) - 1 AS shard
        FROM h)
      SELECT CAST(shard AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
          AS BIGINT) AS pos,
        doc_id
      FROM sh ORDER BY shard, pos"""),
    "Deterministic corpus shuffle: md5 shard + within-shard rank, " +
      "reproducible across engines and cluster layouts")

  // ------------------------------------------- duplicated-span removal
  // Exact substring-level dedup (Lee et al. 2022, "Deduplicating Training
  // Data Makes Language Models Better"): document-level near-dup keeps
  // one of two 90%-identical docs, but repeated SPANS (boilerplate
  // sentences, license headers, quoted chunks) recur across otherwise
  // distinct documents and survive it. This op removes every token run
  // covered by a W-token gram that occurs >= 2 times corpus-wide and
  // reassembles the remaining text.
  //
  // Scale shape: positional grams stream from the one-pass codegen
  // kernel (word_ngrams_seq), duplicate grams come from ONE keyed
  // aggregation on the gram (vocabulary-bounded output), occurrences
  // join back on the same gram key (no broadcast of the unbounded gram
  // table), and coverage expansion is a W-factor sequence explode of the
  // duplicated occurrences only. Everything is keyed shuffles linear in
  // |corpus tokens| x W — no pairwise term anywhere. (The suffix-array
  // formulation in the paper finds variable-length spans; the fixed-W
  // gram formulation is its standard scalable approximation: any
  // duplicated span of length >= W is covered by its W-grams.)
  private val SpanW = 5
  private val textSpanDedup = QueryDef(
    "q_text_span_dedup",
    (s, d) => {
      import s.implicits._
      // empty tokens removed so empty/whitespace-only docs behave
      // (split("", " +") yields [""] — same artifact in DuckDB)
      val docs = Tables.documents(s, d)
        .select($"doc_id",
          array_remove(split(lower($"text"), " +"), "").as("w"))
      val grams = docs
        .select($"doc_id", posexplode(
          graft.functions.WordNGrams.word_ngrams_seq($"w", SpanW)))
        .toDF("doc_id", "pos", "gram") // pos = 0-based start token
      val dup = grams.groupBy($"gram")
        .agg(count(lit(1)).as("occ")).filter($"occ" >= 2).select($"gram")
      val covered = grams.join(dup, "gram")
        .select($"doc_id",
          explode(sequence($"pos", $"pos" + lit(SpanW - 1))).as("cp"))
        .distinct()
      val toks = docs.select($"doc_id", posexplode($"w")).toDF("doc_id", "pos", "tok")
      val kept = toks.join(covered,
        toks("doc_id") === covered("doc_id") && toks("pos") === covered("cp"),
        "left_anti")
      val keptAgg = kept.groupBy($"doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(
          collect_list(struct($"pos", $"tok"))), x => x("tok")), " ")
          .as("cleaned"))
      docs.select($"doc_id", size($"w").cast("long").as("n_toks"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select($"doc_id", $"n_toks",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"cleaned", lit("")).as("cleaned"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH w AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), ' +'),
          x -> x <> '') AS w FROM documents),
      toks AS (
        SELECT doc_id, pos, w[pos] AS tok FROM (
          SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM w) t),
      grams AS (
        SELECT doc_id, pos,
          array_to_string(w[pos : pos + ${SpanW - 1}], ' ') AS gram FROM (
          SELECT doc_id, w, unnest(range(1, len(w) - ${SpanW - 2})) AS pos
          FROM w) t),
      dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
      cov AS (
        SELECT DISTINCT doc_id, cp FROM (
          SELECT g.doc_id, unnest(range(g.pos, g.pos + $SpanW)) AS cp
          FROM grams g JOIN dup USING (gram)) t),
      kept AS (
        SELECT t.doc_id, t.pos, t.tok FROM toks t
        LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cp
        WHERE c.doc_id IS NULL),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          string_agg(tok, ' ' ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id)
      SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_toks,
        CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
        COALESCE(agg.cleaned, '') AS cleaned
      FROM w LEFT JOIN agg USING (doc_id) ORDER BY w.doc_id"""),
    s"Exact duplicated-span removal: $SpanW-gram occurrences appearing " +
      ">= 2x corpus-wide have their token ranges cut, text reassembled")

  // ------------------------------------------------- SCD Type-2 build
  // The warehouse history pattern the latest-wins merge (q_merge_upsert)
  // deliberately discards: instead of keeping only the current row per
  // key, keep every VERSION with its validity interval. Built
  // declaratively from the event stream: per user, consecutive runs of
  // the same event_type collapse to one version row whose valid_from is
  // the run's first event and valid_to the next run's start (NULL-free:
  // the open current version carries a sentinel far-future bound so
  // every output column hashes as plain BIGINT). One shuffle on the
  // key; the run-collapse and both interval bounds come from lag/lead
  // windows inside that same partition — no self-join, which is how
  // SCD-2 must be built at 100 TB (the naive formulation joins the
  // change stream to itself on key + adjacent-time).
  private val CurrentSentinel = 32503680000L // 3000-01-01 epoch s

  /** The SCD-2 version intervals (shared by the build dump and the
    * point-in-time lookup): one row per (user, event_type run) with
    * [valid_from_s, valid_to_s) and the current flag. Carries event_id
    * only as the deterministic same-second tiebreak inside the windows. */
  private def scd2Intervals(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_s", $"event_id")
    val wv = Window.partitionBy($"user_id")
      .orderBy($"valid_from_s", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        unix_timestamp($"ts").as("ts_s"), $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
      .select($"user_id", $"event_id", $"event_type",
        $"ts_s".as("valid_from_s"))
      .withColumn("valid_to_s",
        coalesce(lead($"valid_from_s", 1).over(wv), lit(CurrentSentinel)))
      .withColumn("is_current",
        ($"valid_to_s" === CurrentSentinel).cast("long"))
      .drop($"event_id")
  }

  /** DuckDB mirror of [[scd2Intervals]]: CTEs ending in
    * `v(user_id, event_type, valid_from_s, valid_to_s)`. */
  private val scd2IntervalsSql: String =
    s"""e AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev
        FROM events),
      runs AS (
        SELECT user_id, event_id, event_type, ts_s AS valid_from_s
        FROM e WHERE prev IS NULL OR prev <> event_type),
      v AS (
        SELECT user_id, event_type, valid_from_s,
          COALESCE(lead(valid_from_s) OVER (PARTITION BY user_id
              ORDER BY valid_from_s, event_id),
            $CurrentSentinel) AS valid_to_s
        FROM runs)"""

  private val scd2Build = QueryDef(
    "q_scd2_build",
    (s, d) => {
      import s.implicits._
      scd2Intervals(s, d)
        // valid_to_s in the sort keys makes the order TOTAL: two runs of
        // the same event_type can start in the same second (A,B,A all at
        // ts T), identical on the first three keys but with different
        // valid_to_s — without it Spark and DuckDB may order them
        // differently (ADVICE r8)
        .orderBy($"user_id", $"valid_from_s", $"event_type", $"valid_to_s")
    },
    Some(s"""WITH $scd2IntervalsSql
      SELECT user_id, event_type, valid_from_s, valid_to_s,
        CAST(CASE WHEN valid_to_s = $CurrentSentinel THEN 1 ELSE 0 END AS BIGINT)
          AS is_current
      FROM v ORDER BY user_id, valid_from_s, event_type, valid_to_s"""),
    "SCD Type-2 dimension build: per-key version intervals from the " +
      "change stream via lag/lead windows, no self-join")

  // ------------------------------------------------------ q_scd2_asof
  /** Point-in-time instant for the AS OF lookup: mid-range of the
    * fixture's 30-day event span (2024-01-15T00:00:00Z). */
  private[graft] val Scd2AsOfS = 1705276800L

  // The query SCD-2 exists FOR: reconstruct every key's state at an
  // instant T — "what was each user doing on Jan 15" — as a pure filter
  // over the versioned intervals (valid_from <= T < valid_to). No
  // window re-evaluation, no as-of join: the interval table answers
  // point-in-time questions by construction, which is the argument for
  // paying the build cost once. Users whose history starts after T are
  // absent by semantics.
  private val scd2AsOf = QueryDef(
    "q_scd2_asof",
    (s, d) => {
      import s.implicits._
      scd2Intervals(s, d)
        .filter($"valid_from_s" <= Scd2AsOfS && lit(Scd2AsOfS) < $"valid_to_s")
        .select($"user_id", $"event_type".as("state_at_t"),
          $"valid_from_s".as("since_s"),
          (lit(Scd2AsOfS) - $"valid_from_s").as("tenure_s"),
          $"is_current")
        .orderBy($"user_id")
    },
    Some(s"""WITH $scd2IntervalsSql
      SELECT user_id, event_type AS state_at_t,
        valid_from_s AS since_s,
        $Scd2AsOfS - valid_from_s AS tenure_s,
        CAST(CASE WHEN valid_to_s = $CurrentSentinel THEN 1 ELSE 0 END AS BIGINT)
          AS is_current
      FROM v
      WHERE valid_from_s <= $Scd2AsOfS AND $Scd2AsOfS < valid_to_s
      ORDER BY user_id"""),
    "Point-in-time SCD-2 lookup: every key's state AS OF the instant T " +
      "as a pure interval filter — the query the versioned build exists for")

  override def defs: Seq[QueryDef] =
    Seq(mergeUpsert, sampleStratified, packSequences, redactScrub,
      decontaminate, dsirWeights, shuffleDeterministic, textSpanDedup,
      scd2Build, scd2AsOf)
}
