package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.SimHash64.simhash64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash.
  *
  * Shingling note: the fixture vocabulary is tiny (~31 words), so token-SET
  * similarity is degenerate (every doc resembles every doc). All near-dup
  * ops therefore shingle on ORDERED word 3-grams, which separate cleanly
  * (planted near-dups sit at Jaccard ≥ 0.9, everything else < 0.1).
  *
  * Scale posture: exact dedup is one shuffle on the content hash. The
  * n-gram inverted index shuffles on the shingle key (df-bounded groups);
  * MinHash/LSH shuffles on (band, bandhash) buckets — both avoid any
  * all-pairs comparison, which is the only design that survives 100 TB.
  */
object DedupOps extends QueryPack {

  private def toks(c: Column): Column = split(lower(c), " +")

  /** Distinct ordered word-3-gram shingles; empty for docs under 3 tokens.
    * Custom single-pass expression — the interpreted higher-order-function
    * formulation (transform + element_at + concat_ws + array_distinct)
    * was ~10× slower and dominated the whole dedup pipeline. */
  private def shingles3(t: Column): Column =
    graft.functions.WordNGrams.word_ngrams(t, 3)

  /** `bound` restricts the corpus to `doc_id < bound` — a pushed parquet
    * range predicate, used by the `*_audit` companions to keep their exact
    * ground-truth recompute at constant cost regardless of corpus size
    * (VERDICT r5 task 3). `None` (every declared dedup query) = full corpus.
    */
  private def bounded(df: DataFrame, bound: Option[Int]): DataFrame =
    bound.fold(df)(b => df.filter(col("doc_id") < b))

  /** Shingle an arbitrary (doc_id, text) relation — the corpus-table
    * form below and the streaming near-dup ingest gate share this ONE
    * rule (the family's single-band-scheme discipline, r12 review).
    * Sorted ascending ONCE per document: every consumer is
    * order-insensitive (posting explode, MinHash min, size), and the
    * exact-verify stages can then count intersections with the
    * codegen'd sorted-merge kernel (functions/IntersectSize.scala)
    * instead of building a hash set per candidate pair. */
  private[graft] def shingleOf(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select($"doc_id", array_sort(shingles3(toks($"text"))).as("sh"))
      .filter(size($"sh") > 0)
  }

  private def shingled(s: SparkSession, d: String,
      bound: Option[Int] = None): DataFrame =
    shingleOf(bounded(Tables.documents(s, d), bound))

  /** Bit budget for packing (n_sh, pos) into the pair kernel's payload
    * long — see the prefix strategy below. */
  private val PosBits = 21
  private val PosMask = (1L << PosBits) - 1L

  // ------------------------------------------------------ exact dedup
  private val dedupExact = QueryDef(
    "q_dedup_exact",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          md5(regexp_replace(lower($"text"), "\\s+", " ")).as("content_hash"))
        .groupBy($"content_hash")
        .agg(min($"doc_id").as("keep_doc"), count("*").as("n_copies"))
        .orderBy($"keep_doc")
    },
    Some("""SELECT content_hash, min(doc_id) AS keep_doc, count(*) AS n_copies
      FROM (SELECT doc_id,
        md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash
        FROM documents)
      GROUP BY content_hash ORDER BY keep_doc"""),
    "Exact dedup: normalized-content hash, keep lowest doc_id per group")

  // -------------------------------------- bloom membership pre-filter
  // Delta-vs-base dedup at 100 TB without joining the base per drop:
  // build a Bloom filter over the BASE corpus's content fingerprints
  // once per base version (Spark's distributed treeAggregate;
  // ~9.6 bits/key at 1% fpp — 1.2 GB per 10⁹ keys, broadcast-class;
  // past ~10⁹ keys the standard move is sharding the filter by hash
  // prefix), persist it beside the corpus, and probe each incoming
  // delta row with a codegen map ([[graft.functions.BloomProbe]]).
  // Only the bloom-POSITIVE candidates (true dups + ~fpp false
  // positives) reach the exact content-hash verify join — the entire
  // point: the per-delta work is a pure map plus a join whose probe
  // side is candidate-sized, not delta-sized. No false negatives by
  // construction (Bloom guarantee); false positives cost only a
  // wasted verify probe, never a wrong answer. The filter bits are
  // not SQL-replayable → no_oracle; the audit pins the exact-dup
  // count (oracle-recomputed), the no-false-negative invariant, and
  // a measured false-positive bound.
  private[graft] val BloomFpp = 0.01
  private[graft] def normText: Column =
    regexp_replace(lower(col("text")), "\\s+", " ")

  private val bloomMemo = new graft.Memo.Bounded[
    (String, String, String), org.apache.spark.util.sketch.BloomFilter](
    cap = 4, onEvict = _ => ()) // driver-local bits: GC reclaims them
  private[graft] def baseBloom(s: SparkSession, d: String)
      : org.apache.spark.util.sketch.BloomFilter =
    bloomMemo.getOrElseUpdate((s.sparkContext.applicationId, d,
      graft.FixtureStamp.stamp("bloom1", d, "documents"))) {
      import s.implicits._
      val base = Tables.documents(s, d)
        .where($"doc_id" % BpeOps.HoldoutMod =!= 0)
        .select(xxhash64(normText).as("fp"))
      // expectedNumItems sizes the bit array; the count is one exact
      // aggregate over the base (paid once per base version, like the
      // filter build itself)
      val n = math.max(base.count(), 1L)
      base.stat.bloomFilter("fp", n, BloomFpp)
    }

  private val dedupBloom = QueryDef(
    "q_dedup_bloom",
    (s, d) => {
      import s.implicits._
      val bloom = baseBloom(s, d)
      // eagerly materialized ONCE (the clusterSemdedup precedent, r11
      // self-review): `probed` feeds both the candidate branch and the
      // clean branch below — without the checkpoint the delta would be
      // scanned and hashed TWICE. The materialized rows are metadata-
      // narrow (id + two hashes + flag), never the text.
      val probed = Tables.documents(s, d)
        .where($"doc_id" % BpeOps.HoldoutMod === 0)
        .select($"doc_id", xxhash64(normText).as("fp"),
          md5(normText).as("h"))
        .withColumn("bloom_hit",
          graft.functions.BloomProbe.bloom_probe($"fp", bloom)
            .cast("long"))
        .localCheckpoint()
      // exact verify for CANDIDATES only — the probe side of this join
      // is bloom-positive rows (dups + ~fpp of the delta), the
      // read-amplification bloom buys; the base side is shuffle-hash
      // (corpus-scale, never broadcast — the r10 filtered-search rule).
      // Bloom-negative rows bypass the join entirely (a free union, no
      // delta-grain re-join on doc_id).
      val baseH = Tables.documents(s, d)
        .where($"doc_id" % BpeOps.HoldoutMod =!= 0)
        .select(md5(normText).as("h")).distinct()
      val cand = probed.filter($"bloom_hit" === 1L)
        .join(baseH.select($"h", lit(1L).as("in_base"))
          .hint("shuffle_hash"), Seq("h"), "left")
        .select($"doc_id", $"bloom_hit",
          when($"in_base".isNotNull, 1L).otherwise(0L).as("is_dup"))
      val clean = probed.filter($"bloom_hit" === 0L)
        .select($"doc_id", $"bloom_hit", lit(0L).as("is_dup"))
      cand.unionByName(clean).orderBy($"doc_id")
    },
    None,
    s"Bloom pre-filtered delta-vs-base dedup: base fingerprint filter " +
      s"(fpp $BloomFpp) probed by a codegen map; only candidates reach " +
      "the exact verify join — filter bits not SQL-replayable, audited")

  private val dedupBloomAudit = QueryDef(
    "q_dedup_bloom_audit",
    (s, d) => {
      import s.implicits._
      val out = dedupBloom.fn(s, d)
      out.agg(
        count(lit(1)).as("n_delta"),
        sum($"is_dup").cast("long").as("n_dups"),
        // Bloom guarantee, wired end-to-end: a true duplicate can never
        // be bloom-negative
        (lit(1L) - coalesce(max(($"is_dup" === 1L && $"bloom_hit" === 0L)
          .cast("long")), lit(0L))).as("no_false_negative_ok"),
        // measured false-positive bound: non-dup hits <= max(5, 5% of
        // non-dups) — fpp is 1%, the margin absorbs small-n variance
        // (fixture probe: 1 fp of 50 at sf0.001, 0 of 50 at sf0.01)
        (sum(when($"bloom_hit" === 1L && $"is_dup" === 0L, 1L)
            .otherwise(0L)) <=
          greatest(lit(5L),
            (sum(lit(1L) - $"is_dup") / 20L).cast("long")))
          .cast("long").as("fp_bound_ok"))
    },
    Some(s"""WITH n AS (SELECT doc_id,
          regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        FROM documents)
      SELECT CAST(count(*) AS BIGINT) AS n_delta,
        CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM n b
            WHERE b.doc_id % ${BpeOps.HoldoutMod} <> 0 AND b.t = d.t)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        CAST(1 AS BIGINT) AS no_false_negative_ok,
        CAST(1 AS BIGINT) AS fp_bound_ok
      FROM n d WHERE d.doc_id % ${BpeOps.HoldoutMod} = 0"""),
    "Bloom dedup audit: exact-dup scalar oracle-recomputed via " +
      "normalized-text membership; no-false-negative and measured " +
      "false-positive-bound flags")

  // --------------------------------------- exact n-gram Jaccard pairs
  /** Exact J >= 0.5 pairs; two physically different, logically identical
    * strategies:
    *
    *  - DIRECT: inverted-index pair stream on the shingle key →
    *    per-pair intersection counts → Jaccard from |A|,|B|,|A∩B|. Work is
    *    Σ df(shingle)². On the round-8 OrderedPairs kernel the
    *    regenerated corpus's hot trigrams made this the loser by ~8×
    *    (290 s vs prefix 37 s at 10×); on the round-9 hash-subgroup
    *    kernel the hot-key emission distributes and direct measures
    *    19.5 s vs prefix 38.9 s on the SAME corpus — at fixture scale
    *    the strategies trade places with the kernel generation.
    *
    *  - PREFIX-FILTERED (ppjoin-style, Xiao et al. 2008): for J >= 0.5 a
    *    partner has m >= n/2 shingles and overlap >= (n + n/2)/3 = n/2, so
    *    every qualifying pair shares a shingle among each doc's rarest
    *    floor(n/2)+1 shingles (df-ascending order) — candidates come only
    *    from those prefix postings, then exact-verify. 100% recall.
    *    STILL the declared default despite losing the current 10×
    *    head-to-head: its candidate set is PROVABLY a subset of the
    *    direct stream's (Σ df_prefix² ≤ Σ df², with the gap growing in
    *    df skew), and at a real corpus scale the deciding term is the
    *    quadratic candidate count, not the constant-factor kernel
    *    overhead that dominates at 10× — a true stop-word shingle
    *    (df 10⁶⁺) is survivable under the prefix filter and a compute
    *    catastrophe under direct regardless of how well its emission is
    *    distributed. The exact-verify stage uses the codegen'd
    *    sorted-merge intersection kernel over per-doc pre-sorted shingle
    *    arrays ([[graft.functions.SortedIntersectSize]]) with the doc
    *    side shuffle-hash-hinted — per-candidate cost is linear with
    *    zero allocation, and the misestimated Generate-derived candidate
    *    side can never become a join build side. Candidate pairs come
    *    from the same join-free blocked pair stream as the direct
    *    strategy ([[PairStreams]] — hash-subgrouped prefix postings, not
    *    a posting self-join), so the Σ df_prefix² work has no build side
    *    to misestimate, no single-task hot-key ceiling, and per-bucket
    *    aggregation buffers of ~cap postings in expectation — a
    *    PROBABILISTIC bound (xxhash64 concentration; the spec asserts
    *    the realized 2·cap ceiling on a df≈10⁵ key), not a hard one
    *    (see the PairStreams scaladoc).
    *
    * The spec asserts both return identical pairs; the DuckDB oracle is
    * the direct formulation.
    */
  def ngramJaccardPairs(s: SparkSession, d: String,
      prefixFilter: Boolean, bound: Option[Int] = None,
      presentation: Boolean = true): DataFrame = {
    import s.implicits._
    val docs = shingled(s, d, bound)
    val posting = docs.select($"doc_id", explode($"sh").as("shingle"))
    val jaccardOf = (inter: Column, n1: Column, n2: Column) =>
      round(inter.cast("decimal(18,2)") / (n1 + n2 - inter), 6)
        .cast("decimal(38,6)")
    val pairs =
      if (!prefixFilter) {
        // Pair generation WITHOUT a posting-list self-join: one shuffle
        // groups the inverted index by shingle; pairs then stream out of
        // the blocked generator kernel (PairStreams → BlockSplit +
        // BlockPairs, the successor of the single-list OrderedPairs
        // formulation). Same Σ df² output as the classic self-join but no
        // join build side, per-shingle memory O(df) not O(df²), and —
        // r6 task 2 — a hot shingle's emission is cut into ≤cap-element
        // blocks whose bucket rows redistribute across TASKS, so one
        // web-scale stop-word shingle can no longer serialize its df²
        // pairs into a single straggler.
        //
        // Each posting carries (doc_id, n_sh), so the Jaccard denominator
        // is already on every pair row and the pair stream NEVER joins
        // back to a per-doc counts table. Besides dropping two joins,
        // this removes a real 10×-scale failure the stress run caught:
        // Catalyst's static size estimate of the Generate → aggregate
        // pair stream is far too small, so the planner chose to BROADCAST
        // the Σ df²-sized pair side into the counts join — fine at sf0.1,
        // an 8 GiB broadcast abort at sf1. The generator kernel replaced
        // an earlier posexplode + slice + explode formulation that copied
        // the whole posting array into every exploded row (O(df³) bytes
        // for a hot shingle) — the GC churn behind the family's ±40%
        // 10×-stress variance.
        val posting2 = docs.select(
          struct($"doc_id", size($"sh").cast("long").as("n_sh")).as("dn"),
          explode($"sh").as("shingle"))
        PairStreams.blockedPairs(posting2, Seq($"shingle"), $"dn",
            Seq("doc1", "n1", "doc2", "n2"))
          .groupBy($"doc1", $"n1", $"doc2", $"n2")
          .agg(count("*").as("inter"))
          .select($"doc1", $"doc2",
            jaccardOf($"inter", $"n1", $"n2").as("jaccard"))
      } else {
        val w = org.apache.spark.sql.expressions.Window
        // document frequency via groupBy-count + SHUFFLE_HASH back-join
        // (r12): the previous count-window-over-shingle attached df in
        // one shuffle but forced a FULL SORT of the posting stream by
        // shingle, and a second full sort computed per-doc sizes — the
        // two biggest spill surfaces behind this stage's documented
        // 10×-stress GC lottery (r10/r11 bench notes: 26–91 s band).
        // The df table is vocabulary-sized; the back-join is hash-only
        // (no sort), and the SHUFFLE_HASH hint pins the df side as the
        // build side so the misestimable posting stream never builds —
        // the same discipline as the verify joins below. Per-doc size
        // rides the explode for free (size(sh) before the Generate).
        // (n_sh, pos) BIT-PACKED into the kernel's single payload long
        // (n << PosBits | pos): the blocked pair kernel stays a fixed
        // struct<long,long> stream, and both the length filter AND the
        // ppjoin positional filter below decode from the emitted payload.
        // 21 bits each way bounds docs at 2^21 shingles (≈ a 16 MB text)
        // — far beyond any real document; shingled() would need chunking
        // before this does.
        val dfTab = posting.groupBy($"shingle").agg(count(lit(1)).as("df"))
        val prefix = docs
          .select($"doc_id", size($"sh").cast("long").as("n"),
            explode($"sh").as("shingle"))
          .join(dfTab.hint("shuffle_hash"), "shingle")
          // the one remaining sort is DOC-grain (rank the doc's own
          // shingles by rarity) — partitions are document-sized, never
          // corpus-sized
          .withColumn("pos", row_number().over(
            w.partitionBy($"doc_id").orderBy($"df", $"shingle")))
          .filter($"pos" <= floor($"n" / 2) + 1)
          .select($"doc_id",
            (shiftleft($"n", PosBits) + $"pos").as("np"),
            $"shingle")
          // eagerly materialized: the pair kernel evaluates its posting
          // input TWICE (per-key df counts + the probe side) — that
          // double evaluation is the reason the checkpoint exists, and
          // it survives the r12 rewrite (df-join + one doc-grain window
          // replaced the three full-stream windows this comment used to
          // cite; the stage is cheaper now but still a shuffle + join +
          // window per evaluation). Executor-local MEMORY_AND_DISK
          // blocks of the prefix posting — ~half the shingle stream,
          // spill-backed — the standard persist-the-hot-intermediate
          // move; at 10× (r9 kernel) it cut the strategy roughly in
          // half (51.7 s median → 24.6 s cold).
          .localCheckpoint()
        // candidate generation: group the (far smaller) prefix posting by
        // shingle and stream pairs out of the blocked generator kernel —
        // replaces a sort-merge self-join that sorted the prefix stream
        // twice and kept a probe side resident; per-shingle memory stays
        // O(df_prefix), a hot prefix shingle fans out across tasks, and
        // nothing depends on a static size estimate of this derived
        // stream. The payload funds TWO candidate killers before the
        // verify joins:
        //  - length filter: for J >= 0.5, |A∩B| <= min forces
        //    max <= 2·min (+1 absorbs the 6-decimal threshold rounding);
        //  - positional filter (the other half of ppjoin): overlap from
        //    the first shared prefix token onward is at most
        //    1 + min(n1-p1, n2-p2), and J >= 0.5 needs overlap >=
        //    ceil((n1+n2)/3) (−1 rounding slack). min(p1)/min(p2) over a
        //    pair's emissions only loosens the bound — always safe. Hot
        //    shingles sort LAST in every prefix (df-ascending), so pairs
        //    sharing only hot shingles die here — exactly the candidate
        //    class the regenerated corpus exploded.
        PairStreams.blockedPairs(
            prefix.select(struct($"doc_id", $"np").as("dn"), $"shingle"),
            Seq($"shingle"), $"dn", Seq("doc1", "np1", "doc2", "np2"))
          .select($"doc1", shiftright($"np1", PosBits).as("n1"),
            $"np1".bitwiseAND(PosMask).as("p1"),
            $"doc2", shiftright($"np2", PosBits).as("n2"),
            $"np2".bitwiseAND(PosMask).as("p2"))
          .filter(greatest($"n1", $"n2") <= least($"n1", $"n2") * 2 + 1)
          .groupBy($"doc1", $"n1", $"doc2", $"n2")
          .agg(min($"p1").as("p1"), min($"p2").as("p2"))
          .filter(lit(1L) + least($"n1" - $"p1", $"n2" - $"p2") >=
            ceil(($"n1" + $"n2") / lit(3.0)).cast("long") - 1L)
          .select($"doc1", $"doc2")
          // explicit width: see Fs.computeWidth — candidate rows
          // compress so well that AQE would coalesce the CPU-bound
          // verify below into one task. Keyed by doc1 ALONE: the
          // dedup aggregation above already hash-partitions on its full
          // key set, so a same-keyed repartition is optimized away as
          // redundant and the coalesce returns; doc1 differs, survives,
          // and still distributes (partner counts per doc are bounded).
          .repartition(graft.Fs.computeWidth(s), $"doc1")
          // SHUFFLE_HASH-hint the DOC side: the candidate stream is
          // Generate-derived, so Catalyst's static size estimate is far
          // too small and an unhinted planner broadcasts the Σ-candidates
          // PAIR side (BuildLeft) — the 10× stress plan shipped a 31M-pair
          // broadcast probed by 50k docs in one task. Round 8 forced
          // broadcast(docs) instead, which fixed the build side but
          // re-introduced the OTHER ceiling: a full docs-with-shingles
          // relation aborts past the 8 GiB broadcast limit at real corpus
          // scale (VERDICT r8 task 1). The shuffle-hash hint keeps the
          // docs side as the BUILD side (hinted side builds) while each
          // task holds only its doc_id partition — no 8 GiB cliff, and
          // the misestimated pair side still never builds.
          .join(docs.select($"doc_id".as("doc1"), $"sh".as("sh1"))
            .hint("shuffle_hash"), "doc1")
          .join(docs.select($"doc_id".as("doc2"), $"sh".as("sh2"))
            .hint("shuffle_hash"), "doc2")
          .select($"doc1", $"doc2",
            jaccardOf(
              graft.functions.SortedIntersectSize
                .sorted_intersect_size($"sh1", $"sh2"),
              size($"sh1"), size($"sh2")).as("jaccard"))
      }
    val thresholded = pairs
      .filter($"jaccard" >= lit("0.5").cast("decimal(38,6)"))
    // presentation=false: a downstream operator (connected components,
    // the clean pipeline, the shared materialization below) consumes the
    // raw pair set — skip the range-exchange sort + double cast that
    // only exist for the declared query's deterministic dump
    if (!presentation) thresholded.select($"doc1", $"doc2", $"jaccard")
    else thresholded
      .orderBy($"doc1", $"doc2")
      // threshold + order decided on the exact decimal; ship as double
      .withColumn("jaccard", $"jaccard".cast("double"))
  }

  /** The declared J >= 0.5 pair set, materialized ONCE per (Spark
    * context, corpus dir) and shared by its three consumers —
    * `q_dedup_ngram_jaccard`, `q_dedup_components` ([[GraphOps]]) and
    * `q_pipeline_clean` ([[CleanPipelineOps]]). Before round 9 each of
    * them recomputed the full prefix-filtered pair generation + verify
    * pipeline — at 100 TB the most expensive stage in the engine, run
    * three times (VERDICT r8 task 3). In-run the materialization is an
    * eager `localCheckpoint` (executor-local blocks, lineage cut); in
    * the production story this is the parquet intermediate a real
    * pipeline persists between its dedup stages anyway. The memo key is
    * (applicationId, dir): one bounded pair set per corpus per context,
    * shared across the per-query sessions a bench/verify run creates.
    * Size-capped LRU (VERDICT r9 task 4): a long-lived multi-corpus
    * service evicts the oldest corpus's pair set and releases its
    * checkpoint blocks instead of pinning them for the application's
    * life. Columns: (doc1, doc2, jaccard decimal(38,6)). */
  private val sharedPairsMemo =
    new graft.Memo.Bounded[(String, String, String), DataFrame](
      cap = 2, onEvict = graft.Memo.releaseLocalCheckpoint)
  private[graft] def sharedNgramPairs(s: SparkSession, d: String): DataFrame =
    // the corpus FINGERPRINT in the key (ADVICE r9): a corpus
    // regenerated at the same path must not serve the previous data's
    // pair set — the stale entry ages out of the LRU and releases its
    // blocks
    sharedPairsMemo.getOrElseUpdate((s.sparkContext.applicationId, d,
      graft.FixtureStamp.stamp("pairs1", d, "documents")))(
      ngramJaccardPairs(s, d, prefixFilter = true, presentation = false)
        .localCheckpoint())

  /** Shared DuckDB CTE body recomputing the exact J >= 0.5 3-gram pair
    * set — the dedupNgram oracle's formulation, factored so downstream
    * oracles (GraphOps' connected components) build on the identical pair
    * definition. Exposes `jpairs(doc1, doc2, j DECIMAL(38,6))`. */
  private[graft] val NgramPairCtes: String = """w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS w FROM documents),
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
      jpairs AS (
        SELECT doc1, doc2,
          CAST(round(CAST(i AS DECIMAL(18,2)) / (c1.n_sh + c2.n_sh - i), 6) AS DECIMAL(38,6)) AS j
        FROM inter
        JOIN counts c1 ON doc1 = c1.doc_id
        JOIN counts c2 ON doc2 = c2.doc_id)"""

  private val dedupNgram = QueryDef(
    "q_dedup_ngram_jaccard",
    // prefix-filtered is the DEFAULT: its candidate set is provably a
    // subset of the direct stream's, which is what survives real df skew
    // (see the strategy scaladoc — on the current kernel the 10×
    // head-to-head actually favors direct, 19.5 s vs 38.9 s, but the
    // asymptotic argument owns the default; both strategies stay
    // callable through DedupOps.ngramJaccardPairs(prefixFilter)). Since
    // round 9 the declared query reads the SHARED materialized pair set
    // and only adds the presentation sort + double cast.
    (s, d) => {
      import s.implicits._
      sharedNgramPairs(s, d)
        .orderBy($"doc1", $"doc2")
        .withColumn("jaccard", $"jaccard".cast("double"))
    },
    Some(s"""WITH $NgramPairCtes
      SELECT doc1, doc2, CAST(j AS DOUBLE) AS jaccard FROM jpairs
      WHERE j >= 0.5
      ORDER BY doc1, doc2"""),
    "Exact 3-gram Jaccard near-dup pairs via inverted shingle index")

  // ----------------------------------------------- MinHash + LSH pairs
  // 16 MinHash permutations (one-pass custom expression
  // graft.functions.MinHashSig) → 4 bands × 4 rows → bucket self-join on
  // (band, bandhash) → exact-Jaccard verification of candidates only.
  // Deterministic given the fixed hash family, so the spec cross-checks
  // it against q_dedup_ngram_jaccard's exact pairs.
  /** LSH band keys of a shingled corpus: (doc_id, band, bhash) — 16
    * MinHash permutations (one-pass custom expression
    * [[graft.functions.MinHashSig]]) cut into 4 bands × 4 rows, each
    * band hashed to one long. `sig` is materialized as an ATTRIBUTE by
    * the first select, so the lambda's element_at hits a column ref,
    * not a re-evaluated expression (the HOF-inlining rule). Shared by
    * the minhash pair join and the banded-bloom delta gate. */
  private[graft] def bandKeys(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sigs = docs.select(
      $"doc_id",
      graft.functions.MinHashSig.minhash_sig($"sh", 16).as("sig"))
    sigs.select(
      $"doc_id",
      posexplode(transform(sequence(lit(0), lit(3)),
        b => xxhash64(
          element_at($"sig", b * 4 + 1), element_at($"sig", b * 4 + 2),
          element_at($"sig", b * 4 + 3), element_at($"sig", b * 4 + 4)))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bhash"))
  }

  /** The MinHash-LSH near-dup pair set (also the audit's subject). */
  private[graft] def minhashPairs(s: SparkSession, d: String,
      bound: Option[Int] = None): DataFrame = {
      import s.implicits._
      val docs = shingled(s, d, bound)
      val bands = bandKeys(docs)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .distinct()
        // explicit width before the CPU-bound verify (see Fs.computeWidth;
        // doc1 alone so the distinct's same-keyed partitioning can't make
        // the repartition "redundant" and hand the stage back to coalesce)
        .repartition(graft.Fs.computeWidth(s), $"doc1")
      val inter = graft.functions.SortedIntersectSize
        .sorted_intersect_size($"sh1", $"sh2")
      cand
        // shuffle-hash hint on the doc side — see the prefix-path note:
        // a misestimated candidate side must never become the build side,
        // and a full-corpus broadcast has an 8 GiB cliff at real scale
        .join(docs.select($"doc_id".as("doc1"), $"sh".as("sh1"))
          .hint("shuffle_hash"), "doc1")
        .join(docs.select($"doc_id".as("doc2"), $"sh".as("sh2"))
          .hint("shuffle_hash"), "doc2")
        .select($"doc1", $"doc2",
          round(
            inter.cast("decimal(18,2)") / (size($"sh1") + size($"sh2") - inter),
            6).cast("decimal(38,6)").as("jaccard"))
        .filter($"jaccard" >= lit("0.5").cast("decimal(38,6)"))
        .orderBy($"doc1", $"doc2")
        .withColumn("jaccard", $"jaccard".cast("double"))
  }

  private val dedupMinhash = QueryDef(
    "q_dedup_minhash",
    (s, d) => minhashPairs(s, d),
    None,
    "MinHash(16) + LSH(4x4) candidate buckets, exact-Jaccard verified")

  // -------------------------------------------------- SimHash near-dup
  // Custom Catalyst expression (graft.functions.SimHash64) → 4 × 16-bit
  // bands; pairs sharing a band are verified by Hamming distance ≤ 8.
  /** The SimHash banded near-dup pair set (also the audit's subject). */
  private[graft] def simhashPairs(s: SparkSession, d: String,
      bound: Option[Int] = None): DataFrame = {
      import s.implicits._
      val sh = bounded(Tables.documents(s, d), bound)
        .select($"doc_id", simhash64(toks($"text")).as("simhash"))
        // a null simhash (null text) must not bucket with other nulls:
        // the old join formulation dropped null band keys, groupBy keeps
        // them as a group — filter to preserve the join semantics
        .filter($"simhash".isNotNull)
      val bands = sh.select($"doc_id", $"simhash",
        posexplode(array((0 to 3).map(b =>
          shiftrightunsigned($"simhash", b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
      // join-free candidate stream: group the band index by (band, bkey)
      // and emit ordered candidate pairs via the OrderedPairs generator,
      // each pair carrying BOTH simhashes so Hamming verification is a
      // per-row map — no self-join, no join back for the signatures
      bands
        .select(struct($"doc_id", $"simhash").as("dn"),
          $"band", $"bkey")
        .groupBy($"band", $"bkey")
        .agg(sort_array(collect_list($"dn")).as("docs"))
        .select(graft.functions.OrderedPairs.ordered_pairs($"docs")
          .as(Seq("doc1", "sim1", "doc2", "sim2")))
        .select($"doc1", $"doc2",
          bit_count($"sim1".bitwiseXOR($"sim2")).cast("int").as("hamming"))
        .distinct()
        .filter($"hamming" <= 8)
        .orderBy($"doc1", $"doc2")
  }

  private val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    (s, d) => simhashPairs(s, d),
    None,
    "SimHash64 (custom expression) banded near-dup pairs, Hamming ≤ 8")

  // --------------------------------------------- incremental near-dup
  // The daily-ingest shape: the corpus (base) is already deduped and
  // indexed; a new batch (delta) arrives and must be checked against it
  // WITHOUT re-pairing base×base — candidate work is |delta prefix
  // postings| ⋈ base index, never Σ df² over the whole corpus. The
  // delta side carries a single-sided ppjoin prefix: for J >= 0.5 a
  // partner shares >= ceil(|A|/2) shingles with delta doc A, so (by
  // pigeonhole, under ANY total shingle order) A's floor(|A|/2)+1
  // rarest-by-base-df shingles must hit the partner's FULL posting list
  // — 100% recall, with base-df order steering the prefix away from hot
  // shingles. Fixture split: doc_id % BpeOps.HoldoutMod == 0 is the
  // delta batch - the SAME base/delta partition as q_dedup_bloom,
  // q_stream_dedup_bloom, and q_dedup_bloom_bands (r12 review: one
  // constant so the family's cross-comparisons cannot silently diverge).
  private val dedupIncremental = QueryDef(
    "q_dedup_incremental",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
      val docs = shingled(s, d)
      val isDelta = $"doc_id" % BpeOps.HoldoutMod === 0
      val base = docs.filter(!isDelta)
      val delta = docs.filter(isDelta)
      val basePost = base.select($"doc_id".as("bid"),
        size($"sh").cast("long").as("nb"), explode($"sh").as("shingle"))
      // the base index's per-shingle df — the statistic a production
      // index maintains; delta-only shingles get df 0 (rarest)
      val baseDf = basePost.groupBy($"shingle").agg(count(lit(1)).as("df"))
      val deltaPrefix = delta
        .select($"doc_id".as("did"), size($"sh").cast("long").as("nd"),
          explode($"sh").as("shingle"))
        .join(baseDf, Seq("shingle"), "left").na.fill(0L, Seq("df"))
        .withColumn("pos", row_number().over(
          w.partitionBy($"did").orderBy($"df", $"shingle")))
        .filter($"pos" <= floor($"nd" / 2) + 1)
        .select($"did", $"nd", $"shingle")
      val cands = deltaPrefix.join(basePost, "shingle")
        // same length filter (+1 absorbs the 6-decimal threshold round)
        .filter(greatest($"nd", $"nb") <= least($"nd", $"nb") * 2 + 1)
        .select($"did", $"bid").distinct()
        .repartition(graft.Fs.computeWidth(s), $"did")
      val jaccardOf = (inter: Column, n1: Column, n2: Column) =>
        round(inter.cast("decimal(18,2)") / (n1 + n2 - inter), 6)
          .cast("decimal(38,6)")
      val dups = cands
        // same build-side discipline as the prefix path: hint the doc
        // sides so the derived candidate stream can never build
        .join(delta.select($"doc_id".as("did"), $"sh".as("shd"))
          .hint("shuffle_hash"), "did")
        .join(base.select($"doc_id".as("bid"), $"sh".as("shb"))
          .hint("shuffle_hash"), "bid")
        .select($"did", jaccardOf(
          graft.functions.SortedIntersectSize
            .sorted_intersect_size($"shd", $"shb"),
          size($"shd"), size($"shb")).as("j"))
        .filter($"j" >= lit("0.5").cast("decimal(38,6)"))
        .groupBy($"did")
        .agg(count(lit(1)).as("n_dups"), max($"j").as("bj"))
      delta.select($"doc_id")
        .join(dups.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_dups", lit(0L)).as("n_dups"),
          coalesce($"bj".cast("double"), lit(0.0)).as("best_jaccard"),
          ($"n_dups".isNotNull).cast("long").as("is_dup"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS w FROM documents),
      docs AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        FROM w WHERE len(w) >= 3),
      base AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
               FROM docs WHERE doc_id % ${BpeOps.HoldoutMod} <> 0),
      delta AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
                FROM docs WHERE doc_id % ${BpeOps.HoldoutMod} = 0),
      bp AS (SELECT doc_id AS bid, unnest(sh) AS shingle FROM base),
      dp AS (SELECT doc_id AS did, unnest(sh) AS shingle FROM delta),
      inter AS (
        SELECT d.did, b.bid, count(*) AS i
        FROM dp d JOIN bp b USING (shingle) GROUP BY 1, 2),
      j AS (
        SELECT did, CAST(round(CAST(i AS DECIMAL(18,2)) / (dn.n + bn.n - i), 6)
          AS DECIMAL(38,6)) AS jj
        FROM inter
        JOIN delta dn ON did = dn.doc_id
        JOIN base bn ON bid = bn.doc_id),
      dups AS (
        SELECT did, CAST(count(*) AS BIGINT) AS n_dups, max(jj) AS bj
        FROM j WHERE jj >= 0.5 GROUP BY did)
      SELECT d.doc_id, COALESCE(p.n_dups, 0) AS n_dups,
        COALESCE(CAST(p.bj AS DOUBLE), 0.0) AS best_jaccard,
        CAST(CASE WHEN p.did IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM delta d LEFT JOIN dups p ON d.doc_id = p.did
      ORDER BY d.doc_id"""),
    "Incremental near-dup: delta batch checked against the base index " +
      "via a single-sided prefix probe - no base-by-base pair work")

  // ------------------- banded-signature bloom near-dup (r11 task 6)
  // q_dedup_bloom gates EXACT content; q_dedup_incremental covers
  // J >= 0.5 but probes the full base prefix index on every delta
  // drop. This is the composition both point at: a Bloom filter over
  // the BASE corpus's MinHash BAND KEYS. A delta doc whose 4 band keys
  // are all bloom-negative provably shares no band with any base doc
  // (Bloom no-false-negative), so it skips the band join entirely —
  // the read-amplification win, now for NEAR-dups; only band-hit docs
  // generate candidates, and the exact Jaccard verify settles those.
  // Recall relative to the plain band join is 1.0 by construction
  // (bloom adds no misses); recall relative to exact J >= 0.5 is the
  // LSH banding guarantee (the q_dedup_minhash audit's subject, pinned
  // again here against the incremental exact pass). Filter bits are
  // not SQL-replayable → no_oracle; the audit below is hash-green.

  private val bandBloomMemo = new graft.Memo.Bounded[
    (String, String, String), org.apache.spark.util.sketch.BloomFilter](
    cap = 4, onEvict = _ => ()) // driver-local bits: GC reclaims them
  private[graft] def baseBandBloom(s: SparkSession, d: String)
      : org.apache.spark.util.sketch.BloomFilter =
    bandBloomMemo.getOrElseUpdate((s.sparkContext.applicationId, d,
      graft.FixtureStamp.stamp("bloomband1", d, "documents"))) {
      import s.implicits._
      val keys = bandKeys(shingled(s, d)
        .filter($"doc_id" % BpeOps.HoldoutMod =!= 0))
        .select(xxhash64($"band", $"bhash").as("fp"))
      // 4 keys per base doc; the count is one exact aggregate paid once
      // per base version, like the filter build (treeAggregate) itself
      val n = math.max(keys.count(), 1L)
      keys.stat.bloomFilter("fp", n, BloomFpp)
    }

  /** The banded delta-vs-base near-dup pass; `useBloom = false` is the
    * audit's no-bloom reference (identical semantics, no gate). */
  private[graft] def bandedDeltaDups(s: SparkSession, d: String,
      useBloom: Boolean): DataFrame = {
    import s.implicits._
    val docs = shingled(s, d)
    val isDelta = $"doc_id" % BpeOps.HoldoutMod === 0
    val base = docs.filter(!isDelta)
    val delta = docs.filter(isDelta)
    val baseK = bandKeys(base)
      .select($"doc_id".as("bid"), $"band", $"bhash")
    val probed0 = bandKeys(delta)
    val probed = (if (useBloom) {
      val bloom = baseBandBloom(s, d)
      probed0.withColumn("hit", graft.functions.BloomProbe
        .bloom_probe(xxhash64($"band", $"bhash"), bloom).cast("long"))
    } else probed0.withColumn("hit", lit(1L)))
      // feeds both the doc-level flag and the candidate branch — one
      // materialization, metadata-narrow rows (the q_dedup_bloom rule)
      .localCheckpoint()
    val docHits = probed.groupBy($"doc_id")
      .agg(max($"hit").cast("long").as("bloom_hit"))
    val cands = probed.filter($"hit" === 1L)
      .select($"doc_id".as("did"), $"band", $"bhash")
      // base index side shuffle-hash: corpus-scale, never broadcast,
      // and the derived candidate stream can never become build side
      .join(baseK.hint("shuffle_hash"), Seq("band", "bhash"))
      .select($"did", $"bid").distinct()
      .repartition(graft.Fs.computeWidth(s), $"did")
    val jaccardOf = (inter: Column, n1: Column, n2: Column) =>
      round(inter.cast("decimal(18,2)") / (n1 + n2 - inter), 6)
        .cast("decimal(38,6)")
    val dups = cands
      .join(delta.select($"doc_id".as("did"), $"sh".as("shd"))
        .hint("shuffle_hash"), "did")
      .join(base.select($"doc_id".as("bid"), $"sh".as("shb"))
        .hint("shuffle_hash"), "bid")
      .select($"did", jaccardOf(
        graft.functions.SortedIntersectSize
          .sorted_intersect_size($"shd", $"shb"),
        size($"shd"), size($"shb")).as("j"))
      .filter($"j" >= lit("0.5").cast("decimal(38,6)"))
      .groupBy($"did")
      .agg(count(lit(1)).as("n_dups"), max($"j").as("bj"))
    delta.select($"doc_id")
      .join(docHits, Seq("doc_id"), "left")
      .join(dups.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"bloom_hit", lit(0L)).as("bloom_hit"),
        coalesce($"n_dups", lit(0L)).as("n_dups"),
        coalesce($"bj".cast("double"), lit(0.0)).as("best_jaccard"),
        ($"n_dups".isNotNull).cast("long").as("is_dup"))
      .orderBy($"doc_id")
  }

  private val dedupBloomBands = QueryDef(
    "q_dedup_bloom_bands",
    (s, d) => bandedDeltaDups(s, d, useBloom = true),
    None,
    "Banded-signature bloom near-dup: delta band keys probe a Bloom " +
      "filter of the BASE corpus's MinHash band keys before any join; " +
      "only band-hit docs generate candidates for the exact Jaccard " +
      "verify — filter bits not SQL-replayable, audited")

  private val dedupBloomBandsAudit = QueryDef(
    "q_dedup_bloom_bands_audit",
    (s, d) => {
      import s.implicits._
      val out = bandedDeltaDups(s, d, useBloom = true)
        .select($"doc_id", $"n_dups", $"is_dup")
        .withColumnsRenamed(Map("n_dups" -> "n_b", "is_dup" -> "d_b"))
      val ref = bandedDeltaDups(s, d, useBloom = false)
        .select($"doc_id", $"n_dups", $"is_dup")
        .withColumnsRenamed(Map("n_dups" -> "n_r", "is_dup" -> "d_r"))
      val exact = dedupIncremental.fn(s, d)
        .select($"doc_id", $"is_dup".as("d_e"), $"best_jaccard".as("bj_e"))
      out.join(ref, "doc_id").join(exact, "doc_id")
        .agg(
          count(lit(1)).as("n_delta"),
          sum($"d_b").cast("long").as("n_dup_docs"),
          // the bloom gate loses NOTHING relative to the plain band
          // join (Bloom no-false-negative, end-to-end)
          (lit(1L) - coalesce(max(($"n_b" =!= $"n_r" || $"d_b" =!= $"d_r")
            .cast("long")), lit(0L))).as("bloom_lossless_ok"),
          // banding recall, scoped to pairs the 4x4 LSH scheme actually
          // guarantees: a J >= 0.9 pair misses all four bands with
          // probability (1-0.9^4)^4 ~ 1.5e-3, so a miss there is a bug;
          // a marginal J in [0.5, 0.9) pair misses with up to ~77%
          // probability BY DESIGN, so it must not fail the flag
          (lit(1L) - coalesce(max(
            ($"d_e" === 1L && $"d_b" === 0L && $"bj_e" >= 0.9)
            .cast("long")), lit(0L))).as("recall_ok"),
          // the verify stage admits only true J >= 0.5 pairs
          (lit(1L) - coalesce(max(($"d_b" === 1L && $"d_e" === 0L)
            .cast("long")), lit(0L))).as("precision_ok"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS w FROM documents),
      docs AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        FROM w WHERE len(w) >= 3),
      base AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
               FROM docs WHERE doc_id % ${BpeOps.HoldoutMod} <> 0),
      delta AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
                FROM docs WHERE doc_id % ${BpeOps.HoldoutMod} = 0),
      bp AS (SELECT doc_id AS bid, unnest(sh) AS shingle FROM base),
      dp AS (SELECT doc_id AS did, unnest(sh) AS shingle FROM delta),
      inter AS (
        SELECT d.did, b.bid, count(*) AS i
        FROM dp d JOIN bp b USING (shingle) GROUP BY 1, 2),
      j AS (
        SELECT did, CAST(round(CAST(i AS DECIMAL(18,2)) / (dn.n + bn.n - i), 6)
          AS DECIMAL(38,6)) AS jj
        FROM inter
        JOIN delta dn ON did = dn.doc_id
        JOIN base bn ON bid = bn.doc_id),
      dups AS (SELECT DISTINCT did FROM j WHERE jj >= 0.5)
      SELECT CAST((SELECT count(*) FROM delta) AS BIGINT) AS n_delta,
        CAST((SELECT count(*) FROM dups) AS BIGINT) AS n_dup_docs,
        CAST(1 AS BIGINT) AS bloom_lossless_ok,
        CAST(1 AS BIGINT) AS recall_ok,
        CAST(1 AS BIGINT) AS precision_ok"""),
    "Banded-bloom audit: bloom-lossless (vs the no-bloom band join), " +
      "recall vs the exact incremental J >= 0.5 pass, verify precision; " +
      "delta/dup scalars oracle-recomputed")

  override def defs: Seq[QueryDef] =
    Seq(dedupExact, dedupNgram, dedupMinhash, dedupSimhash,
      dedupIncremental, dedupBloom, dedupBloomAudit,
      dedupBloomBands, dedupBloomBandsAudit)
}
