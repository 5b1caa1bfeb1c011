package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus: inverted-index construction,
  * ranked multi-term search, and exact phrase search — the query-side
  * counterpart of the curation tier (a training-data pipeline needs
  * retrieval for decontamination forensics, targeted corpus probes, and
  * RAG-style serving off the same tables it cleans; none of it exists
  * elsewhere in the surface).
  *
  * Scoring is the BM25 FORM (Robertson–Spärck Jones saturation) carried
  * in exact integer millionths so the DuckDB oracle replays it
  * bit-for-bit: term weight uses the log-free linear idf
  * `(N − df)/N` instead of `ln((N − df + .5)/(df + .5))` — per-term
  * rank order under a single term is identical (both strictly decrease
  * in df); only the inter-term mixing differs, and that substitution is
  * what buys cross-engine exactness (ln is the one BM25 ingredient with
  * no engine-portable fixed-point form). tf saturation keeps BM25's
  * k1 = 1.2 exactly: tf/(tf + 1.2) = 5·tf/(5·tf + 6), an integer-
  * denominator rational per the MixOps decimal convention.
  *
  * Scale posture:
  *   - q_search_index: one corpus-sized (term, doc) shuffle for tf, then
  *     one vocab-keyed shuffle whose postings head is a BOUNDED
  *     [[graft.functions.TopKPairs]] heap (partial-merge safe) — a
  *     heavy-hitter term costs O(P) buffer, never O(df). The full
  *     postings relation is the tf intermediate itself, already
  *     distributed; the op publishes the capped head a serving index
  *     would memory-map.
  *   - q_search_term: the term filter prunes the token stream to the
  *     query's terms BEFORE any shuffle; df/weight relations are
  *     query-cardinality-sized and broadcast. One doc_id shuffle over
  *     matching postings only.
  *   - q_search_phrase: gram assembly and the phrase match are a pure
  *     per-row map + filter (the gram never leaves its row until the
  *     match filter); only matches shuffle to the per-doc count.
  */
object SearchOps extends QueryPack {

  /** Postings head kept per term by the index op. */
  private[graft] val IndexTopP = 8

  /** The fixed ranked-search query (terms from the fixture vocabulary). */
  private[graft] val SearchTerms = Seq("spark", "window", "merge")

  /** The fixed phrase query (a token bigram). */
  private[graft] val SearchPhrase = "spark window"

  /** Result-list size of both search ops. */
  private[graft] val SearchTopN = 20

  /** RRF rank constant (Cormack/Clarke/Büttcher 2009 use 60). */
  private[graft] val RrfK = 60

  /** The dense query for hybrid retrieval: the embedding aligned with
    * this doc_id (documents.doc_id and embeddings.vec_id are the same id
    * space in the fixture generator). */
  private[graft] val HybridQueryDoc = 0L

  /** (doc_id, tok) token stream — empty tokens removed (split of "" on
    * ' +' yields [""]; same artifact in DuckDB's regexp_split_to_array). */
  private def toks(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id",
      explode(array_remove(split(lower($"text"), " +"), "")).as("tok"))
  }

  private val toksSql =
    """SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), ' +'), x -> x <> '')) AS tok
      FROM documents"""

  // ------------------------------------------------- q_search_index
  private val searchIndex = QueryDef(
    "q_search_index",
    (s, d) => {
      import s.implicits._
      val tf = toks(s, d).groupBy($"tok", $"doc_id")
        .agg(count(lit(1)).as("tf"))
      tf.groupBy($"tok")
        .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
          graft.functions.TopKPairs.top_k_pairs($"tf", $"doc_id", IndexTopP)
            .as("tk"))
        .select($"tok".as("term"), $"df", $"cf".cast("long").as("cf"),
          array_join(transform($"tk", x => concat(
            x.getField("id").cast("string"), lit(":"),
            x.getField("score").cast("string"))), ",").as("postings"))
        .orderBy($"term")
    },
    Some(s"""WITH toks AS ($toksSql),
      tf AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2),
      topd AS (SELECT tok, doc_id, tf,
          row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn
        FROM tf),
      post AS (SELECT tok,
          string_agg(doc_id || ':' || tf, ',' ORDER BY tf DESC, doc_id)
            AS postings
        FROM topd WHERE rn <= $IndexTopP GROUP BY tok),
      stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
          CAST(sum(tf) AS BIGINT) AS cf
        FROM tf GROUP BY tok)
      SELECT s.tok AS term, s.df, s.cf, p.postings
      FROM stats s JOIN post p USING (tok) ORDER BY term"""),
    s"Inverted index: per-term df/cf plus a top-$IndexTopP postings head " +
      "kept by the bounded top_k_pairs heap — O(P) buffer per term at any df")

  // ------------------------------------------------- q_search_term
  import Exact.{mil, milSql}

  /** The BM25-form per-(doc, term) contributions — the ONE scorer both
    * q_search_term and q_search_hybrid_rrf rank with (the
    * sharedNgramPairs factoring convention: a scoring change must reach
    * every consumer or the hybrid silently fuses a different ranking).
    * The tf relation is cached (it feeds the weight derivation and the
    * scoring join — the span_dedup convention); weights are
    * query-cardinality-sized and broadcast. Returns (doc_id, contrib). */
  private def lexContrib(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val tf = toks(s, d).filter($"tok".isin(SearchTerms: _*))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
      .cache()
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val weights = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select($"tok", mil($"n_docs" - $"df", $"n_docs").as("w_mil"))
    tf.join(broadcast(weights), "tok")
      .select($"doc_id", ($"w_mil" * mil($"tf" * 5L, $"tf" * 5L + 6L))
        .as("contrib"))
  }

  /** DuckDB mirror of [[lexContrib]] over an arbitrary docs relation:
    * CTEs ending in `scored(doc_id, contrib)`. Parameterized so the
    * post-forget search replays the SAME scorer over the surviving
    * corpus (q_search_index_forget). */
  private def lexContribSqlOver(docsRel: String): String =
    s"""toks AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), ' +'), x -> x <> '')) AS tok
      FROM $docsRel),
      tf AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE tok IN (${SearchTerms.map(t => s"'$t'").mkString(", ")})
        GROUP BY 1, 2),
      w AS (SELECT tok, ${milSql("n_docs - df", "n_docs")} AS w_mil
        FROM (SELECT tok, CAST(count(*) AS BIGINT) AS df,
            (SELECT count(*) FROM $docsRel) AS n_docs
          FROM tf GROUP BY tok)),
      scored AS (SELECT tf.doc_id,
          w.w_mil * ${milSql("tf.tf * 5", "tf.tf * 5 + 6")} AS contrib
        FROM tf JOIN w USING (tok))"""

  private val lexContribSql: String = lexContribSqlOver("documents")

  private val searchTerm = QueryDef(
    "q_search_term",
    (s, d) => {
      import s.implicits._
      lexContrib(s, d)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"), sum($"contrib").as("score"))
        .select($"doc_id", $"n_terms", $"score".cast("long").as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(SearchTopN)
    },
    Some(s"""WITH $lexContribSql
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(contrib) AS BIGINT) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT $SearchTopN"""),
    "Ranked lexical search (BM25 saturation, k1=1.2, log-free linear " +
      "idf) in exact integer millionths; query-sized weight broadcast")

  // ------------------------------------------------- q_search_phrase
  private val searchPhrase = QueryDef(
    "q_search_phrase",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          array_remove(split(lower($"text"), " +"), "").as("w"))
        .select($"doc_id", posexplode(
          graft.functions.WordNGrams.word_ngrams_seq($"w", 2)))
        .toDF("doc_id", "pos", "gram")
        .filter($"gram" === SearchPhrase)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_matches"), min($"pos").cast("long").as("first_pos"))
        .orderBy($"n_matches".desc, $"doc_id")
        .limit(SearchTopN)
    },
    Some(s"""WITH w AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), ' +'),
          x -> x <> '') AS w FROM documents),
      grams AS (
        SELECT doc_id, pos - 1 AS pos,
          array_to_string(w[pos : pos + 1], ' ') AS gram FROM (
          SELECT doc_id, w, unnest(range(1, len(w))) AS pos FROM w) t)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        CAST(min(pos) AS BIGINT) AS first_pos
      FROM grams WHERE gram = '$SearchPhrase' GROUP BY doc_id
      ORDER BY n_matches DESC, doc_id LIMIT $SearchTopN"""),
    "Exact phrase search: positional bigram match as a pure map + " +
      "filter; only matching positions shuffle to the per-doc count")

  // --------------------------------------- q_search_index_forget (r15,
  // VERDICT r14 task 1 — the RTBF matrix's text-retrieval cell). The
  // media and audio band indexes forget (q_media_index_forget /
  // q_audio_index_forget); until r15 the POSTING index did not: a doc
  // deleted from the training shards kept ranking in q_search_term —
  // "deleting from the shards is not enough; its signatures keep
  // surfacing it in search" applies to postings verbatim. Same design
  // as the band-index forgets, instantiated on the lexical relation:
  //   - the PERSISTED index is the doc-grain posting relation
  //     (tok, doc_id, tf), generation-aligned by the shared
  //     [[GenerationLayout.ShardStore]] rule and hive-partitioned on
  //     gen, so a doc's postings live in exactly ONE generation
  //     derivable from its id alone (no index scan to find the blast
  //     radius), plus a per-generation doc-count manifest (the
  //     search-time N — corpus-size facts belong in a manifest, not a
  //     full-index distinct);
  //   - forget re-derives ONLY the affected generations from their
  //     SURVIVING source slice (filter before tokenize: deleted texts
  //     are never re-tokenized) and swaps them in with dynamic
  //     partition overwrite; untouched generations keep their files
  //     byte-identical (SearchIndexForgetSpec); a generation whose
  //     every doc was deleted is dropped at the directory level;
  //   - the declared result is the q_search_term ranked search run
  //     AGAINST THE INDEX READ (tok pushdown prunes the postings scan
  //     to the query terms; df from the pruned postings; N from the
  //     manifest; probes untouched) — hash-equal to the oracle's
  //     replay of the SAME scorer over the surviving corpus.
  //
  // Scale posture: the index build is the q_search_index shuffle at
  // doc grain (one corpus-sized (tok, doc) exchange); forget is
  // slice-sized re-tokenization, never corpus-sized; search reads the
  // posting index with the term filter pushed to parquet (at 100 TB a
  // tok-bucketed layout also prunes files) and joins a broadcast
  // query-cardinality weight relation — the corpus is never re-read.

  private[graft] def postingIndexDir(d: String): String =
    graft.Fs.artifactDir("posting_index_forget", d).toString

  private[graft] def postingMetaDir(dir: String): String = dir + "_meta"

  /** One generation's doc-grain posting rows (tok, doc_id, tf) —
    * tokenized ONLY for that slice (filter before the token explode);
    * `keep` further restricts it (the forget rewrite passes the
    * survivor predicate). */
  private def postingRows(s: org.apache.spark.sql.SparkSession, d: String,
      delta: Boolean, keep: Column = lit(true)): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(GenerationLayout.ShardStore.genSlice($"doc_id", delta))
      .filter(keep)
      .select($"doc_id",
        explode(array_remove(split(lower($"text"), " +"), "")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).cast("long").as("tf"))
  }

  /** The generation's doc-MEMBERSHIP manifest (one row per doc). A
    * plain n_docs count (the r15 form) could not survive repeated
    * forgets: counting survivors requires knowing which docs are still
    * present, and an EMPTY doc is present without owning a single
    * posting row — so presence must be recorded, not inferred. With
    * membership rows the manifest is itself a generation-aligned store
    * whose forget is the same filter-in-place anti-join as the
    * postings', and N is a count over it. O(N docs) rows — orders
    * below the postings it annotates. */
  private def metaRows(s: org.apache.spark.sql.SparkSession, d: String,
      delta: Boolean, keep: Column = lit(true)): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(GenerationLayout.ShardStore.genSlice($"doc_id", delta))
      .filter(keep)
      .select($"doc_id")
      .withColumn("gen", lit(if (delta) 1 else 0))
  }

  private[graft] def writePostingBase(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    postingRows(s, d, delta = false).withColumn("gen", lit(0))
      .write.mode("overwrite").partitionBy("gen").parquet(dir)
    metaRows(s, d, delta = false)
      .write.mode("overwrite").partitionBy("gen")
      .parquet(postingMetaDir(dir))
  }

  /** Incremental maintain: ONLY the delta slice is tokenized; lands as
    * new gen=1 files, base generation byte-untouched. */
  private[graft] def appendPostingDelta(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    postingRows(s, d, delta = true).withColumn("gen", lit(1))
      .write.mode("append").partitionBy("gen").parquet(dir)
    metaRows(s, d, delta = true)
      .write.mode("append").partitionBy("gen").parquet(postingMetaDir(dir))
  }

  /** One-pass two-generation build for the forget query's SCRATCH store
    * (r16, guide §1.2): q_search_index_forget rebuilds per invocation
    * and the phased base+delta helpers each re-tokenized their slice —
    * gen derived from the id lands the identical (gen=0, gen=1) layout
    * in ONE tokenize pass (postings) + ONE doc scan (manifest). The
    * phased helpers stay as the maintain-path contract. */
  private[graft] def buildPostingStore(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    import s.implicits._
    val lay = GenerationLayout.ShardStore
    val docs = Tables.documents(s, d)
    docs
      .select($"doc_id",
        explode(array_remove(split(lower($"text"), " +"), "")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("gen", lay.genOfInt($"doc_id"))
      .write.mode("overwrite").partitionBy("gen").parquet(dir)
    docs.select($"doc_id")
      .withColumn("gen", lay.genOfInt($"doc_id"))
      .write.mode("overwrite").partitionBy("gen")
      .parquet(postingMetaDir(dir))
  }

  /** RTBF propagation into the posting index: affected generations (by
    * the layout rule — no index scan) filtered IN PLACE via the shared
    * engine ([[IndexForget]]) — current postings minus the delete set,
    * so repeated forgets compose (the r16 works-once fix: re-deriving
    * from the source resurrected earlier deletes); the doc-membership
    * manifest rewrites under the identical discipline. */
  private[graft] def forgetPostingIndex(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String, deletePred: Column): Unit = {
    import s.implicits._
    val lay = GenerationLayout.ShardStore
    val docs = Tables.documents(s, d)
    // bounded collect: ≤ 2 generation keys regardless of corpus size
    val affected = docs.filter(deletePred)
      .select(lay.genOfInt($"doc_id").as("gen"))
      .distinct().as[Int].collect().toSeq.sorted
    val delIds = docs.filter(deletePred).select($"doc_id")
    IndexForget.filterInPlace(s, dir, "doc_id",
      Seq("tok", "doc_id", "tf"), affected, delIds)
    IndexForget.filterInPlace(s, postingMetaDir(dir), "doc_id",
      Seq("doc_id"), affected, delIds)
  }

  /** The q_search_term ranked search AGAINST a posting-index read: the
    * term filter prunes the postings scan (parquet pushdown on tok);
    * df comes from the pruned postings, N from the manifest; weights
    * are query-cardinality-sized and broadcast. The source corpus is
    * never touched. */
  /** The term-pruned postings read — the ONE scan the search pays over
    * the posting data (SearchIndexForgetSpec pins its pushdown and
    * index-only paths here, where the scan actually lives). */
  private[graft] def prunedPostings(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.read.parquet(dir)
      .filter($"tok".isin(SearchTerms: _*))
      .select($"tok", $"doc_id", $"tf")
  }

  private[graft] def searchOverIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // tf feeds the weight derivation AND the scoring join —
    // localCheckpoint (not cache) so the pruned postings scan runs
    // once: q_search_index_forget rebuilds and overwrites this dir per
    // invocation, and a cache() here would pin relations over the
    // STALE dir in the shared cacheManager across runs (memory churn +
    // the plan-assert poisoning class, ADVICE r15). The checkpoint
    // materializes the term-pruned scan eagerly, so the plan-shape
    // contract (pushdown, index-only paths) is asserted on
    // [[prunedPostings]] itself.
    val tf = prunedPostings(s, dir).localCheckpoint()
    val n = s.read.parquet(postingMetaDir(dir))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val weights = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select($"tok", mil($"n_docs" - $"df", $"n_docs").as("w_mil"))
    tf.join(broadcast(weights), "tok")
      .select($"doc_id", ($"w_mil" * mil($"tf" * 5L, $"tf" * 5L + 6L))
        .as("contrib"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"contrib").as("score"))
      .select($"doc_id", $"n_terms", $"score".cast("long").as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(SearchTopN)
  }

  private val searchIndexForget = QueryDef(
    "q_search_index_forget",
    (s, d) => {
      val dir = postingIndexDir(d)
      buildPostingStore(s, d, dir) // one tokenize pass (r16)
      forgetPostingIndex(s, d, dir,
        col("doc_id") % ShardOps.ForgetMod === ShardOps.ForgetRes)
      searchOverIndex(s, dir)
    },
    Some(s"""WITH ${lexContribSqlOver(s"""(SELECT * FROM documents
        WHERE NOT doc_id % ${ShardOps.ForgetMod} = ${ShardOps.ForgetRes})""")}
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(contrib) AS BIGINT) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT $SearchTopN"""),
    "RTBF propagation into the posting index: affected generations " +
      "filtered in place (current postings minus the delete set — " +
      "nothing re-tokenized, repeated forgets compose) and swapped " +
      "via dynamic partition overwrite, doc-membership manifest " +
      "rewritten alongside; post-forget ranked search over the index " +
      "read hash-equal to the scorer's replay over the surviving corpus")

  // ------------------------------------------- q_search_hybrid_rrf
  // Reciprocal rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
  // the lexical BM25-form ranking and a dense cosine ranking — the
  // standard hybrid-retrieval combiner, and the one that is EXACT by
  // construction: fusion consumes only ranks, so the float-laden dense
  // scores never enter the arithmetic. Contribution of a rank r list
  // entry is round(1/(RrfK + r), 6) in integer millionths (the mil
  // idiom); absent docs contribute 0.
  //
  // Scale posture: both input rankings are top-N heads (bounded-heap /
  // TakeOrdered shapes documented on their own ops), so the fusion
  // joins two N-row relations — driver-trivial at any corpus size; the
  // heavy lifting stays in the per-system retrieval plans.
  private val searchHybrid = QueryDef(
    "q_search_hybrid_rrf",
    (s, d) => {
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      // lexical head: the SHARED q_search_term scorer ([[lexContrib]]),
      // ranked 1..N by the bounded-heap aggregate (partial heaps merge
      // map-side; no global sort, no single-partition window)
      val lexTop = lexContrib(s, d)
        .groupBy($"doc_id").agg(sum($"contrib").as("score"))
        .agg(top_k_pairs($"score", $"doc_id", SearchTopN).as("tk"))
        .select(posexplode($"tk"))
        .select($"col.id".as("doc_id"), ($"pos" + 1).cast("long").as("l_rank"))
      // dense head: exact decimal dot against the aligned query vector,
      // same heap shape
      import graft.functions.ScaledDot.{decimal_scale6, scaled_dot}
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", decimal_scale6($"embedding").as("sv"))
      val qv = emb.filter($"vec_id" === HybridQueryDoc)
        .select($"sv".as("qvec"))
      val denseTop = emb.filter($"vec_id" =!= HybridQueryDoc)
        .join(broadcast(qv))
        .select($"vec_id".as("doc_id"), scaled_dot($"qvec", $"sv").as("dot"))
        .agg(top_k_pairs($"dot", $"doc_id", SearchTopN).as("tk"))
        .select(posexplode($"tk"))
        .select($"col.id".as("doc_id"), ($"pos" + 1).cast("long").as("d_rank"))
      lexTop.join(denseTop, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          coalesce($"l_rank", lit(0L)).as("l_rank"),
          coalesce($"d_rank", lit(0L)).as("d_rank"),
          (coalesce(mil(lit(1L), lit(RrfK.toLong) + $"l_rank"), lit(0L)) +
            coalesce(mil(lit(1L), lit(RrfK.toLong) + $"d_rank"), lit(0L)))
            .as("rrf_mil"))
        .orderBy($"rrf_mil".desc, $"doc_id")
        .limit(SearchTopN)
    },
    Some(s"""WITH $lexContribSql,
      lexs AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        FROM scored GROUP BY doc_id),
      lex AS (SELECT doc_id, CAST(row_number() OVER
            (ORDER BY score DESC, doc_id) AS BIGINT) AS l_rank
        FROM lexs QUALIFY l_rank <= $SearchTopN),
      dots AS (SELECT c.vec_id AS doc_id,
          CAST(round(list_sum(list_transform(range(1, 65),
            i -> CAST(CAST(CAST(q.embedding[i] AS DOUBLE) AS DECIMAL(18,6))
               * CAST(CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(18,6))
               AS DECIMAL(20,12)))), 6) AS DECIMAL(38,6)) AS dot
        FROM embeddings c JOIN embeddings q ON q.vec_id = $HybridQueryDoc
        WHERE c.vec_id <> $HybridQueryDoc),
      dense AS (SELECT doc_id, CAST(row_number() OVER
            (ORDER BY dot DESC, doc_id) AS BIGINT) AS d_rank
        FROM dots QUALIFY d_rank <= $SearchTopN)
      SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
        coalesce(lex.l_rank, 0) AS l_rank,
        coalesce(dense.d_rank, 0) AS d_rank,
        coalesce(CASE WHEN lex.l_rank IS NOT NULL
          THEN ${milSql("1", s"$RrfK + lex.l_rank")} END, 0) +
        coalesce(CASE WHEN dense.d_rank IS NOT NULL
          THEN ${milSql("1", s"$RrfK + dense.d_rank")} END, 0) AS rrf_mil
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
      ORDER BY rrf_mil DESC, doc_id LIMIT $SearchTopN"""),
    "Hybrid retrieval: reciprocal rank fusion of the lexical BM25-form " +
      "head and the exact-decimal dense cosine head, in integer millionths")

  override def defs: Seq[QueryDef] =
    Seq(searchIndex, searchTerm, searchPhrase, searchHybrid,
      searchIndexForget)
}
