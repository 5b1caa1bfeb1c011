package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subword tokenization: deterministic byte-pair encoding with a
  * corpus-learned merge table (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016 — the standard
  * tokenization stage of every LLM training pipeline; VERDICT r8 task 4).
  *
  * Scale posture — the industrial BPE-learner shape (VERDICT r9 task 1):
  *   - Learning runs on the WORD-FREQUENCY DICT, not the corpus: one
  *     corpus-sized keyed aggregation builds (word, freq), that dict is
  *     collected ONCE (vocab-sized — kilobytes at fixture scale, MBs for
  *     a production corpus; [[MaxDictWords]] bounds it), and the whole
  *     `Merges`-iteration loop runs in driver memory. The job count is
  *     therefore CONSTANT in the merge-table size — a 30k–100k-merge
  *     production table costs zero additional Spark jobs, where the
  *     previous 2-jobs-per-merge formulation would have paid 60k+
  *     sequential scheduling round-trips for kilobytes of data. This is
  *     how every real BPE trainer works (the dict fits one machine;
  *     the corpus does not), and it mirrors the k-means
  *     collect-broadcast precedent in [[ClusterOps]].
  *   - Application is dict-sized and distributed: the learned token
  *     table re-enters the plan as a local relation; the corpus joins
  *     word → tokens through a broadcast. The token vocabulary of a
  *     production tokenizer is O(10⁴–10⁶) entries, so the dict side
  *     always broadcasts.
  *   - The pre-round-10 distributed loop survives as
  *     [[learnBpeDistributedReference]], spec-only: BpeSpec proves the
  *     local learner reproduces its merge table and tokenized dict
  *     bit-for-bit (the QualityModelScore twin-kernel pattern).
  *
  * Determinism contract (what makes an iterative text algorithm
  * DuckDB-oracle-able): the dict state is a single STRING per word — each
  * token wrapped in  delimiters, adjacent tokens abutting
  * (`␁h␁␁e␁␁y␁`) — and a merge (a,b) is a plain (non-regex) global
  * `replace` of `␁a␁␁b␁` with `␁ab␁`. Leftmost-non-overlapping
  * replacement IS greedy left-to-right BPE merge order (for a merge
  * (a,a), `[a,a,a]` → `[aa,a]`), and both engines' `replace` agree on it,
  * so the oracle replays the whole training loop in `Merges` unrolled
  * CTEs with zero float or ordering ambiguity. The argmax tie-break is
  * (count DESC, a ASC, b ASC) under binary string collation — identical
  * both sides (the driver-local learner compares UTF-8 BYTES, which is
  * exactly the binary collation both engines sort strings by). Input words are lowercased with the delimiter char
  * stripped (it cannot occur inside a token by construction).
  */
/** One learned merge: tokens (a, b) fuse to a+b; `cnt` is the
  * freq-weighted adjacent-pair count that won the argmax at merge time
  * (the statistic tokenizer artifacts persist alongside the pair). */
final case class BpeMerge(a: String, b: String, cnt: Long)

object BpeOps extends QueryPack {

  /** Merge-table size. Real tokenizers learn 30k–100k merges; the bound
    * here is sized to the fixture vocabulary (which collapses to
    * single-token words quickly) and to the oracle's unrolled-CTE depth —
    * the ALGORITHM is identical at any bound. */
  private[graft] val Merges = 16

  private val D = "\u0001"
  private val DD = D + D

  /** Cleaned lowercase corpus words: (doc_id, word), delimiter stripped,
    * empties dropped. Shared with [[UnigramOps]] (same word stream, same
    * dict-local learning posture). */
  private[operators] def corpusWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", explode(split(lower($"text"), " +")).as("w0"))
      .select($"doc_id", replace($"w0", lit(D), lit("")).as("word"))
      .filter(length($"word") > 0)
  }

  /** Tokens of the current dict state `t`. */
  private def toksOf(s: SparkSession): org.apache.spark.sql.Column =
    split(expr(s"trim(BOTH char(1) FROM t)"), DD)

  /** Word-dict size ceiling for the driver-side collect. A whitespace
    * vocabulary is Heaps-law sublinear in corpus size (English web text
    * plateaus in the low millions of types); 4M entries ≈ a few hundred
    * MB of driver heap — the same order as the k-means/IVF driver state
    * budget. A corpus past the cap takes the standard production
    * pretreatment (drop hapax legomena / frequency-threshold the dict
    * before training), which is a semantic choice the pipeline owner
    * makes, so this fails loudly instead of silently truncating. */
  private[graft] val MaxDictWords = 4 << 20

  /** Run the BPE learning loop: returns (ordered merge table with merge-
    * time pair counts, tokenized dict (word, freq, toks array<string>,
    * n_tok) as a vocab-sized local relation).
    *
    * Memoized per (Spark context, corpus dir): a corpus has ONE learned
    * tokenizer, and the declared consumers (q_text_bpe, q_text_bpe_ids,
    * q_bpe_vocab, q_pack_bpe) plus the specs read it — the
    * sharedNgramPairs pattern. The memo holds driver-local data only (no
    * executor blocks): the size-capped [[graft.Memo.Bounded]] bounds the
    * heap it can pin. */
  private val learnMemo =
    new graft.Memo.Bounded[(String, String, String), (Seq[BpeMerge], DataFrame)](
      cap = 4, onEvict = _ => ()) // driver-local data: GC reclaims it
  private[graft] def learnBpe(s: SparkSession, d: String)
      : (Seq[BpeMerge], DataFrame) =
    // corpus fingerprint in the key (ADVICE r9): regeneration at the
    // same path re-learns instead of serving the stale tokenizer
    learnMemo.getOrElseUpdate((s.sparkContext.applicationId, d,
      graft.FixtureStamp.stamp("bpe1", d, "documents")))(
      learnBpeUncached(s, d))

  /** The uncached learning path (VERDICT r9 task 1: driver-local merge
    * loop). ONE corpus-sized aggregation + ONE vocab-sized collect, then
    * the whole merge loop runs in driver memory — Spark job count is
    * constant in `maxMerges` (BpeSpec asserts it at 64 merges). The
    * learned dict re-enters the plan as a local relation, which the
    * consumers broadcast-join exactly as before. */
  private[graft] def learnBpeUncached(s: SparkSession, d: String,
      maxMerges: Int = Merges): (Seq[BpeMerge], DataFrame) =
    learnFromWords(s, corpusWords(s, d), maxMerges)

  /** The frozen-tokenizer training slice: everything except the held-out
    * `doc_id % HoldoutMod == 0` documents. Memoized like the full-corpus
    * tokenizer (a `#base` key variant). */
  private[graft] def learnBpeBase(s: SparkSession, d: String)
      : (Seq[BpeMerge], DataFrame) = {
    import s.implicits._
    learnMemo.getOrElseUpdate((s.sparkContext.applicationId, d + "#base",
      graft.FixtureStamp.stamp("bpe1", d, "documents")))(
      learnFromWords(s,
        corpusWords(s, d).where($"doc_id" % HoldoutMod =!= 0), Merges))
  }

  private def learnFromWords(s: SparkSession, words: DataFrame,
      maxMerges: Int): (Seq[BpeMerge], DataFrame) = {
    import s.implicits._
    val dictLocal = words
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
    require(dictLocal.length <= MaxDictWords,
      s"word dict has ${dictLocal.length} types > $MaxDictWords: " +
        "frequency-threshold the dict (drop hapax) before BPE training")
    val (merges, toks) = learnLocal(dictLocal, maxMerges)
    val rows = dictLocal.indices.map { i =>
      (dictLocal(i)._1, dictLocal(i)._2, toks(i).toSeq, toks(i).length.toLong)
    }
    val dictTok = rows.toDF("word", "freq", "toks", "n_tok")
    (merges, dictTok)
  }

  /** Unicode code-point symbols of a word — the base alphabet. Matches
    * Spark's `substring(word, i, 1)` and DuckDB's `word[i:i]`, both of
    * which index CODE POINTS (a `toCharArray` split would break
    * surrogate pairs). */
  private[operators] def codePointSymbols(word: String): Array[String] = {
    val cps = word.codePoints().toArray
    val out = new Array[String](cps.length)
    var i = 0
    while (i < cps.length) {
      out(i) = new String(Character.toChars(cps(i))); i += 1
    }
    out
  }

  /** `x < y` under UTF-8 byte order — the binary string collation Spark
    * and DuckDB ORDER BY use. Java's String.compareTo is UTF-16
    * code-unit order, which disagrees above the BMP. */
  private[operators] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** Greedy leftmost-non-overlapping merge application — the exact
    * semantics of the delimiter-string `replace` the oracle (and the
    * distributed reference) use: for a merge (a,a), [a,a,a] → [aa,a]. */
  private[graft] def applyMerge(t: Array[String], a: String, b: String)
      : Array[String] = {
    var i = 0; var hit = false
    while (i < t.length - 1 && !hit) {
      if (t(i) == a && t(i + 1) == b) hit = true else i += 1
    }
    if (!hit) t
    else {
      val out = Array.newBuilder[String]
      var j = 0
      while (j < t.length) {
        if (j < t.length - 1 && t(j) == a && t(j + 1) == b) {
          out += (a + b); j += 2
        } else { out += t(j); j += 1 }
      }
      out.result()
    }
  }

  /** The driver-local merge loop over the collected dict. Per iteration:
    * one hash-map pair count over the dict, one linear argmax with the
    * (count DESC, a ASC, b ASC) UTF-8-byte tie-break, one merge
    * application pass. Cost is O(dict tokens) per merge with zero Spark
    * jobs — the loop a production 30k-merge tokenizer actually runs.
    * Returns the merges (with merge-time pair counts) and the final
    * per-word token arrays, index-aligned with the input dict. */
  private[graft] def learnLocal(dict: Array[(String, Long)], maxMerges: Int)
      : (Seq[BpeMerge], Array[Array[String]]) = {
    var toks: Array[Array[String]] = dict.map(w => codePointSymbols(w._1))
    val merges = Seq.newBuilder[BpeMerge]
    var m = 0
    var exhausted = false
    while (m < maxMerges && !exhausted) {
      val counts =
        new java.util.HashMap[(String, String), Array[Long]](1024)
      var i = 0
      while (i < toks.length) {
        val t = toks(i); val f = dict(i)._2
        var j = 0
        while (j < t.length - 1) {
          val k = (t(j), t(j + 1))
          val slot = counts.get(k)
          if (slot == null) counts.put(k, Array(f)) else slot(0) += f
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true // every word is one token
      else {
        var bestK: (String, String) = null
        var bestC = 0L
        counts.forEach { (k, v) =>
          val c = v(0)
          if (bestK == null || c > bestC ||
            (c == bestC && (utf8Lt(k._1, bestK._1) ||
              (k._1 == bestK._1 && utf8Lt(k._2, bestK._2))))) {
            bestK = k; bestC = c
          }
        }
        merges += BpeMerge(bestK._1, bestK._2, bestC)
        toks = toks.map(applyMerge(_, bestK._1, bestK._2))
        m += 1
      }
    }
    (merges.result(), toks)
  }

  /** The pre-round-10 distributed loop (2 jobs per merge), kept ONLY as
    * the parity reference BpeSpec checks the local learner against —
    * its dict-state string `replace` is the same formulation the DuckDB
    * oracle replays, so bit-identity here transitively re-proves the
    * oracle contract. Not reachable from any declared query. */
  private[graft] def learnBpeDistributedReference(s: SparkSession, d: String,
      maxMerges: Int = Merges): (Seq[BpeMerge], DataFrame) = {
    import s.implicits._
    val dict0 = corpusWords(s, d)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .withColumn("t", concat(lit(D),
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), DD),
        lit(D)))
      .cache()
    var cur = dict0
    val merges = Seq.newBuilder[BpeMerge]
    var exhausted = false
    for (_ <- 0 until maxMerges if !exhausted) {
      val sy = toksOf(s)
      val best = cur
        .select($"freq",
          explode(arrays_zip(
            slice(sy, lit(1), size(sy) - 1).as("a"),
            slice(sy, lit(2), size(sy) - 1).as("b"))).as("pr"))
        .select($"pr.a".as("a"), $"pr.b".as("b"), $"freq")
        .groupBy($"a", $"b").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1).as[(String, String, Long)].collect()
      if (best.isEmpty) exhausted = true // every word is one token already
      else {
        val (a, b, c) = best.head
        merges += BpeMerge(a, b, c)
        cur = cur.withColumn("t",
          replace($"t", lit(D + a + DD + b + D), lit(D + a + b + D)))
      }
    }
    val dictTok = cur
      .select($"word", $"freq", toksOf(s).as("toks"),
        size(toksOf(s)).cast("long").as("n_tok"))
      .localCheckpoint()
    dict0.unpersist(false)
    (merges.result(), dictTok)
  }

  /** Shared DuckDB CTE suffix re-deriving the tokenized dict from the
    * unrolled training replay: exposes `dtoks(word, freq, tk)`. */
  private def dictToksCte: String =
    s"""dtoks AS MATERIALIZED (SELECT word, freq,
        string_split(trim(t, chr(1)), chr(1)||chr(1)) AS tk FROM d$Merges)"""

  /** Per-document BPE token counts (doc_id, n_words, n_bpe_tokens),
    * every document present (wordless docs count 0) — the q_text_bpe
    * body, shared with q_pack_bpe. The token vocab broadcasts (MBs for
    * a production tokenizer); the corpus word stream never shuffles —
    * per-doc counts reuse the documents partitioning via the doc_id
    * aggregation only. */
  private[graft] def bpeDocCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, dictTok) = learnBpe(s, d)
    val perDoc = corpusWords(s, d)
      .join(broadcast(dictTok.select($"word", $"n_tok")), "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_tok").as("n_bpe_tokens"))
    Tables.documents(s, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"))
  }

  // ------------------------------------------------------ q_text_bpe
  private val textBpe = QueryDef(
    "q_text_bpe",
    (s, d) => {
      import s.implicits._
      bpeDocCounts(s, d).orderBy($"doc_id")
    },
    Some(s"""WITH $learnCtes,
      toks AS (SELECT word,
        CAST(len(string_split(trim(t, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_tok
        FROM d$Merges),
      per_doc AS (
        SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
        FROM words w JOIN toks USING (word) GROUP BY 1)
      SELECT d.doc_id, COALESCE(p.n_words, 0) AS n_words,
        COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id"""),
    s"Deterministic BPE subword tokenization: $Merges corpus-learned " +
      "merges over the word-frequency dict, per-doc token counts")

  /** The DuckDB replay of the whole training loop — shared by both BPE
    * oracles. Every per-iteration CTE is MATERIALIZED: each level
    * references the previous one ~4 times (the dict chain plus three
    * scalar subqueries on the argmax row), so inlining would expand the
    * 16-level chain exponentially (~4^16 scans of the base table —
    * observed as a "too many open files" blow-up in DuckDB). Exposes
    * `words(doc_id, word)` and `d$Merges(word, freq, t)`. */
  private def learnCtes: String = learnCtesFiltered("TRUE")

  /** As [[learnCtes]], with the training corpus restricted to documents
    * matching `docFilter` — the frozen-tokenizer oracle learns on the
    * base slice only. */
  private def learnCtesFiltered(docFilter: String): String = {
    val iters = (0 until Merges).map { k =>
      s"""s$k AS MATERIALIZED (SELECT word, freq, string_split(trim(t, chr(1)), chr(1)||chr(1)) AS sy FROM d$k),
      p$k AS MATERIALIZED (SELECT a, b, SUM(freq) AS cnt FROM (
          SELECT freq, sy[i] AS a, sy[i+1] AS b FROM (
            SELECT freq, sy, unnest(range(1, len(sy))) AS i FROM s$k))
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
      d${k + 1} AS MATERIALIZED (SELECT word, freq,
        coalesce(replace(t,
          chr(1)||(SELECT a FROM b$k)||chr(1)||chr(1)||(SELECT b FROM b$k)||chr(1),
          chr(1)||(SELECT a FROM b$k)||(SELECT b FROM b$k)||chr(1)), t) AS t
        FROM d$k)"""
    }.mkString(",\n      ")
    s"""wr AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), ' +')) AS w0
        FROM documents WHERE $docFilter),
      words AS MATERIALIZED (
        SELECT doc_id, replace(w0, chr(1), '') AS word FROM wr
        WHERE len(replace(w0, chr(1), '')) > 0),
      dict AS (SELECT word, count(*) AS freq FROM words GROUP BY 1),
      d0 AS MATERIALIZED (SELECT word, freq,
        chr(1) || array_to_string(
          list_transform(range(1, len(word) + 1), i -> word[i:i]),
          chr(1)||chr(1)) || chr(1) AS t
        FROM dict),
      $iters"""
  }

  // -------------------------------------------------- q_text_bpe_ids
  // The tokenization story's deliverable: each document as its ordered
  // subword-ID sequence — the row a training pipeline actually feeds the
  // model. IDs are frequency ranks of the learned subword vocabulary
  // (corpus-weighted, ties lexicographic), the q_text_token_ids
  // convention one level down. Scale shape: the dict and vocab are
  // vocabulary-sized broadcasts; the corpus explodes words with
  // positions, maps word → subword ids through the broadcast dict, and
  // reassembles per doc_id in one grouped shuffle — no corpus-sized
  // relation ever joins another.
  private val VocabSize = 1000

  /** The corpus as one subword-ID token stream: (doc_id, pos, subpos,
    * tid) — the shared plan under `q_text_bpe_ids` (which reassembles it
    * per document) and `q_shard_write` (which packs it into fixed-length
    * training rows). IDs are frequency ranks of the learned subword
    * vocabulary (corpus-weighted, ties lexicographic); out-of-vocab
    * subwords map to id 0. Dict and vocab are vocabulary-sized
    * broadcasts; the corpus side is a pure map + posexplode — no
    * corpus-sized relation ever joins another. */
  private[graft] def subwordIdRows(s: SparkSession, d: String)
      : DataFrame = subwordIdsOf(s, d, Tables.documents(s, d))

  /** word → ordered subword-ID array, the two tokenizer maps (word →
    * toks, tok → tid) COMPOSED driver-side once per (application,
    * corpus, fixture stamp) — r16, guide §1.2 step 2 (per-task work):
    * the tokenize kernel previously probed TWO broadcast hash
    * relations per token — the dict per word row, then the vocab per
    * SUBWORD row, on the widest (post-explode) stream under every
    * shard build/forget and stream-pipeline micro-batch. Both maps are
    * bounded driver-local tokenizer state, so the composition costs
    * one vocab-sized pass at memo-fill time and removes the per-
    * subword-row probe (and one broadcast build) from every consumer
    * plan. OOV subwords map to id 0, exactly the left-join coalesce
    * this replaces.
    *
    * The (tok → tid) vocabulary is derived inside the same fill: rank
    * by (corpus-weighted frequency DESC, tok), top [[VocabSize]]. The
    * tie-break DELIBERATELY executes as a Spark plan (UTF8String binary
    * comparison — the UTF-8-byte order DuckDB shares; a driver-side
    * Scala String sort would compare UTF-16 code units and diverge on
    * supplementary characters), collected once (vocab-sized, the
    * MaxDictWords class). It has no consumer but this composition, so
    * it needs no memo of its own. */
  private val tidDictMemo =
    new graft.Memo.Bounded[(String, String, String), Seq[(String, Seq[Int])]](
      cap = 4, onEvict = _ => ())
  private def tidDictRows(s: SparkSession, d: String): Seq[(String, Seq[Int])] = {
    import s.implicits._
    tidDictMemo.getOrElseUpdate((s.sparkContext.applicationId, d,
      graft.FixtureStamp.stamp("bpe1", d, "documents"))) {
      val (_, dictTok) = learnBpe(s, d)
      // subword vocab: corpus-weighted token frequency (Σ word-freq
      // over occurrences), rank desc with lexicographic tie-break
      val vmap = dictTok
        .select(explode($"toks").as("tok"), $"freq")
        .groupBy($"tok").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"tok").limit(VocabSize)
        .withColumn("tid", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"cnt".desc, $"tok")))
        .select($"tok", $"tid").as[(String, Int)].collect().toMap
      dictTok.select($"word", $"toks").as[(String, Seq[String])]
        .collect().toSeq // vocab-sized LocalRelation — a driver-only job
        .map { case (w, toks) => (w, toks.map(vmap.getOrElse(_, 0))) }
    }
  }

  /** As [[subwordIdRows]] but over an arbitrary (doc_id, text) relation
    * — the corpus' frozen tokenizer applied to a slice of it (e.g. one
    * streaming micro-batch of cleaned docs, StreamingOps
    * q_stream_pipeline). Same plan shape: vocab-sized broadcasts, pure
    * map + posexplode on the doc side. */
  private[graft] def subwordIdsOf(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    val dict = tidDictRows(s, d).toDF("word", "tids")
    docs
      .select($"doc_id", posexplode(split(lower($"text"), " +")))
      .toDF("doc_id", "pos", "w0")
      .select($"doc_id", $"pos", replace($"w0", lit(D), lit("")).as("word"))
      .filter(length($"word") > 0)
      .join(broadcast(dict), "word")
      .select($"doc_id", $"pos", posexplode($"tids"))
      .toDF("doc_id", "pos", "subpos", "tid")
  }

  /** DuckDB CTE chain replaying [[subwordIdRows]] — ends at `ids`
    * (doc_id, pos, subpos, tid). Shared by the q_text_bpe_ids and
    * q_shard_write oracles. */
  private[graft] def subwordIdCtes: String = s"""$learnCtes,
      dtoks AS MATERIALIZED (SELECT word, freq,
        string_split(trim(t, chr(1)), chr(1)||chr(1)) AS tk FROM d$Merges),
      vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS tid
        FROM (SELECT tok, SUM(freq) AS cnt FROM (
          SELECT freq, unnest(tk) AS tok FROM dtoks) GROUP BY 1)
        QUALIFY tid <= $VocabSize),
      wr2 AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS tk FROM documents),
      pw AS (SELECT doc_id, replace(w0, chr(1), '') AS word, pos FROM (
          SELECT doc_id, unnest(tk) AS w0, generate_subscripts(tk, 1) AS pos FROM wr2)
        WHERE len(replace(w0, chr(1), '')) > 0),
      seq AS (SELECT p.doc_id, p.pos,
          generate_subscripts(t.tk, 1) AS subpos, unnest(t.tk) AS tok
        FROM pw p JOIN dtoks t USING (word)),
      ids AS (SELECT s.doc_id, s.pos, s.subpos, COALESCE(v.tid, 0) AS tid
        FROM seq s LEFT JOIN vocab v USING (tok))"""

  private val textBpeIds = QueryDef(
    "q_text_bpe_ids",
    (s, d) => {
      import s.implicits._
      val ids = subwordIdRows(s, d)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bpe_tokens"),
          array_join(
            transform(array_sort(collect_list(struct($"pos", $"subpos", $"tid"))),
              x => x.getField("tid").cast("string")), ",").as("ids_str"))
      Tables.documents(s, d).select($"doc_id")
        .join(ids, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
          coalesce($"ids_str", lit("")).as("ids_str"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $subwordIdCtes,
      per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe_tokens,
        array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos, subpos), ',') AS ids_str
        FROM ids GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
        COALESCE(p.ids_str, '') AS ids_str
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id"""),
    "Per-document subword-ID sequences from the learned BPE vocabulary " +
      "(frequency-ranked ids), broadcast dict + one grouped shuffle")

  // ---------------------------------------------------- q_bpe_encode
  // Frozen-tokenizer encoding (the production step q_text_bpe cannot
  // show): learn on the base slice (doc_id % HoldoutMod != 0), encode
  // the HELD-OUT documents with that frozen merge table — including
  // words the trainer never saw, which BPE handles by splitting deeper
  // into subwords (the whole point of subword tokenization). The
  // application is fully distributed and collect-free: distinct held
  // words take the delimiter encoding and fold the Merges-deep `replace`
  // chain (pure codegen string ops — the same formulation the oracle
  // replays), then per-doc counts come from one broadcast join + one
  // grouped shuffle. n_unseen_words reports how many word occurrences
  // were out-of-dict.
  private[graft] val HoldoutMod = 10

  private val bpeEncode = QueryDef(
    "q_bpe_encode",
    (s, d) => {
      import s.implicits._
      val (merges, baseDict) = learnBpeBase(s, d)
      val held = corpusWords(s, d).where($"doc_id" % HoldoutMod === 0)
      val t0: org.apache.spark.sql.Column = concat(lit(D),
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), DD),
        lit(D))
      val tN = merges.foldLeft(t0)((c, m) =>
        replace(c, lit(D + m.a + DD + m.b + D), lit(D + m.a + m.b + D)))
      val encoded = held.select($"word").distinct()
        .withColumn("t", tN)
        .select($"word",
          size(split(expr("trim(BOTH char(1) FROM t)"), DD))
            .cast("long").as("n_tok"))
      val seen = baseDict.select($"word", lit(1L).as("seen"))
      val perDoc = held
        .join(broadcast(encoded), "word")
        .join(broadcast(seen), Seq("word"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_tok").as("n_bpe_tokens"),
          sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_unseen_words"))
      Tables.documents(s, d).select($"doc_id")
        .where($"doc_id" % HoldoutMod === 0)
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_words", lit(0L)).as("n_words"),
          coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
          coalesce($"n_unseen_words", lit(0L)).as("n_unseen_words"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${learnCtesFiltered(s"doc_id % $HoldoutMod <> 0")},
      hw AS MATERIALIZED (SELECT doc_id, replace(w0, chr(1), '') AS word FROM (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), ' +')) AS w0
          FROM documents WHERE doc_id % $HoldoutMod = 0)
        WHERE len(replace(w0, chr(1), '')) > 0),
      e0 AS MATERIALIZED (SELECT DISTINCT word,
          chr(1) || array_to_string(
            list_transform(range(1, len(word) + 1), i -> word[i:i]),
            chr(1)||chr(1)) || chr(1) AS t
        FROM hw),
      ${(0 until Merges).map(k => s"""e${k + 1} AS MATERIALIZED (SELECT word,
        coalesce(replace(t,
          chr(1)||(SELECT a FROM b$k)||chr(1)||chr(1)||(SELECT b FROM b$k)||chr(1),
          chr(1)||(SELECT a FROM b$k)||(SELECT b FROM b$k)||chr(1)), t) AS t
        FROM e$k)""").mkString(",\n      ")},
      enc AS (SELECT word,
          CAST(len(string_split(trim(t, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_tok
        FROM e$Merges),
      per_doc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(SUM(e.n_tok) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(CASE WHEN s.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unseen_words
        FROM hw h JOIN enc e USING (word)
        LEFT JOIN (SELECT DISTINCT word FROM dict) s ON h.word = s.word
        GROUP BY 1)
      SELECT d.doc_id, COALESCE(p.n_words, 0) AS n_words,
        COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
        COALESCE(p.n_unseen_words, 0) AS n_unseen_words
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      WHERE d.doc_id % $HoldoutMod = 0
      ORDER BY d.doc_id"""),
    "Frozen-tokenizer encoding of held-out documents: merges learned on " +
      "the 90% base slice applied to the 10% holdout, unseen words " +
      "subword-split, collect-free distributed application")

  // ---------------------------------------------------- q_bpe_bytes
  // VERDICT r12 task 4: GPT-2-class BYTE-LEVEL fallback. q_bpe_encode's
  // n_unseen_words > 0 is the gap — a code-point tokenizer has no id for
  // symbols the trainer never saw. Here the id space reserves 1..256 for
  // the 256 single bytes; learned subwords rank from 257. Encoding is
  // total BY CONSTRUCTION: a subword outside the frozen vocabulary
  // decomposes into its UTF-8 bytes (functions/Utf8Bytes.scala — exact
  // for any Unicode input, astral included), so n_unseen is computed —
  // not pinned — and lands 0. The whole per-doc id sequence goes under
  // the hash oracle (ids_str), and BpeBytesSpec proves the round trip:
  // decode(encode(word)) == word for every held-out word, including
  // planted non-ASCII words on a scratch corpus.
  //
  // Scale shape: identical to q_bpe_encode — distinct held words fold
  // the Merges-deep codegen replace chain, vocab is a broadcast, per-doc
  // assembly is one grouped shuffle; the fallback adds only a per-row
  // byte decomposition (no join, no extra pass).

  /** Frequency-ranked subword vocabulary of the BASE tokenizer with ids
    * offset past the 256 reserved byte ids: (tok, vid), vid ≥ 257. */
  private[graft] def byteVocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, baseDict) = learnBpeBase(s, d)
    baseDict
      .select(explode($"toks").as("tok"), $"freq")
      .groupBy($"tok").agg(sum($"freq").as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"tok")))
      .filter($"rank" <= VocabSize)
      .select($"tok", ($"rank" + 256L).cast("long").as("vid"))
  }

  /** Held-out words with positions: (doc_id, pos, word). */
  private def heldPosWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .where($"doc_id" % HoldoutMod === 0)
      .select($"doc_id", posexplode(split(lower($"text"), " +")))
      .toDF("doc_id", "pos", "w0")
      .select($"doc_id", $"pos", replace($"w0", lit(D), lit("")).as("word"))
      .filter(length($"word") > 0)
  }

  /** Byte-fallback encode of every distinct held-out word:
    * (word, idl array<long>, nfb, nun). Total by construction. */
  private[graft] def byteWordIds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (merges, _) = learnBpeBase(s, d)
    val t0: org.apache.spark.sql.Column = concat(lit(D),
      array_join(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        DD),
      lit(D))
    val tN = merges.foldLeft(t0)((c, m) =>
      replace(c, lit(D + m.a + DD + m.b + D), lit(D + m.a + m.b + D)))
    val subs = heldPosWords(s, d).select($"word").distinct()
      .withColumn("t", tN)
      .select($"word", posexplode(split(expr("trim(BOTH char(1) FROM t)"), DD)))
      .toDF("word", "subpos", "sub")
    val mapped = subs
      .join(broadcast(byteVocab(s, d)), $"sub" === $"tok", "left")
      .select($"word", $"subpos",
        when($"vid".isNotNull, array($"vid"))
          .otherwise(transform(
            graft.functions.Utf8Bytes.utf8_bytes($"sub"),
            b => b.cast("long") + 1L)).as("ids"),
        when($"vid".isNull, octet_length($"sub").cast("long"))
          .otherwise(lit(0L)).as("nfb"))
    mapped
      .withColumn("nun", ($"ids".isNull).cast("long"))
      .groupBy($"word")
      .agg(
        flatten(transform(array_sort(collect_list(struct($"subpos", $"ids"))),
          x => x.getField("ids"))).as("idl"),
        sum($"nfb").as("nfb"),
        sum($"nun").as("nun"))
  }

  private val bpeBytes = QueryDef(
    "q_bpe_bytes",
    (s, d) => {
      import s.implicits._
      val perDoc = heldPosWords(s, d)
        .join(broadcast(byteWordIds(s, d)), "word")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size($"idl")).cast("long").as("n_ids"),
          sum($"nfb").as("n_fallback_ids"),
          sum($"nun").as("n_unseen"),
          array_join(flatten(transform(
            array_sort(collect_list(struct($"pos", $"idl"))),
            x => transform(x.getField("idl"), i => i.cast("string")))), ",")
            .as("ids_str"))
      Tables.documents(s, d).select($"doc_id")
        .where($"doc_id" % HoldoutMod === 0)
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_words", lit(0L)).as("n_words"),
          coalesce($"n_ids", lit(0L)).as("n_ids"),
          coalesce($"n_fallback_ids", lit(0L)).as("n_fallback_ids"),
          coalesce($"n_unseen", lit(0L)).as("n_unseen"),
          coalesce($"ids_str", lit("")).as("ids_str"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${learnCtesFiltered(s"doc_id % $HoldoutMod <> 0")},
      $dictToksCte,
      vocab AS (SELECT tok, CAST(rank + 256 AS BIGINT) AS vid FROM (
          SELECT tok,
            CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank
          FROM (SELECT tok, SUM(freq) AS cnt FROM (
            SELECT freq, unnest(tk) AS tok FROM dtoks) GROUP BY 1))
        WHERE rank <= $VocabSize),
      hwp AS MATERIALIZED (SELECT doc_id, pos, replace(w0, chr(1), '') AS word
        FROM (SELECT doc_id, unnest(tk) AS w0,
            generate_subscripts(tk, 1) AS pos FROM (
          SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS tk
          FROM documents WHERE doc_id % $HoldoutMod = 0))
        WHERE len(replace(w0, chr(1), '')) > 0),
      e0 AS MATERIALIZED (SELECT DISTINCT word,
          chr(1) || array_to_string(
            list_transform(range(1, len(word) + 1), i -> word[i:i]),
            chr(1)||chr(1)) || chr(1) AS t
        FROM hwp),
      ${(0 until Merges).map(k => s"""e${k + 1} AS MATERIALIZED (SELECT word,
        coalesce(replace(t,
          chr(1)||(SELECT a FROM b$k)||chr(1)||chr(1)||(SELECT b FROM b$k)||chr(1),
          chr(1)||(SELECT a FROM b$k)||(SELECT b FROM b$k)||chr(1)), t) AS t
        FROM e$k)""").mkString(",\n      ")},
      subs AS (SELECT word, unnest(sy) AS sub,
          generate_subscripts(sy, 1) AS subpos FROM (
        SELECT word, string_split(trim(t, chr(1)), chr(1)||chr(1)) AS sy
        FROM e$Merges)),
      idsw AS (SELECT s.word, s.subpos,
          CASE WHEN v.vid IS NOT NULL THEN [v.vid]
               ELSE list_transform(range(1, len(s.sub) + 1),
                 i -> CAST(ord(substring(s.sub, i, 1)) + 1 AS BIGINT)) END AS ids,
          CAST(CASE WHEN v.vid IS NULL THEN len(s.sub) ELSE 0 END
            AS BIGINT) AS nfb
        FROM subs s LEFT JOIN vocab v ON s.sub = v.tok),
      wid AS (SELECT word, flatten(list(ids ORDER BY subpos)) AS idl,
          SUM(nfb) AS nfb,
          SUM(CASE WHEN ids IS NULL THEN 1 ELSE 0 END) AS nun
        FROM idsw GROUP BY 1),
      per_doc AS (SELECT h.doc_id,
          CAST(count(*) AS BIGINT) AS n_words,
          CAST(SUM(len(w.idl)) AS BIGINT) AS n_ids,
          CAST(SUM(w.nfb) AS BIGINT) AS n_fallback_ids,
          CAST(SUM(w.nun) AS BIGINT) AS n_unseen,
          array_to_string(flatten(list(
            list_transform(w.idl, x -> CAST(x AS VARCHAR)) ORDER BY h.pos)),
            ',') AS ids_str
        FROM hwp h JOIN wid w USING (word) GROUP BY 1)
      SELECT d.doc_id, COALESCE(p.n_words, 0) AS n_words,
        COALESCE(p.n_ids, 0) AS n_ids,
        COALESCE(p.n_fallback_ids, 0) AS n_fallback_ids,
        COALESCE(p.n_unseen, 0) AS n_unseen,
        COALESCE(p.ids_str, '') AS ids_str
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      WHERE d.doc_id % $HoldoutMod = 0
      ORDER BY d.doc_id"""),
    "Byte-fallback BPE encode of the holdout: 256 reserved byte ids + " +
      "frequency-ranked subword ids; out-of-vocab subwords decompose to " +
      "UTF-8 byte ids, so encoding is total (n_unseen computed, " +
      "provably 0) and the full id sequence is hash-checked")

  // ---------------------------------------------------- q_bpe_vocab
  // The tokenizer ARTIFACT (VERDICT r9 task 3): the learned merge table
  // in learning order plus the frequency-ranked subword vocabulary — the
  // two sections of the tokenizer.json every pipeline persists beside
  // its corpus. This puts the merge table itself under the hash oracle,
  // not only its application. One vocab-sized plan; nothing touches the
  // corpus beyond the shared learning pass.
  private val bpeVocab = QueryDef(
    "q_bpe_vocab",
    (s, d) => {
      import s.implicits._
      val (merges, dictTok) = learnBpe(s, d)
      val mergeRows = merges.zipWithIndex.map { case (m, i) =>
        ("merge", i + 1, m.a, m.b, m.a + m.b, m.cnt)
      }.toDF("kind", "rank", "a", "b", "token", "cnt")
      val vocabRows = dictTok
        .select(explode($"toks").as("tok"), $"freq")
        .groupBy($"tok").agg(sum($"freq").as("cnt"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"tok")))
        .filter($"rank" <= VocabSize)
        .select(lit("token").as("kind"), $"rank", lit("").as("a"),
          lit("").as("b"), $"tok".as("token"), $"cnt")
      mergeRows.unionByName(vocabRows).orderBy($"kind", $"rank")
    },
    Some(s"""WITH $learnCtes,
      $dictToksCte,
      vocab AS (SELECT tok, cnt,
          CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank
        FROM (SELECT tok, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
          SELECT freq, unnest(tk) AS tok FROM dtoks) GROUP BY 1)
        QUALIFY rank <= $VocabSize),
      m AS (${(0 until Merges).map(k =>
        s"SELECT ${k + 1} AS rank, a, b, cnt FROM b$k").mkString("\n        UNION ALL ")})
      SELECT kind, rank, a, b, token, CAST(cnt AS BIGINT) AS cnt FROM (
        SELECT 'merge' AS kind, CAST(rank AS INT) AS rank, a, b,
          a || b AS token, cnt FROM m
        UNION ALL
        SELECT 'token' AS kind, rank, '' AS a, '' AS b, tok AS token, cnt
        FROM vocab)
      ORDER BY kind, rank"""),
    "Tokenizer artifact export: ordered merge table + frequency-ranked " +
      "subword vocab (the tokenizer.json analog), hash-checked end to end")

  // ------------------------------------------------ q_vocab_coverage
  // Tokenizer evaluation: the vocab coverage curve — for each vocabulary
  // budget r, the exact fraction of corpus BPE-token OCCURRENCES the
  // top-r frequency-ranked subwords cover (the curve a tokenizer owner
  // reads before freezing a vocab size; Zipf makes it steep). Everything
  // computes on the learned dict (a vocab-sized local relation): ranking
  // is the q_bpe_vocab window, the thresholds attach as a pure
  // array-literal filter + explode (no theta-join, no BNLJ), and the
  // occurrence total rides along as an unpartitioned window over the
  // vocab-sized relation. Nothing touches the corpus beyond the shared
  // learning pass.
  private[graft] val CoverageThresholds =
    Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L)

  private val vocabCoverage = QueryDef(
    "q_vocab_coverage",
    (s, d) => {
      import s.implicits._
      val (_, dictTok) = learnBpe(s, d)
      val W = org.apache.spark.sql.expressions.Window
      val occ = dictTok
        .select(explode($"toks").as("tok"), $"freq")
        .groupBy($"tok").agg(sum($"freq").as("cnt"))
        .withColumn("rank", row_number().over(W.orderBy($"cnt".desc, $"tok")))
        .withColumn("total", sum($"cnt").over(W.partitionBy()))
      val th = array(CoverageThresholds.map(lit(_)): _*)
      occ
        .select($"cnt", $"total",
          explode(filter(th, r => r >= $"rank")).as("vocab_r"))
        .groupBy($"vocab_r")
        .agg(sum($"cnt").as("covered"), max($"total").as("total"))
        .select($"vocab_r", $"covered", $"total",
          round($"covered".cast("decimal(18,2)") / $"total", 6)
            .cast("decimal(38,6)").cast("double").as("coverage"))
        .orderBy($"vocab_r")
    },
    Some(s"""WITH $learnCtes,
      $dictToksCte,
      occ AS (SELECT tok, cnt,
          CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank,
          CAST(SUM(cnt) OVER () AS BIGINT) AS total
        FROM (SELECT tok, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
          SELECT freq, unnest(tk) AS tok FROM dtoks) GROUP BY 1)),
      ex AS (SELECT cnt, total,
          unnest(list_filter([${CoverageThresholds.mkString(", ")}],
            r -> r >= rank)) AS vocab_r
        FROM occ)
      SELECT CAST(vocab_r AS BIGINT) AS vocab_r,
        CAST(sum(cnt) AS BIGINT) AS covered,
        CAST(max(total) AS BIGINT) AS total,
        CAST(CAST(round(CAST(sum(cnt) AS DECIMAL(18,2)) / max(total), 6)
          AS DECIMAL(38,6)) AS DOUBLE) AS coverage
      FROM ex GROUP BY 1 ORDER BY vocab_r"""),
    "Tokenizer vocab coverage curve: exact fraction of corpus BPE-token " +
      "occurrences covered per vocabulary budget, vocab-sized plan")

  // ----------------------------------------------------- q_pack_bpe
  // Sequence packing over the TOKENIZER's counts (VERDICT r9 task 2):
  // the q_pack_sequences layout (512-token bins, running sum per
  // doc_id-mod-32 shard — per-shard packing is how per-worker packing
  // runs at 100 TB) re-pointed at q_text_bpe's n_bpe_tokens, so the
  // packing tier packs exactly what the tokenizer tier produces — the
  // composition a training pipeline actually runs before sharding.
  private val packBpe = QueryDef(
    "q_pack_bpe",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"doc_id")
      bpeDocCounts(s, d)
        .select($"doc_id", $"n_bpe_tokens".as("n_tokens"),
          ($"doc_id" % 32).as("shard"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .withColumn("bin",
          floor(($"cum" - $"n_tokens") / lit(512.0)).cast("long"))
        .groupBy($"shard", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("sum_bpe_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"shard", $"bin")
    },
    Some(s"""WITH $learnCtes,
      toks AS (SELECT word,
        CAST(len(string_split(trim(t, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_tok
        FROM d$Merges),
      per_doc AS (
        SELECT w.doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM words w JOIN toks USING (word) GROUP BY 1),
      t AS (SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
          d.doc_id % 32 AS shard
        FROM documents d LEFT JOIN per_doc p USING (doc_id)),
      c AS (SELECT doc_id, n_tokens, shard,
        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
        count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_bpe_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1, 2 ORDER BY shard, bin"""),
    "Context-window packing of BPE token counts (512-token bins over 32 " +
      "parallel shards) — the tokenize-then-pack composition")

  // --------------------------------------------- q_tokenizer_fertility
  // The published tokenizer-evaluation statistic pair (SentencePiece /
  // multilingual-tokenizer papers): FERTILITY = subword tokens per
  // whitespace word, and BYTES-PER-TOKEN = UTF-8 compression, per
  // language — the numbers a pipeline owner reads before committing a
  // tokenizer to a multilingual corpus (a high-fertility language pays
  // proportionally more sequence length for the same text). Exact
  // decimal ratios over integer sums; the corpus side is a word explode
  // + ONE broadcast join against the learned dict (word → n_tok) + a
  // language-cardinality aggregation. Nothing corpus-sized shuffles
  // except the lang-keyed partial-aggregated word stream.
  private val tokenizerFertility = QueryDef(
    "q_tokenizer_fertility",
    (s, d) => {
      import s.implicits._
      val (_, dictTok) = learnBpe(s, d)
      val words = Tables.documents(s, d)
        .select($"lang", explode(split(lower($"text"), " +")).as("w0"))
        .select($"lang", replace($"w0", lit(D), lit("")).as("word"))
        .filter(length($"word") > 0)
      words
        .join(broadcast(dictTok.select($"word", $"n_tok")), "word")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_tok").cast("long").as("n_tokens"),
          sum(octet_length($"word").cast("long")).cast("long")
            .as("n_bytes"))
        .select($"lang", $"n_words", $"n_tokens", $"n_bytes",
          round($"n_tokens".cast("decimal(18,2)") / $"n_words", 6)
            .cast("decimal(38,6)").cast("double").as("fertility"),
          round($"n_bytes".cast("decimal(18,2)") / $"n_tokens", 6)
            .cast("decimal(38,6)").cast("double").as("bytes_per_token"))
        .orderBy($"lang")
    },
    Some(s"""WITH $learnCtes,
      dtoks AS MATERIALIZED (SELECT word, freq,
        CAST(len(string_split(trim(t, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_tok
        FROM d$Merges),
      wl AS (SELECT lang, replace(w0, chr(1), '') AS word FROM (
          SELECT lang, unnest(regexp_split_to_array(lower(text), ' +')) AS w0
          FROM documents)
        WHERE len(replace(w0, chr(1), '')) > 0),
      a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
          CAST(sum(strlen(w.word)) AS BIGINT) AS n_bytes
        FROM wl w JOIN dtoks t USING (word) GROUP BY lang)
      SELECT lang, n_words, n_tokens, n_bytes,
        CAST(CAST(round(CAST(n_tokens AS DECIMAL(18,2)) / n_words, 6) AS DECIMAL(38,6)) AS DOUBLE) AS fertility,
        CAST(CAST(round(CAST(n_bytes AS DECIMAL(18,2)) / n_tokens, 6) AS DECIMAL(38,6)) AS DOUBLE) AS bytes_per_token
      FROM a ORDER BY lang"""),
    "Tokenizer fertility + bytes-per-token by language over the learned " +
      "BPE dict — word explode, one broadcast dict join, lang-keyed agg")

  override def defs: Seq[QueryDef] =
    Seq(textBpe, textBpeIds, bpeVocab, vocabCoverage, packBpe, bpeEncode,
      bpeBytes, tokenizerFertility)
}
