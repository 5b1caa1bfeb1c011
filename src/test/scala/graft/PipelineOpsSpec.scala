package graft

import org.apache.spark.sql.functions._

/** Training-data pipeline tier: text analysis, dedup, similarity search,
  * multimodal, streaming. Non-oracle queries are verified here against
  * independent recomputation (brute force / batch equivalents). */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ----------------------------------------------------------- text
  test("q_text_tokens: count invariants hold") {
    val bad = q("q_text_tokens").filter(
      $"n_distinct" > $"n_ws_tokens" || $"n_bpe_tokens" < $"n_ws_tokens")
    assert(bad.count() === 0)
  }

  test("q_text_quality: ratios within [0,1], score = ttr - stopword floor 0") {
    val bad = q("q_text_quality").filter(
      $"type_token_ratio" < 0 || $"type_token_ratio" > 1 ||
      $"stopword_ratio" < 0 || $"stopword_ratio" > 1)
    assert(bad.count() === 0)
  }

  test("q_text_langid: argmax with db > stream > misc priority") {
    q("q_text_langid").collect().foreach { r =>
      val (db, st, mi) = (r.getAs[Long]("s_db"), r.getAs[Long]("s_stream"), r.getAs[Long]("s_misc"))
      val expected =
        if (db >= st && db >= mi) "db" else if (st >= mi) "stream" else "misc"
      assert(r.getAs[String]("pred") === expected)
    }
  }

  test("q_text_fingerprint: identical token sets share fingerprints") {
    val df = q("q_text_fingerprint")
    // group_size is consistent with actual fingerprint multiplicity
    val bad = df.groupBy($"fingerprint")
      .agg(count("*").as("n"), max($"group_size").as("gs"), min($"group_size").as("gs2"))
      .filter($"n" =!= $"gs" || $"n" =!= $"gs2")
    assert(bad.count() === 0)
  }

  // ---------------------------------------------------------- dedup
  private lazy val exactPairs: Set[(Long, Long)] =
    q("q_dedup_ngram_jaccard").select($"doc1", $"doc2")
      .as[(Long, Long)].collect().toSet

  test("q_dedup_exact: copies partition the corpus") {
    assert(q("q_dedup_exact").agg(sum($"n_copies")).as[Long].head() ===
      Tables.documents(spark, sf).count())
  }

  test("q_dedup_ngram_jaccard finds the planted near-dup pairs (28 at sf0.001)") {
    assert(exactPairs.size === 28)
    val jac = q("q_dedup_ngram_jaccard")
      .select($"jaccard".cast("double")).as[Double].collect()
    assert(jac.forall(j => j >= 0.5 && j <= 1.0))
    assert(jac.count(_ >= 0.9) >= 25, "planted near-dups cluster at >= 0.9")
  }

  test("prefix, direct, and the shared declared pair set are identical") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc1", $"doc2", $"jaccard".cast("string"))
      .as[(Long, Long, String)].collect().toSet
    val pf = pairSet(operators.DedupOps
      .ngramJaccardPairs(spark, sf, prefixFilter = true))
    val direct = pairSet(operators.DedupOps
      .ngramJaccardPairs(spark, sf, prefixFilter = false))
    // the declared query reads the shared localCheckpoint materialization
    val declared = pairSet(q("q_dedup_ngram_jaccard"))
    assert(pf === direct)
    assert(declared === direct)
  }

  test("q_dedup_minhash: sound (subset of exact pairs) with high recall") {
    val mh = q("q_dedup_minhash").select($"doc1", $"doc2")
      .as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(exactPairs), "LSH must never invent pairs after verification")
    assert(mh.size >= (exactPairs.size * 0.8).toInt,
      s"recall too low: ${mh.size}/${exactPairs.size}")
  }

  test("q_dedup_simhash: hamming bound holds and catches the planted pairs") {
    val sh = q("q_dedup_simhash")
    assert(sh.filter($"hamming" > 8).count() === 0)
    val pairs = sh.select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val recall = exactPairs.count(pairs.contains).toDouble / exactPairs.size
    assert(recall >= 0.8,
      s"most high-Jaccard pairs must land in a shared simhash band: $recall")
  }

  // ------------------------------------------------------ similarity
  test("q_simsearch_cosine matches local decimal-dot brute force") {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def dot(a: Seq[Float], b: Seq[Float]): BigDecimal =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(y.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = q("q_simsearch_cosine")
      .select($"qid", $"rank", $"cid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 10L).foreach { qid =>
      val expect = emb.keys.filter(_ != qid).toSeq
        .map(c => (dot(emb(qid), emb(c)), c))
        .sortBy { case (s, c) => (-s, c) }.take(5).map(_._2)
      assert(got(qid) === expect, s"query $qid top-5 mismatch")
    }
  }

  test("q_simsearch_filtered equals brute force restricted to the " +
      "predicate's candidates (pre-filter, no recall loss)") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    val keep = Tables.documents(spark, sf)
      .filter($"lang" === SimilarityOps.FilterLang)
      .select($"doc_id").as[Long].collect().toSet
    assert(keep.nonEmpty && keep.size < emb.size,
      "fixture must make the predicate selective but non-empty")
    def dot(a: Seq[Float], b: Seq[Float]): BigDecimal =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(y.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = q("q_simsearch_filtered")
      .select($"qid", $"rank", $"cid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 10L).foreach { qid =>
      val expect = keep.filter(_ != qid).toSeq
        .map(c => (dot(emb(qid), emb(c)), c))
        .sortBy { case (s, c) => (-s, c) }.take(5).map(_._2)
      assert(got.getOrElse(qid, Seq.empty) === expect,
        s"query $qid filtered top-5 mismatch")
      got.getOrElse(qid, Seq.empty).foreach(c =>
        assert(keep(c), s"candidate $c violates the predicate"))
    }
  }

  test("q_simsearch_ann_srp: at most K rows per query, all queries present") {
    val df = q("q_simsearch_ann_srp")
    val perQ = df.groupBy($"qid").count().as[(Long, Long)].collect().toMap
    assert(perQ.keySet === (0L until 10L).toSet)
    assert(perQ.values.forall(_ <= 5))
    // soundness: reported neighbors share the query's bucket signature
    val bad = df.filter($"cid".isNotNull)
      .join(q("q_simsearch_ann_srp").select($"qid".as("q2"), $"qsig".as("s2")).distinct(),
        $"qid" === $"q2")
      .filter($"qsig" =!= $"s2")
    assert(bad.count() === 0)
  }

  test("q_simsearch_ivf: sound candidates, correctly ranked, recall vs brute force") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val sample = SimilarityOps.ivfTrainingSample(spark, sf)
    assert(sample.length <= SimilarityOps.IvfSampleCap,
      "training sample must stay bounded (driver-side collect)")
    val k = math.min(SimilarityOps.ivfK(emb.length.toLong), sample.length)
    val cents = SimilarityOps.kmeansFit(sample, k, 5)
    val assign = emb.map { case (id, v) =>
      id -> SimilarityOps.nearestCentroid(cents, v.map(_.toDouble).toArray) }.toMap
    val probes = emb.filter(_._1 < 10).map { case (id, v) =>
      id -> SimilarityOps.probeLists(cents, v.map(_.toDouble).toArray, 2).toSet }.toMap
    val rows = q("q_simsearch_ivf")
      .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, cid, _) =>
      assert(probes(qid).contains(assign(cid)),
        s"candidate $cid not in query $qid's probed lists")
    }
    // ranks are 1..n without gaps per query
    rows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("q_simsearch_ivfpq: ADC distances replay exactly, candidates sound") {
    import graft.operators.SimilarityOps
    import SimilarityOps.{IvfPqM, IvfPqK}
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val sample = SimilarityOps.ivfTrainingSample(spark, sf)
    val k = math.min(SimilarityOps.ivfK(emb.length.toLong), sample.length)
    val cents = SimilarityOps.kmeansFit(sample, k, 5)
    val dsub = sample.head.length / IvfPqM
    val books = SimilarityOps.pqBooks(sample, cents, dsub)
    // local replay of the DISTRIBUTED encode, float-for-float: residual
    // is float subtraction of the float-cast centroid, sub-assign runs
    // the kernel's double accumulation over those floats
    val centsF = cents.map(_.map(_.toFloat))
    def encode(v: Seq[Float]): (Int, Array[Int]) = {
      val list = SimilarityOps.nearestCentroid(cents, v.map(_.toDouble).toArray)
      val resid = Array.tabulate(v.length)(i => v(i) - centsF(list)(i))
      val codes = Array.tabulate(IvfPqM) { m =>
        SimilarityOps.nearestCentroid(books(m),
          resid.slice(m * dsub, (m + 1) * dsub).map(_.toDouble))
      }
      (list, codes)
    }
    val enc = emb.map { case (id, v) => id -> encode(v) }.toMap
    val probes = emb.filter(_._1 < 10).map { case (id, v) =>
      id -> SimilarityOps.probeLists(cents, v.map(_.toDouble).toArray, 2) }.toMap
    // local LUTs in the query fn's exact arithmetic and summation order
    def lut(q: Array[Double], list: Int): Array[Double] =
      Array.tabulate(IvfPqM * IvfPqK) { x =>
        val m = x / IvfPqK; val j = x % IvfPqK
        var dd = 0.0; var i = 0
        while (i < dsub) {
          val t = (q(m * dsub + i) - cents(list)(m * dsub + i)) - books(m)(j)(i)
          dd += t * t; i += 1
        }
        dd
      }
    val luts = probes.map { case (qid, ls) =>
      val q = emb.find(_._1 == qid).get._2.map(_.toDouble).toArray
      qid -> ls.map(l => l -> lut(q, l)).toMap
    }
    val rows = q("q_simsearch_ivfpq")
      .select($"qid", $"cid", $"adist", $"rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, cid, adist, _) =>
      val (list, codes) = enc(cid)
      assert(probes(qid).contains(list),
        s"candidate $cid not in query $qid's probed lists")
      val t = luts(qid)(list)
      val want = (0 until IvfPqM)
        .map(m => t(m * IvfPqK + codes(m))).reduce(_ + _)
      assert(adist === want, s"ADC distance for ($qid,$cid)")
    }
    // ranks contiguous per query; ADC distances non-decreasing in rank
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to rs.length).toSeq)
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted.toSeq)
    }
  }

  test("q_dedup_embedding: banded LSH near-dup set equals brute force on planted corpus") {
    import graft.operators.SimilarityOps
    // plant 30 near-duplicates: tiny deterministic perturbations of the
    // first 30 fixture vectors (cos ≈ 0.999), ids offset by 100000
    val base = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val planted = base.filter(_._1 < 30).map { case (id, v) =>
      val rnd = new scala.util.Random(9000L + id)
      val noisy = v.map(x => x + 0.005 * rnd.nextGaussian())
      val norm = math.sqrt(noisy.map(x => x * x).sum)
      (id + 100000L, noisy.map(x => (x / norm).toFloat))
    }
    val corpus = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val got = SimilarityOps.embeddingNearDupPairs(corpus)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // brute force: exact all-pairs cosine at the same threshold
    val local = (base ++ planted).map { case (id, v) => id -> v.map(_.toDouble) }
    val exact = (for {
      (ia, va) <- local; (ib, vb) <- local if ia < ib
      cos = va.zip(vb).map { case (x, y) => x * y }.sum
      if (math.rint(cos * 1e6) / 1e6) >= SimilarityOps.NearDupCos
    } yield (ia, ib)).toSet
    assert(exact.size === 30, "planted pairs are the only near-dups")
    assert(got === exact, "OR-ed banded candidates + exact verify = brute force")
    // and the declared audit reports exactly this count per band row
    val audit = q("q_dedup_embedding")
    assert(audit.count() === SimilarityOps.DedupBands.toLong)
    assert(audit.select(max($"n_neardups")).as[Long].head() ===
      SimilarityOps.embeddingNearDupPairs(
        Tables.embeddings(spark, sf).select($"vec_id", $"embedding")).count())
  }

  // ------------------------------------------------------ multimodal
  test("q_multimodal_features: stub decode matches local recomputation") {
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    q("q_multimodal_features").limit(20).collect().foreach { r =>
      val bytes = texts(r.getAs[Long]("media_id")).getBytes("UTF-8")
      assert(r.getAs[Long]("n_bytes") === bytes.length.toLong)
      val mean = bytes.map(_ & 0xff).map(_.toLong).sum.toDouble / bytes.length
      assert(math.abs(r.getAs[Double]("mean_byte") - mean) < 1e-4)
      assert(r.getAs[Long]("hist_q1") === bytes.count(b => (b & 0xff) >> 6 == 0))
      assert(r.getAs[Long]("hist_q2") === bytes.count(b => (b & 0xff) >> 6 == 1))
    }
  }

  // ------------------------------------------------------- streaming
  test("q_stream_session equals batch q_sessionize (end shifted by gap)") {
    val stream = q("q_stream_session")
      .select($"user_id", $"start_us", $"end_us", $"n_events",
        $"sum_value".cast("string"))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    val batch = q("q_sessionize")
      .select($"user_id", $"start_us", $"end_us", $"n_events",
        $"sum_value".cast("string"))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(stream.length === batch.length)
    stream.zip(batch).foreach { case (s, b) =>
      assert(s._1 === b._1 && s._2 === b._2 && s._4 === b._4 && s._5 === b._5)
      assert(s._3 === b._3 + 1800L * 1000000L,
        "session_window end = last event + gap")
    }
  }

  test("q_text_repetition ratios match a local recomputation") {
    val rows = q("q_text_repetition").collect()
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect().toMap
    assert(rows.length === texts.count(_._2.split(" +").length >= 3))
    rows.foreach { r =>
      val w = texts(r.getAs[Long]("doc_id")).split(" +").toSeq
      def ratio(n: Int): Double = {
        val grams = w.sliding(n).map(_.mkString(" ")).toSeq
        ((BigDecimal(grams.size - grams.distinct.size) /
          BigDecimal(grams.size)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .toDouble
      }
      assert(r.getAs[Long]("n_tokens") === w.size.toLong)
      assert(r.getAs[Double]("dup_bigram_ratio") === ratio(2))
      assert(r.getAs[Double]("dup_trigram_ratio") === ratio(3))
      assert(r.getAs[Boolean]("repetitive") === (ratio(3) > 0.5))
    }
  }

  test("q_text_gopher rule signals and keep flag match a local recomputation") {
    val rows = q("q_text_gopher").collect()
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(rows.length === texts.size)
    def dec(n: BigDecimal): BigDecimal =
      n.setScale(6, BigDecimal.RoundingMode.HALF_UP)
    rows.foreach { r =>
      val raw = texts(r.getAs[Long]("doc_id"))
      val w = raw.toLowerCase.split(" +").toSeq
      val nW = w.size
      val meanLen = dec(BigDecimal(raw.count(_ != ' ')) / nW)
      val fracAlpha =
        dec(BigDecimal(w.count(_.exists(c => c >= 'a' && c <= 'z'))) / nW)
      val nSym = raw.count(_ == '#') +
        "\\.\\.\\.".r.findAllMatchIn(raw).length
      val symRatio = dec(BigDecimal(nSym) / nW)
      val nReq = Seq("the", "a", "of", "to").count(w.contains)
      assert(r.getAs[Long]("n_words") === nW.toLong)
      assert(r.getAs[Double]("mean_word_len") === meanLen.toDouble)
      assert(r.getAs[Double]("frac_alpha") === fracAlpha.toDouble)
      assert(r.getAs[Double]("symbol_ratio") === symRatio.toDouble)
      assert(r.getAs[Long]("n_required") === nReq.toLong)
      assert(r.getAs[Boolean]("keep") ===
        (nW >= 50 && nW <= 100000 &&
          meanLen >= 3 && meanLen <= 10 &&
          fracAlpha >= BigDecimal("0.8") &&
          symRatio <= BigDecimal("0.1") && nReq >= 2))
    }
    // the fixture corpus must actually exercise BOTH outcomes
    val keeps = rows.map(_.getAs[Boolean]("keep")).toSet
    assert(keeps === Set(true, false), "rule set degenerate on fixture")
  }

  test("q_text_boilerplate: counts bounded, common set cross-checked") {
    val rows = q("q_text_boilerplate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_shingles")
      val c = r.getAs[Long]("n_common")
      assert(c >= 0 && c <= n)
      val ratio = r.getAs[Double]("boilerplate_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // recompute the common-shingle set locally and verify one document
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val shOf = texts.map { case (id, t) =>
      id -> t.split(" +").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val df = shOf.values.flatten.groupBy(identity).view.mapValues(_.size)
    val common = df.filter(_._2 >= 20).keySet
    rows.foreach { r =>
      val sh = shOf(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_shingles") === sh.size.toLong)
      assert(r.getAs[Long]("n_common") === sh.count(common).toLong)
    }
  }

  test("q_sample_split partitions every document exactly once") {
    val rows = q("q_sample_split").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total === Tables.documents(spark, sf).count())
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    val expect = docs.groupBy { case (id, lang) =>
      (lang, if (id % 10 < 8) "train" else if (id % 10 == 8) "val" else "test")
    }.view.mapValues(vs => (vs.length.toLong, vs.count(_._1 % 7 == 0).toLong))
    rows.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("split"))
      val (n, ns) = expect(k)
      assert(r.getAs[Long]("n_docs") === n && r.getAs[Long]("n_sampled") === ns)
    }
  }

  test("q_embed_quantize codes match a local recomputation and int8 range") {
    val rows = q("q_embed_quantize").collect()
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(rows.length === emb.size)
    rows.foreach { r =>
      val v = emb(r.getAs[Long]("vec_id")).map(_.toDouble)
      val maxabs = v.map(math.abs).max
      val qv =
        if (maxabs == 0.0) v.map(_ => 0L)
        else v.map(x => BigDecimal(x * 127.0 / maxabs)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      assert(r.getAs[Long]("sum_q") === qv.sum)
      assert(r.getAs[Long]("max_q") === qv.max && qv.max <= 127L)
      assert(r.getAs[Long]("min_q") === qv.min && qv.min >= -127L)
      assert(r.getAs[Long]("n_zero") === qv.count(_ == 0L).toLong)
    }
  }

  test("q_stream_foreachbatch flowed through multiple micro-batches") {
    val rows = q("q_stream_foreachbatch").collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum ===
      Tables.events(spark, sf).count())
    // the landing dir keeps each micro-batch's id — at least two batches
    // (events file + sentinel file at maxFilesPerTrigger=1)
    val landing = Fs.artifactDir("sink_foreachbatch", sf).toString
    val batchIds = spark.read.parquet(landing)
      .select($"batch_id").distinct().count()
    assert(batchIds >= 2, s"expected >= 2 micro-batches, got $batchIds")
  }

  test("q_custom_decimal_avg equals built-in decimal formula") {
    val expect = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_extendedprice".cast("decimal(18,2)")) / count("*"), 6)
        .cast("decimal(38,6)").as("e"))
      .select($"l_returnflag", $"e".cast("string"))
      .as[(String, String)].collect().toMap
    q("q_custom_decimal_avg")
      .select($"l_returnflag", $"avg_price".cast("string"))
      .as[(String, String)].collect()
      .foreach { case (k, v) => assert(BigDecimal(v) === BigDecimal(expect(k))) }
  }

  test("q_dedup_bloom on a planted corpus: exact dup flags, no false " +
      "negatives, probe agrees with the filter, fp rate sane") {
    import graft.operators.DedupOps
    // 90 base docs + 10 delta docs; delta docs 0,20,40 duplicate base
    // content modulo whitespace (the normalization must catch them),
    // the rest are unique
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bloom").toString
    def text(i: Long) = s"planted document number $i with unique tail ${i * 7}"
    val rows = (0L until 100L).map { i =>
      val t =
        if (i % 10 == 0 && i % 20 == 0 && i < 60)
          text(i + 1).replace(" ", "  ") // dup of base doc i+1, extra spaces
        else text(i)
      (i, t, "srcA", "en", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_bloom")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.length === 10)
    val expectDups = Set(0L, 20L, 40L)
    out.foreach { case (id, hit, dup) =>
      assert((dup == 1L) === expectDups(id), s"doc $id dup flag")
      if (dup == 1L) assert(hit == 1L, s"doc $id: false negative")
    }
    // probe column agrees with the driver-side filter itself
    val bloom = DedupOps.baseBloom(spark, dir)
    val norm = Tables.documents(spark, dir)
      .where($"doc_id" % 10 === 0)
      .select($"doc_id",
        xxhash64(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, hit, _) =>
      assert((hit == 1L) === bloom.mightContainLong(norm(id)),
        s"doc $id probe mismatch")
    }
    // non-dup false positives bounded (7 uniques, fpp 1% — anything
    // past 2 means the filter is miswired, not unlucky)
    assert(out.count(r => r._2 == 1L && r._3 == 0L) <= 2)
  }
}
