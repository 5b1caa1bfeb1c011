package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Cluster-scale techniques that need explicit verification: bucketed
  * co-located joins (shuffle elimination) and watermark late-data
  * semantics. */
class ScaleTechniquesSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // dirs persist — clear both or CTAS fails with LOCATION_ALREADY_EXISTS
    for (t <- Seq("orders_bucketed", "customer_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bucketed")
    Tables.customer(spark, sf).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_bucketed")
        .join(spark.table("customer_bucketed"),
          $"o_custkey" === $"c_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed co-located join must not shuffle either side:\n" + plan)
      // and it is still correct
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey").count()
      assert(j.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("direct ngram pair strategy: only the kernel's pinned-build df join (broadcast-abort guard)") {
    // Regression guard for a failure a 10×-replicated sf0.1 run caught: the
    // planner broadcast the Σ df² pair stream into a counts join because
    // static stats through Generate → aggregate are misestimates. The fix
    // carries (doc_id, n_sh) through the inverted index so the STRATEGY
    // adds no join; the round-9 pair kernel introduces exactly one
    // hinted ShuffledHashJoin (posting ⋈ per-key df counts, counts as
    // the BuildRight side) — nothing misestimable can become a build
    // side, and nothing is ever broadcast. (Since the round-8 default
    // flip the DECLARED query is the prefix strategy — guarded by the
    // next test — so the direct formulation is exercised here
    // explicitly; it remains a first-class strategy, and AuditOps
    // calls it directly.)
    val df = operators.DedupOps.ngramJaccardPairs(spark, sf, prefixFilter = false)
    df.collect() // finalize AQE so codegen stage ids materialize
    val plan = df.queryExecution.executedPlan.toString
    val joinKinds =
      "(SortMergeJoin|BroadcastHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
    assert(joinKinds.findFirstIn(plan).isEmpty,
      "direct ngram strategy allows only the kernel's ShuffledHashJoin:\n" + plan)
    assert(plan.linesIterator.filter(_.contains("ShuffledHashJoin"))
        .forall(_.contains("BuildRight")),
      "the df-counts side must be the kernel join's build side:\n" + plan)
    assert(!plan.contains("BroadcastExchange"),
      "direct ngram strategy must broadcast nothing:\n" + plan)
    // r6 task 3: the pair generator implements doGenCode, so Generate and
    // the partial pair-count aggregate above it must fuse into ONE
    // whole-stage codegen span (a CodegenFallback generator would break
    // the span and put an iterator boundary under the hottest operator)
    assert("""\*\(\d+\) Generate (ordered_pairs|block_pairs)""".r.findFirstIn(plan).isDefined,
      "pair Generate must be inside whole-stage codegen:\n" + plan)
  }

  test("prefix-filter ngram strategy: candidates generated, not self-joined") {
    // The ppjoin-style scale path shares the blocked pair stream with
    // the direct strategy: candidate generation must plan as a grouped
    // Generate, never a posting self-join. The ONLY joins allowed in the
    // whole plan are the two exact-verify joins that fetch the shingle
    // arrays for surviving candidate pairs.
    val plan = operators.DedupOps
      .ngramJaccardPairs(spark, sf, prefixFilter = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("block_pairs"),
      "prefix strategy must stream candidates from the blocked pair kernel:\n" + plan)
    val nJoins =
      "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
        .findAllIn(plan).length
    assert(nJoins <= 3,
      "prefix strategy must join only for exact-verify (2) plus the " +
        s"kernel's df back-join (1), found $nJoins:\n" + plan)
    // Round-9 build-side guard (VERDICT r8 task 1): the Generate-derived
    // candidate stream misestimates tiny, and an unhinted planner once
    // picked IT as the broadcast build side — a 31M-pair broadcast probed
    // by the doc table in one task at 10×. Round 8's fix (broadcast the
    // docs side) traded that for an 8 GiB broadcast cliff on the full
    // docs-with-shingles relation at real corpus scale. The current form
    // SHUFFLE_HASH-hints the docs side: both verify joins must plan as
    // ShuffledHashJoin with the DOC side (the join's right/hinted input)
    // as the build side — the pair stream never builds and nothing
    // corpus-sized is ever broadcast.
    // AdaptiveSparkPlanExec and QueryStageExec are traversal leaves, so
    // node-walking can't see inside stages; run the query and inspect the
    // FINAL plan's text instead (stages nest in toString).
    val df2 = operators.DedupOps.ngramJaccardPairs(spark, sf, prefixFilter = true)
    df2.collect()
    val finalPlan = df2.queryExecution.executedPlan.toString
    // (the AQE plan's toString repeats each node in its == Initial Plan ==
    // section, so assert on the join KINDS present, not a line count)
    val shjLines = finalPlan.linesIterator
      .filter(_.contains("ShuffledHashJoin")).toSeq
    assert(shjLines.nonEmpty &&
        !finalPlan.contains("SortMergeJoin") &&
        !finalPlan.contains("BroadcastHashJoin"),
      "both verify joins must be ShuffledHashJoin:\n" + finalPlan)
    assert(shjLines.forall(_.contains("BuildRight")),
      "the docs (hinted, right) side must be the SHJ build side — the " +
        "pair stream never builds:\n" + finalPlan)
    assert(!finalPlan.contains("BroadcastExchange"),
      "nothing corpus-sized may be broadcast in the verify stage:\n" + finalPlan)
  }

  test("a hot shingle's pair emission spans multiple tasks with a bounded buffer (blocked kernel)") {
    // VERDICT r6 task 2 + r8 task 2: in the pre-blocked kernel, one
    // grouped posting list was one generator call in ONE task; in the
    // round-8 kernel the emission was blocked but the per-key
    // collect_list still buffered the FULL df-element posting list (a
    // documented, unenforced ceiling). Plant a df≈10⁵ stop-word shingle
    // (cap = 1 024 → 98 blocks → 4 851 bucket rows) and prove (a) the
    // bucket rows of the ONE key land on more than one task after the
    // forced repartition, (b) no collected bucket exceeds ~2·cap
    // postings — groups are xxhash64-assigned, so the per-side size is
    // cap in EXPECTATION with √cap-scale concentration (≈cap·(1+4/√cap)
    // covers the max of ~100 groups); the 3·cap assertion bound is the
    // structural claim that buffers scale with CAP, never with df —
    // (c) the emitted pair multiset is exactly the single-list
    // ordered_pairs result.
    val df = 100000
    val cap = 1024
    val posting = spark.range(df)
      .select(lit("the quick brown").as("shingle"),
        struct($"id".as("doc_id"), lit(100L).as("n")).as("dn"))
    val buckets = operators.PairStreams
      .bucketRows(posting, Seq($"shingle"), $"dn", cap)
      .cache()
    val parts = buckets
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .distinct().collect().map(_.getInt(0))
    val nBlocks = (df + cap - 1) / cap
    assert(buckets.count() === nBlocks.toLong * (nBlocks + 1) / 2,
      "one bucket row per block pair")
    assert(parts.length > 1,
      s"hot-shingle buckets must spread over >1 task, got partitions ${parts.toSeq}")
    val maxBucket = buckets
      .select(max(size($"l_id") + size($"r_id"))).head().getInt(0)
    assert(maxBucket <= 3 * cap,
      s"df=$df shingle must never buffer more than ~2·cap (3·cap " +
        s"asserted) postings in one aggregation group, got $maxBucket")
    buckets.unpersist(false)
    // pair-contract equivalence on a size where the direct product is
    // checkable: every i<j pair exactly once
    val pairs = operators.PairStreams
      .blockedPairs(posting.filter($"dn.doc_id" < 300),
        Seq($"shingle"), $"dn", Seq("id1", "n1", "id2", "n2"), 64)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    assert(pairs.length === 300 * 299 / 2)
    assert(pairs.toSet ===
      (for (i <- 0L until 300L; j <- i + 1 until 300L) yield (i, j)).toSet)
  }

  test("curation plans keep their scale shapes (broadcast/shuffle guards)") {
    // q_decontaminate: the test-gram index must be the BROADCAST side and
    // the corpus gram stream must reach the join WITHOUT a shuffle — the
    // whole point of the op is that the corpus never exchanges pre-join
    val dec = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dec.contains("BroadcastHashJoin"),
      "decontamination must broadcast the test-gram index:\n" + dec)
    val corpusSide = dec.split("BroadcastHashJoin")(1)
      .split("BroadcastExchange")(0)
    assert(!corpusSide.contains("Exchange"),
      "corpus gram stream must not shuffle before the join:\n" + dec)

    // q_pack_sequences: the (shard, bin) aggregate must reuse the shard
    // partitioning — exactly ONE hash exchange in the whole plan (the
    // presentation ORDER BY adds a range exchange, which is fine)
    val pack = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    val nHash = "Exchange hashpartitioning".r.findAllIn(pack).length
    assert(nHash === 1,
      s"packing must shuffle once on shard, found $nHash hash exchanges:\n" + pack)

    // q_merge_upsert: the recency top-1 must push a partial
    // WindowGroupLimit below the key exchange (map-side best-row-per-key)
    val merge = SparkEntry.queries("q_merge_upsert")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(merge.contains("WindowGroupLimit"),
      "merge must plan rank-limit pushdown, not a full window:\n" + merge)

    // q_redact_scrub: a pure map — no joins, no hash exchange
    val scrub = SparkEntry.queries("q_redact_scrub")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!scrub.contains("Join") &&
      !scrub.contains("Exchange hashpartitioning"),
      "scrub must stay a zero-shuffle map:\n" + scrub)
  }

  test("plan sweep: no CartesianProduct anywhere; BNLJ only where deliberate; " +
      "pushable literal predicates reach the parquet scan") {
    // The round-1 manual plan audit, made permanent: an accidental
    // nested-loop or cartesian plan is the classic 100 TB killer (O(n·m)
    // row comparisons). The whitelist is the set of DELIBERATE tiny-side
    // broadcasts that audit documented. The same pass audits every file
    // scan (VERDICT r4 task 5): a scan whose data filters include a
    // pushable attribute-vs-literal predicate must report PushedFilters —
    // an unpushed filter means the scan decodes rows the predicate could
    // have skipped at the reader.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val bnljOk: Set[String] = Set(
      "q_join_cross", // |nation| × |region| — an intentional cross join
      "q_join_range_asof", // declarative as-of: broadcast sorted date spine
      // (the custom-exec q_join_asof_exec is the hash-partitioned scale path)
      "q_simsearch_cosine", // NQ query vectors broadcast against the corpus
      "q_simsearch_filtered", // same NQ-row query broadcast, pre-filtered corpus
      // 1-row corpus-total broadcast crossJoins (share/idf denominators)
      "q_search_term", "q_search_hybrid_rrf", "q_profile_drift",
      // 1-row doc-count MANIFEST attach (the post-forget search's N —
      // same idf-denominator class as q_search_term)
      "q_search_index_forget",
      // 1-row global-merge-target attach (event 3's gen value)
      "q_stream_pipeline_asof",
      "q_shard_asof",
      "q_profile_skew", // 1-row stat attach to the bounded top-N head
      "q_dedup_embedding", // 1-row near-dup total attached to the 8-row audit
      // audit companions: bounded-window all-pairs / 1-row flag attachments
      "q_dedup_embedding_audit", // 200-vector audit window, constant work
      "q_simsearch_ann_srp_audit", // 1-row recall flag crossJoin
      "q_simsearch_ann_rad_audit", // 1-row measured-recall attach crossJoins
      "q_simsearch_ivf_audit", // 1-row recall flag crossJoin
      "q_simsearch_ivfpq_audit", // 1-row recall flag crossJoin
      "q_text_unigram_audit", // 1-row scalar/flag attach crossJoin
      "q_text_unigram_ids_audit", // 1-row scalar/flag attach crossJoin
      "q_unigram_encode_audit", // 1-row scalar/flag attach crossJoin
      "q_unigram_vocab_audit", // 1-row artifact-flag attach crossJoin
      "q_text_heavy_hitters_audit", // 1-row stats/flag attachments
      "q_agg_sketch_rollup_audit", // 1-row exact-total attach
      "q_dedup_media_audit", // 1-row count/flag attach crossJoins (×5)
      // probe hashes broadcast against the index (exact re-score ground
      // truth) + 1-row count attaches — audit-only, probe-bounded
      "q_simsearch_media_audit",
      "q_dedup_audio_audit", // 1-row count/flag attach crossJoins (×5)
      // 1-row count/flag attach crossJoins (×6) — the scalars were
      // previously sequential driver count() jobs; same class as
      // q_dedup_media_audit
      "q_stream_pipeline_neardup_audit",
      // probe fingerprints broadcast against the index (exact re-score
      // ground truth) + 1-row count attaches — audit-only, probe-bounded
      "q_simsearch_audio_audit",
      // K-row centroid broadcast against the corpus (the MLlib k-means
      // assignment shape — kilobytes at any corpus size); PQ's codebook
      // is M×K rows, same class
      "q_cluster_kmeans", "q_cluster_semdedup", "q_embed_pq",
      "q_cluster_pca_kmeans", "q_cluster_pca_kmeans_audit"
    )
    // conservatively "pushable": plain comparison/IN/string-match shapes
    // over a bare attribute and literals — what parquet filter conversion
    // always accepts; anything wrapped (CASE, cast, arithmetic) is out
    def pushable(e: Expression): Boolean = e match {
      case b: BinaryComparison => leafOk(b.left) && leafOk(b.right)
      case i: In => i.children.forall(leafOk)
      case s: StringPredicate => leafOk(s.left) && leafOk(s.right)
      case _ => false
    }
    def leafOk(e: Expression): Boolean = e match {
      case _: AttributeReference | _: Literal => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, sf)
          val plan = df.queryExecution.executedPlan.toString
          val unpushed = df.queryExecution.sparkPlan.collect {
            case f: FileSourceScanExec
                if f.dataFilters.exists(pushable) &&
                  f.metadata.get("PushedFilters").forall(_ == "[]") =>
              s"unpushed filter on ${f.metadata.getOrElse("Location", "?").take(80)}"
          }
          val bad =
            (if (plan.contains("CartesianProduct")) Seq("CartesianProduct")
             else Nil) ++
            (if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(name))
               Seq("BroadcastNestedLoopJoin")
             else Nil) ++ unpushed
          if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
        } catch { case _: Throwable => None } // throwing queries fail SmokeSpec
    }
    assert(offenders.isEmpty,
      "scale-hostile plans found:\n" + offenders.mkString("\n"))
  }

  test("AQE splits skewed join partitions at runtime") {
    // one hot key (50k rows) among 100 cold keys; thresholds lowered so
    // test-scale data trips the skew detector. At 100 TB the same
    // mechanism fires with default thresholds — this pins down that the
    // engine's join plans leave AQE free to re-plan (no manual
    // repartitioning that would defeat it).
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(50000).select(lit(1L).as("k"), $"id".as("payload"))
        .union(spark.range(5000).select(($"id" % 100 + 2).as("k"), $"id".as("payload")))
      val dim = spark.range(200).select($"id".as("k"), ($"id" * 7).as("v"))
      val j = fact.join(dim.hint("merge"), "k")
      // execute THIS DataFrame's plan (count() would plan a separate
      // QueryExecution and leave this one un-finalized under AQE)
      assert(j.collect().length === 55000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the hot-key join as skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no unbounded driver-side collect in any declared pipeline (source lint)") {
    // VERDICT r4 task 1's permanent guard: the classic 100 TB killer is an
    // O(corpus) driver materialization hiding inside a declared query
    // (the r4 offenders fed MemoryStream via events.collect()). Every
    // .collect()/.collectAsList()/.toLocalIterator in engine source must
    // be bounded by an explicit .limit()/row-cap upstream; streaming
    // queries must have NONE (they feed from file-source streams).
    val allowed = Map(
      // fixture writer: .limit(NPayloads) rows -> payload json files
      "operators/SourceOps.scala" -> 1,
      // IVF: .limit(IvfSampleCap) k-means training sample (bounded
      // regardless of corpus size) + the NQ-row query-vector fetches in
      // ivfResults and ivfpqResults (one each); PCA: three 1-row
      // aggregate fetches (the gram/moment buffer in pcaModel and the
      // audit, and the audit's per-component variance scalar)
      "operators/SimilarityOps.scala" -> 6,
      // k-means training loop: .limit(K) seed fetch + the K×Dim-row
      // per-iteration centroid-sum collect (kilobytes at any corpus size
      // — the MLlib collect-broadcast iteration shape); ×2 for the PQ
      // multi-subspace variant (same shape, M×K×Dsub rows — r16's
      // one-pass-per-iteration training)
      "operators/ClusterOps.scala" -> 4,
      // batch-perceptron training loop: the per-iteration <=B+1-row
      // gradient collect (the kmeans centroid-collect shape — kilobytes
      // at any corpus size)
      "operators/TrainOps.scala" -> 1,
      // unigram-LM learning: ONE vocab-sized dict collect guarded by the
      // MaxDictWords require (the BpeOps industrial-learner shape) + the
      // vocab-sized (word → ids) render for the broadcast dict + the
      // held-out distinct-word collect for the frozen encode (same
      // MaxDictWords require guard)
      "operators/UnigramOps.scala" -> 3,
      // BPE learning (round 10, driver-local): ONE vocab-sized dict
      // collect guarded by the MaxDictWords require — the industrial
      // learner shape — plus the spec-only distributed reference's
      // .limit(1) argmax fetch (unreachable from declared queries),
      // plus the once-per-corpus .limit(VocabSize) subword-vocab
      // collect (r16 — the LocalRelation every tokenize plan reuses),
      // plus the once-per-corpus (word → tids) dict render (r16 — a
      // LocalTableScan of the already-driver-local dictTok, MaxDictWords-
      // bounded, composing the two tokenizer maps so the tokenize kernel
      // probes ONE broadcast relation instead of two)
      "operators/BpeOps.scala" -> 4,
      // shard forget: the affected (shard, gen) pair set (≤ NShards×2
      // rows by the layout rule) + the surviving-shard key set
      // (≤ NShards rows) for empty-partition cleanup + the pre-rewrite
      // gen-1 offset snapshot (≤ NShards rows; a DELIBERATE driver
      // snapshot — cache() was not one, ADVICE r13)
      "operators/ShardOps.scala" -> 3,
      // band-index forget (images and audio share it): the affected-
      // generation set (≤ generation count by the layout rule — the
      // forgetDocs class)
      "operators/MultimodalOps.scala" -> 1,
      // posting-index forget: the affected-generation set (≤ 2 rows by
      // the layout rule — the forgetDocs class)
      "operators/SearchOps.scala" -> 1,
      // embedding-ANN index forget: the affected-generation set (≤ 2
      // rows by the layout rule — the forgetDocs class)
      "operators/EmbedIndexOps.scala" -> 1,
      // shared index forget engine: the surviving-generation key set
      // (≤ generation count) for empty-partition cleanup after the
      // one-pass rewrite (r16)
      "operators/IndexForget.scala" -> 1,
      // stream-store forget: the affected (shard, gen) pair set
      // (≤ NShards × generations rows by the admission layout rule) +
      // stream-store compact: the data-bearing generation key set
      // (≤ micro-batch count + merge count), collected once by the
      // compactor and once by the view to locate the current merge.
      // All manifest-grain, never row-grain — the forgetDocs class,
      // NOT the r4 collect-into-MemoryStream class this lint exists for
      "streaming/StreamingOps.scala" -> 3)
    val base = java.nio.file.Paths.get("src", "main", "scala", "graft")
    val offenders = java.nio.file.Files.walk(base).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val rel = base.relativize(p).toString.replace('\\', '/')
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // strip line comments so documentation can mention collect() —
        // but ignore "//" inside string literals (a "file://..." path
        // would otherwise truncate the code line and hide a real call)
        def stripComment(l: String): String = {
          var i = 0; var inStr = false
          while (i < l.length) {
            val c = l.charAt(i)
            if (inStr) {
              if (c == '\\') i += 1
              else if (c == '"') inStr = false
            } else if (c == '"') inStr = true
            else if (c == '/' && i + 1 < l.length && l.charAt(i + 1) == '/')
              return l.substring(0, i)
            i += 1
          }
          l
        }
        val code = src.linesIterator.map(stripComment).mkString("\n")
        def occ(needle: String): Int = {
          var i = 0; var n = 0
          while ({ i = code.indexOf(needle, i); i >= 0 }) { n += 1; i += needle.length }
          n
        }
        val n = Seq(".collect()", ".collectAsList()", ".toLocalIterator").map(occ).sum
        val cap = allowed.getOrElse(rel, 0)
        if (n > cap) Some(s"$rel: $n collect-class calls (allowed $cap)")
        else None
      }.toSeq
    assert(offenders.isEmpty,
      "unbounded driver-side materialization risk:\n" + offenders.mkString("\n"))
  }

  test("runtime bloom-filter join pruning injects might_contain into the fact side") {
    // The third runtime-filtering lever next to AQE skew-split and
    // broadcast pruning: when one join side carries a selective filter,
    // Catalyst builds a bloom filter over its join keys and injects
    // might_contain(...) into the OTHER side's scan filter — fact rows
    // that cannot match die before the shuffle. At 100 TB this cuts
    // shuffle volume by the dim side's selectivity; the engine's join
    // plans must leave the rewrite free to fire (no manual repartition
    // or typed barrier between scan and join). Thresholds are lowered in
    // a scoped session because the fixture is below the 10 MB default.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.lineitem(ss, sf)
    val ord = Tables.orders(ss, sf).filter(col("o_orderpriority") === "1-URGENT")
    val j = li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count("*").as("n"))
    val pp = j.queryExecution.executedPlan.toString
    assert(pp.contains("might_contain"),
      s"bloom runtime filter must reach the lineitem side:\n$pp")
    // and the rewrite is semantics-preserving
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
    val rows = j.collect()
    assert(rows.map(_.getAs[Long]("n")).sum === expected)
  }

  test("q_join_skewed's hot partition is split by AQE at runtime") {
    // the declared automatic-skew path (VERDICT r4 task 3): 70% of the
    // fact side lands on one join key; after execution the finalized
    // adaptive plan must carry skew=true splits on the sort-merge join
    val df = q("q_join_skewed")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 5,
      "at most one row per market segment")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE must split the hot-key partition:\n$plan")
  }

  test("q_join_dpp: the fact scan carries a dynamicpruning partition filter " +
      "and reads only the matching partitions") {
    // VERDICT r6 task 4: dynamic partition pruning promoted to a declared
    // query. The fact is hive-partitioned on event_type; the dim carries
    // the selective channel predicate; Catalyst must inject the dim's
    // join-key set into the fact scan's PartitionFilters (reusing the
    // dim's broadcast), so the three non-'web' partition directories are
    // never read.
    val df = q("q_join_dpp")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq.sorted === Seq("click", "view"),
      "only the two 'web' event types survive the dim filter")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamicpruning partition filter:\n$plan")
    // the pruning filter must sit in PartitionFilters (directory-level,
    // pre-listing) — not be demoted to a post-scan data filter
    val scanLine = plan.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("dynamicpruning"))
    assert(scanLine.isDefined,
      s"dynamicpruning must be a PARTITION filter on the fact scan:\n$plan")
  }

  test("stateful streaming runs on the RocksDB state store (production backend)") {
    // The default HDFSBackedStateStore keeps state on the JVM heap — fine
    // locally, a memory wall at 100 TB key cardinality. RocksDB is the
    // production provider (off-heap, spills to disk, changelog
    // checkpointing); the engine's stateful plans must run on it
    // unchanged. A scoped newSession flips the provider; the progress
    // metrics prove RocksDB actually held the state.
    import graft.streaming.StreamingOps.Ev
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(min: Int) = new java.sql.Timestamp(
      java.time.Instant.parse("2024-06-01T10:00:00Z").toEpochMilli + min * 60000L)
    implicit val sq = ss.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "5 minutes"), $"user_id")
      .agg(count("*").as("n"))
      .writeStream.format("memory").queryName("rocksdb_test")
      .outputMode("append")
      .start()
    try {
      ms.addData(Ev(ts(0), 1L, 1.0), Ev(ts(2), 1L, 1.0), Ev(ts(3), 2L, 1.0))
      q.processAllAvailable()
      ms.addData(Ev(ts(20), 1L, 1.0))
      q.processAllAvailable() // first window finalized by the watermark
      val rows = ss.table("rocksdb_test")
        .select($"user_id", $"n").as[(Long, Long)].collect().toMap
      assert(rows === Map(1L -> 2L, 2L -> 1L))
      // the state operator must report rocksdb-specific metrics — proof
      // the provider override took effect inside the stream
      val metrics = q.lastProgress.stateOperators(0).customMetrics
      assert(metrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb metrics, got: ${metrics.keySet}")
    } finally q.stop()
  }

  test("q_stream_chained runs TWO stateful operators in one plan (RocksDB)") {
    // Spark's multiple-stateful-operator support is the one streaming
    // surface the engine hadn't demonstrated: window agg -> window agg in
    // a single MicroBatchExecution, watermark propagated THROUGH the
    // first state store. Pin (a) both state operators in one running
    // query (progress reports two, and the physical plan carries two
    // StateStoreSave nodes), (b) on the production RocksDB backend,
    // (c) the emitted result equals the batch recompute.
    val dir = graft.streaming.StreamingOps.streamInputDir(spark, sf)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = graft.streaming.StreamingOps.chainedStream(ss, dir)
      .writeStream.format("memory").queryName("chained_test")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 2,
        s"expected 2 state operators in one plan, got ${ops.length}: " +
          ops.map(_.operatorName).mkString(","))
      assert(ops.forall(_.operatorName.toLowerCase.contains("statestoresave")),
        ops.map(_.operatorName).mkString(","))
      val got = ss.table("chained_test")
        .select(unix_timestamp($"window.start"), $"n_windows", $"n_events")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val expected = Tables.events(spark, sf)
        .select((floor(unix_timestamp($"ts") / 300) * 300).cast("long").as("w5"))
        .groupBy($"w5").agg(count("*").as("n"))
        .select((floor($"w5" / 3600) * 3600).cast("long").as("h"), $"n")
        .groupBy($"h").agg(count("*").as("n_windows"), sum($"n").as("n_events"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got === expected)
      val rocks = q.lastProgress.stateOperators.forall(
        _.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")))
      assert(rocks, "both state operators must report RocksDB metrics")
    } finally q.stop()
  }

  test("q_stream_timer_expiry emits only after the watermark passes the timer") {
    // the two-file fixture means: batch 1 = all real events (timers armed,
    // NOTHING emitted), sentinel batch advances the watermark, the no-data
    // timer batch flushes every user exactly once. If emissions happened
    // eagerly in handleInputRows the row count would still match the
    // oracle here, so pin the mechanism: totals must equal the batch
    // group-by AND each user appears exactly once (one expiry per key).
    val rows = q("q_stream_timer_expiry")
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length === rows.length,
      "one timer expiry (one emission) per key")
    val expected = Tables.events(spark, sf)
      .groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(rows.toMap === expected)
  }

  test("watermark drops late events from finalized windows") {
    import graft.streaming.StreamingOps.Ev
    def ts(min: Int) = new java.sql.Timestamp(
      java.time.Instant.parse("2024-06-01T10:00:00Z").toEpochMilli + min * 60000L)
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "5 minutes"), $"user_id")
      .agg(count("*").as("n"))
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append")
      .start()
    try {
      ms.addData(Ev(ts(0), 1L, 1.0), Ev(ts(2), 1L, 1.0), Ev(ts(7), 1L, 1.0))
      q.processAllAvailable() // watermark -> 10:02; nothing finalized
      ms.addData(Ev(ts(20), 1L, 1.0))
      q.processAllAvailable() // watermark -> 10:15; [10:00,10:05) + [10:05,10:10) finalized
      ms.addData(Ev(ts(1), 1L, 1.0)) // LATE: behind the 10:15 watermark -> dropped
      ms.addData(Ev(ts(40), 1L, 1.0))
      q.processAllAvailable() // flush remaining
      val rows = spark.table("late_test")
        .select(unix_timestamp($"window.start").as("w"), $"n")
        .as[(Long, Long)].collect().toMap
      val base = java.time.Instant.parse("2024-06-01T10:00:00Z").getEpochSecond
      assert(rows(base) === 2L,
        "the late event must NOT be added to the already-finalized first window")
      assert(rows(base + 300) === 1L)
    } finally q.stop()
  }

  test("plan sweep: no partition-less Window over unbounded input " +
      "(single-partition sort is the silent 100 TB serializer)") {
    // VERDICT r10 task 5: a WindowExec with an empty partition spec
    // pulls EVERY row into one task — invisible at fixture scale, a
    // full-corpus single-machine sort at 100 TB. Gate the declared
    // surface: any query whose optimized plan contains a partition-less
    // logical Window must be on the documented allowlist, each entry
    // provably bounded BEFORE the window (vocab cap, window-grain spine,
    // domain cardinality).
    import org.apache.spark.sql.catalyst.plans.logical
    val windowOk: Set[String] = Set(
      // vocab-sized rank windows: input capped by orderBy+limit(N) or
      // the VocabSize filter before/around the window (BpeOps, TextOps)
      "q_bpe_vocab", "q_text_token_ids", "q_text_bpe_ids",
      // 5-minute-grain window spine: rows = distinct buckets of the
      // event time range, not events (CoreOps fallback coalesce)
      "q_window_fallback",
      // domain-cardinality windows: one row per source (MixOps share/
      // factor algebra)
      "q_mix_weights", "q_mix_sample", "q_mix_execute",
      // vocab-sized coverage curve (cumulative share over ranked vocab)
      "q_vocab_coverage",
      // vocab-sized rank window (byteVocab: the q_bpe_vocab class —
      // input is the tokenized dict's subword set, VocabSize-capped)
      "q_bpe_bytes",
      // bucket-sized totals: both windows run over the <=DsirBuckets-row
      // ratio relation (the documented no-1-row-crossJoin alternative)
      "q_dsir_weights",
      // rank over the SkewTopN-row TakeOrdered head — bounded input
      "q_profile_skew"
    )
    // r17 (VERDICT r16 task 6): an allowlist entry is no longer taken on
    // faith — each flagged window's INPUT must be bounded BY
    // CONSTRUCTION: every path from the window down to a leaf passes
    // through a Limit (vocab/top-N cap) or an Aggregate (domain-grain
    // collapse: 5-min buckets, sources, hash buckets, token forms)
    // before touching a scan, or ends at a LocalRelation (driver-
    // materialized, so provably small). A corpus-grain window (e.g.
    // row_number straight over events) fails this even if someone adds
    // it to the allowlist.
    def boundedByConstruction(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit | _: logical.LocalLimit => true
      case _: logical.Aggregate => true
      case _: logical.LocalRelation => true
      case _: logical.OneRowRelation => true
      case leaf if leaf.children.isEmpty => false // file scan / RDD leaf
      case other => other.children.forall(boundedByConstruction)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val ws = fn(spark, sf).queryExecution.optimizedPlan.collect {
            case w: logical.Window if w.partitionSpec.isEmpty => w
          }
          if (ws.nonEmpty && !windowOk(name))
            Some(s"$name: ${ws.size} partition-less Window")
          else if (ws.exists(w => !boundedByConstruction(w.child)))
            Some(s"$name: allowlisted partition-less Window whose input " +
              "reaches a corpus leaf without a Limit/Aggregate bound")
          else None
        } catch { case _: Throwable => None } // throwing queries fail SmokeSpec
    }
    assert(offenders.isEmpty,
      "unbounded single-partition windows found (add a bound or an " +
        "allowlist entry with its bound):\n" + offenders.mkString("\n"))
    // the detector itself: a corpus-grain offender must be caught
    val bad = Tables.events(spark, sf).withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts")))
    val badWs = bad.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(badWs.nonEmpty, "detector failed to flag a corpus-grain global window")
    // and the structural prover must REJECT it: its input is a raw scan
    assert(badWs.exists(w => !boundedByConstruction(w.child)),
      "boundedByConstruction accepted a corpus-grain window input")
  }

  test("q_simsearch_filtered: the metadata keep-set is never broadcast " +
      "(semi-join is shuffle-hash; only the NQ-row query side broadcasts)") {
    // VERDICT r10 task 1: the keep side tracks the PREDICATE's
    // selectivity, not a fixed bound — a non-selective filter makes it
    // corpus-scale and a forced broadcast(keep) aborts at the 8 GiB
    // limit. The fix SHUFFLE_HASH-hints it: the semi-join must plan as
    // ShuffledHashJoin with the keep (right/hinted) side building
    // per-partition, and the ONLY BroadcastExchange in the plan is the
    // bounded NQ-row query relation feeding the scoring BNLJ.
    val df = SparkEntry.queries("q_simsearch_filtered")(spark, sf)
    df.collect() // resolve AQE stages so the final plan is inspectable
    val plan = df.queryExecution.executedPlan.toString
    val semiLines = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("LeftSemi")).toSeq
    assert(semiLines.nonEmpty, "pre-filter semi-join missing:\n" + plan)
    assert(semiLines.forall(l =>
        l.contains("ShuffledHashJoin") && l.contains("BuildRight")),
      "keep-set semi-join must be ShuffledHashJoin BuildRight (no " +
        "broadcast cliff under a non-selective predicate):\n" + plan)
    // AQE toString repeats nodes in == Initial Plan == sections; count
    // broadcast JOIN KINDS instead of exchange lines: no BroadcastHashJoin
    // at all (the scoring join is the deliberate BNLJ over NQ rows)
    assert(!plan.contains("BroadcastHashJoin"),
      "no hash-join side may be broadcast — only the bounded query " +
        "relation's BNLJ broadcast is allowed:\n" + plan)
  }
}
