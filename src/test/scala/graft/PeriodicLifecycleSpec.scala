package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{EmbedIndexOps, MultimodalOps, SearchOps, ShardOps}

/** The periodic-lifecycle harness (VERDICT r15 task 6) — the cycle-2
  * lesson promoted into the test CONTRACT. Both r15 compaction review
  * passes found data-loss windows that were latent on single-cycle
  * fixtures ("the two-generation fixture cannot distinguish 'works'
  * from 'works once'"); this spec makes the repeated-operator leg a
  * reusable runner applied to EVERY store family, so the next store
  * operator cannot ship a works-once bug.
  *
  * And the harness earned its keep on arrival: every source-derived
  * forget in the engine (media/audio band indexes, posting index,
  * batch shard store, stream store plain + compacted) RESURRECTED
  * earlier deletes on the second forget — re-deriving survivors from
  * the source applies only the current predicate, and the source still
  * contains what delete #1 removed. All six paths now either filter
  * the artifact in place (IndexForget) or anti-join a per-store
  * tombstone log (Tombstones); the runners here pin the composition
  * law the fix establishes:
  *
  *   forget(p1) ∘ forget(p2) ≡ forget(p1 ∨ p2),   forget idempotent.
  *
  * Two runner shapes: id-carrying indexes assert the SERVED ID SET
  * directly (precise failure messages); packed stores (rows carry no
  * doc membership) assert full-content equality against a one-pass
  * fresh-store oracle — the same compose-equals-batch contract the
  * stream-store forget oracles use.
  */
class PeriodicLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  // two disjoint delete rules, each hitting both generations of every
  // family on the fixture id ranges (mod-37 residues cut across the
  // mod-10 delta rule and both parities)
  private val p1: Column = col("doc_id") % 37 === 5
  private def p1f(id: Long): Boolean = id % 37 == 5
  private val p2: Column = col("doc_id") % 37 === 11
  private def p2f(id: Long): Boolean = id % 37 == 11

  private def scratch(name: String): String = {
    val p = java.nio.file.Paths.get("target", name).toAbsolutePath
    graft.Fs.deleteRecursively(p)
    p.toString
  }

  /** Runner 1: build once, delete p1, delete p2, retry p1; after each
    * step the served id set must equal domain minus every delete so
    * far — a resurrected id fails with its name. */
  private def repeatedForgetByIds(family: String, dir: String,
      build: String => Unit, forget: (String, Column) => Unit,
      served: String => Set[Long], domain: Set[Long]): Unit = {
    assert(domain.exists(p1f) && domain.exists(p2f),
      s"$family: a delete rule is vacuous on the domain — test proves nothing")
    build(dir)
    assert(served(dir) === domain, s"$family: fresh store incomplete")
    forget(dir, p1)
    val after1 = domain.filterNot(p1f)
    assert(served(dir) === after1, s"$family: first forget wrong")
    forget(dir, p2)
    val after2 = after1.filterNot(p2f)
    val got = served(dir)
    val resurrected = got -- after2
    assert(resurrected.isEmpty,
      s"$family: second forget RESURRECTED ids ${resurrected.toSeq.sorted
        .take(5)} — the works-once class")
    assert(got === after2, s"$family: second forget wrong")
    forget(dir, p1) // idempotent retry of an already-applied delete
    assert(served(dir) === after2, s"$family: forget retry not idempotent")
  }

  /** Runner 2: sequential deletes on store A, the union delete on a
    * fresh store B — contents must agree exactly (packed stores carry
    * no doc ids, so the one-pass store IS the composition oracle). */
  private def repeatedForgetByContent(family: String,
      dirA: String, dirB: String,
      build: String => Unit, forget: (String, Column) => Unit,
      content: String => Seq[org.apache.spark.sql.Row]): Unit = {
    build(dirA)
    forget(dirA, p1)
    forget(dirA, p2)
    forget(dirA, p1) // idempotent retry
    build(dirB)
    forget(dirB, p1 || p2)
    val a = content(dirA)
    val b = content(dirB)
    assert(a.nonEmpty && a === b,
      s"$family: forget(p1);forget(p2) != forget(p1|p2) — the " +
        "works-once class (sequential deletes diverge from the one-pass)")
  }

  private def idxIds(col0: String)(dir: String): Set[Long] =
    spark.read.parquet(dir).select(col(col0)).distinct()
      .collect().map(_.getLong(0)).toSet

  test("media band index: repeated forgets compose (served id set)") {
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 2 === 0)
      .select($"doc_id").as[Long].collect().toSet
    repeatedForgetByIds("media_index", scratch("plc-media"),
      d => { MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Image, d)
             MultimodalOps.appendIndexDelta(spark, sf,
               MultimodalOps.Image, d) },
      (d, p) =>
        MultimodalOps.forgetIndex(spark, sf, MultimodalOps.Image, d, p),
      idxIds("media_id"), docs)
  }

  test("audio band index: repeated forgets compose (served id set)") {
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 2 === 1)
      .select($"doc_id").as[Long].collect().toSet
    repeatedForgetByIds("audio_index", scratch("plc-audio"),
      d => { MultimodalOps.writeIndexBase(spark, sf, MultimodalOps.Audio, d)
             MultimodalOps.appendIndexDelta(spark, sf,
               MultimodalOps.Audio, d) },
      (d, p) =>
        MultimodalOps.forgetIndex(spark, sf, MultimodalOps.Audio, d, p),
      idxIds("media_id"), docs)
  }

  test("embedding ANN index: repeated forgets compose (served id set)") {
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val pv1 = col("vec_id") % 37 === 5
    val pv2 = col("vec_id") % 37 === 11
    val dir = scratch("plc-embed")
    EmbedIndexOps.writeEmbedIndexBase(spark, sf, dir)
    EmbedIndexOps.appendEmbedIndexDelta(spark, sf, dir)
    assert(idxIds("vec_id")(dir) === vecs)
    EmbedIndexOps.forgetEmbedIndex(spark, sf, dir, pv1)
    EmbedIndexOps.forgetEmbedIndex(spark, sf, dir, pv2)
    EmbedIndexOps.forgetEmbedIndex(spark, sf, dir, pv1)
    assert(idxIds("vec_id")(dir) ===
      vecs.filterNot(p1f).filterNot(p2f),
      "embed_index: second forget resurrected or lost ids")
  }

  test("posting index: repeated forgets compose (doc-membership " +
      "manifest is the presence authority; postings are a subset)") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val dir = scratch("plc-posting")
    repeatedForgetByIds("posting_index", dir,
      d => { SearchOps.writePostingBase(spark, sf, d)
             SearchOps.appendPostingDelta(spark, sf, d) },
      (d, p) => SearchOps.forgetPostingIndex(spark, sf, d, p),
      d => idxIds("doc_id")(SearchOps.postingMetaDir(d)), docs)
    // postings can only reference present docs
    val meta = idxIds("doc_id")(SearchOps.postingMetaDir(dir))
    val posted = idxIds("doc_id")(dir)
    assert(posted.subsetOf(meta),
      "postings reference docs absent from the membership manifest")
  }

  test("batch shard store: sequential forgets equal the one-pass " +
      "union forget (content oracle)") {
    repeatedForgetByContent("shard_store",
      scratch("plc-shard-a"), scratch("plc-shard-b"),
      d => { ShardOps.writeShardBaseTo(spark, sf, d)
             ShardOps.appendShardDeltaTo(spark, sf, d) },
      (d, p) => ShardOps.forgetDocs(spark, sf, d, p),
      d => spark.read.parquet(d)
        .select($"shard".cast("long"), $"gen".cast("long"),
          $"seq_idx", $"n_ids", $"ids_str")
        .orderBy($"shard", $"gen", $"seq_idx")
        .collect().toSeq)
  }

  /** The at-least-once collapsed view — the family's read rule. */
  private def collapsedStore(d: String): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(d)
      .groupBy($"shard".cast("long").as("shard"),
        $"gen".cast("long").as("gen"), $"seq_idx")
      .agg(max($"n_ids").as("n_ids"), max($"ids_str").as("ids_str"))
      .orderBy($"shard", $"gen", $"seq_idx")
      .collect().toSeq

  private def copyPristine(dir: String): Unit = {
    val pristine = graft.streaming.StreamingOps
      .streamPipelineStore(spark, sf)
    graft.Fs.copyRecursively(java.nio.file.Paths.get(pristine),
      java.nio.file.Paths.get(dir))
  }

  test("stream store: sequential forgets equal the one-pass union " +
      "forget (content oracle)") {
    repeatedForgetByContent("stream_store",
      scratch("plc-stream-a"), scratch("plc-stream-b"),
      copyPristine,
      (d, p) => graft.streaming.StreamingOps
        .forgetStreamStore(spark, sf, d, p),
      collapsedStore)
  }

  test("COMPACTED stream store: sequential forgets equal the one-pass " +
      "union forget (content oracle, source-replay re-merge path)") {
    repeatedForgetByContent("stream_store_compacted",
      scratch("plc-streamc-a"), scratch("plc-streamc-b"),
      d => { copyPristine(d)
             graft.streaming.StreamingOps.compactStreamStore(spark, d) },
      (d, p) => graft.streaming.StreamingOps
        .forgetStreamStore(spark, sf, d, p),
      collapsedStore)
  }

  test("INTERLEAVED lifecycle: forget -> compact -> forget -> compact " +
      "equals the one-pass union forget + compact (operator " +
      "interleaving, not just repetition)") {
    // the repeated-forget runners vary ONE operator; production
    // interleaves them — a delete arrives, compaction runs, another
    // delete arrives. The compactor derives content from the STORE
    // (post-forget truth) and the compacted-forget replays the source
    // minus the FULL tombstone log, so the interleaving must commute
    // to the one-pass answer; this leg pins exactly that.
    val a = scratch("plc-interleave-a")
    copyPristine(a)
    graft.streaming.StreamingOps.forgetStreamStore(spark, sf, a, p1)
    graft.streaming.StreamingOps.compactStreamStore(spark, a)
    graft.streaming.StreamingOps.forgetStreamStore(spark, sf, a, p2)
    graft.streaming.StreamingOps.compactStreamStore(spark, a)
    val b = scratch("plc-interleave-b")
    copyPristine(b)
    graft.streaming.StreamingOps.forgetStreamStore(spark, sf, b, p1 || p2)
    graft.streaming.StreamingOps.compactStreamStore(spark, b)
    // compare the LOGICAL VIEW, not raw files: the two histories
    // legitimately differ physically — B keeps gen-0 full rows at
    // their final addresses (the flat-cost rule: never rewritten),
    // while A's compacted-forget re-derived its touched shards
    // entirely at the merge generation. The view is the read contract
    // and must agree address-for-address, token-for-token.
    def view(d: String): Seq[org.apache.spark.sql.Row] =
      graft.streaming.StreamingOps.compactedStreamView(spark, d)
        .orderBy($"shard", $"seq_idx").collect().toSeq
    val (ca, cb) = (view(a), view(b))
    assert(ca.nonEmpty && ca === cb,
      "interleaved forget/compact diverges from the one-pass union — " +
        "an operator pair that does not commute")
  }
}
