package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryPack}

/** Packed token-ID training shards — the file a trainer actually loads
  * (VERDICT r11 task 1: the q_pipeline_shards manifest describes bins;
  * this WRITES the binned id rows and reads them back).
  *
  * Composition of three oracle-verified pieces: the BPE subword-id
  * stream ([[BpeOps.subwordIdRows]], the q_text_bpe_ids plan), the
  * q_pipeline_shards fixed-budget packing rule (per-shard running
  * position → integer-division bin), and the q_sink_partitioned
  * hive-layout write (one directory per shard, partition-pruned reads).
  * The reference's whole purpose is "persist the processed deliverable"
  * (`/root/reference/src/mining/utils/load.py:45-55`); this is that
  * step at training-pipeline scale.
  *
  * Scale shape: the id stream is a map + two broadcast joins (never a
  * corpus×corpus join); packing is ONE shuffle on `shard` with a
  * per-shard sort (shard count is the parallelism knob — 8 at fixture
  * scale, thousands at 100 TB, each shard's sort is 1/N of the corpus
  * and spillable); the write reuses the shard partitioning as the
  * hive layout, so a training job reading `shard=k` plans exactly one
  * directory (PartitionFilters, zero cross-shard I/O). Row width is
  * fixed at [[SeqLen]] ids, per-shard tails excepted — the contract
  * ShardSpec pins.
  */
object ShardOps extends QueryPack {

  /** Fixed training-row length (ids per packed row). */
  private[graft] val SeqLen = 512

  /** Shard count — the parallelism/layout knob (thousands at 100 TB). */
  private[graft] val NShards = 8

  /** Collision-proof per-corpus artifact dir — the shared
    * full-path-hash scheme (r11 basename-collision rule), one
    * implementation for every artifact family. */
  private[graft] def shardDir(d: String): String =
    graft.Fs.artifactDir("shard_ids", d).toString

  /** Shared pack step: per-shard (doc_id, pos, subpos) total order →
    * running token index → [[SeqLen]]-sized rows, grouped to one packed
    * row per (shard, seq_idx). A per-SHARD sort, not a global one: the
    * window partitions on the layout key, so each sort is corpus/NShards
    * and the whole pack is one exchange (the q_pipeline_shards window
    * rule). Integer division — exact past 2^53 cumulative tokens (the
    * q_pipeline_shards ADVICE r11 rule); operands non-negative.
    * `startSeq` (shard → first free seq_idx) offsets a later ingest
    * generation so its rows continue the shard's address space without
    * touching earlier rows — None packs from 0. */
  private[graft] def packRows(s: SparkSession, ids: DataFrame,
      startSeq: Option[DataFrame]): DataFrame =
    packStream(s, ids, Seq("doc_id", "pos", "subpos"), startSeq,
      docStats = true)

  /** The ONE pack rule, shared by the from-tokenizer pack ([[packRows]])
    * and the compaction re-pack: `order` is the per-shard total order of
    * the incoming token stream; `docStats` is false when the stream has
    * no per-token doc_id (re-packed rows — fixed-width rows carry no doc
    * boundaries by design), in which case the stat columns are NULL so
    * every generation writes the same parquet schema. */
  private[graft] def packStream(s: SparkSession, toks: DataFrame,
      order: Seq[String], startSeq: Option[DataFrame],
      docStats: Boolean): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy(order.map(col): _*)
    val idxd = toks
      // compute width (Fs.computeWidth): the per-shard sort window is
      // sort-bound, not byte-bound; this repartition satisfies the
      // window's clustered distribution, so it adds no exchange
      .repartition(graft.Fs.computeWidth(s), $"shard")
      .withColumn("tok_idx", row_number().over(w).cast("long") - 1L)
      .withColumn("seq_in_gen", expr(s"tok_idx div $SeqLen"))
      .withColumn("pos_in_seq", pmod($"tok_idx", lit(SeqLen.toLong)))
    val seqd = startSeq match {
      case Some(off) => idxd
        .join(broadcast(off), Seq("shard"), "left")
        .withColumn("seq_idx", $"seq_in_gen" + coalesce($"seq0", lit(0L)))
      case None => idxd.withColumn("seq_idx", $"seq_in_gen")
    }
    val aggs = Seq(
      count(lit(1)).cast("long").as("n_ids"),
      array_join(
        transform(array_sort(collect_list(struct($"pos_in_seq", $"tid"))),
          x => x.getField("tid").cast("string")), ",").as("ids_str")) ++
      (if (docStats) Seq(countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
       else Nil)
    val packed = seqd.groupBy($"shard", $"seq_idx")
      .agg(aggs.head, aggs.tail: _*)
    if (docStats) packed
    else packed
      .withColumn("n_docs", lit(null).cast("long"))
      .withColumn("first_doc", lit(null).cast("long"))
      .withColumn("last_doc", lit(null).cast("long"))
  }

  private val shardWrite = QueryDef(
    "q_shard_write",
    (s, d) => {
      import s.implicits._
      val ids = BpeOps.subwordIdRows(s, d)
        .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
      val packed = packRows(s, ids, None)
      val dir = shardDir(d)
      packed.write.mode("overwrite").partitionBy("shard").parquet(dir)
      // Declared result = the READ-BACK, so the oracle hash proves the
      // whole tokenize → pack → write → read chain. The hive partition
      // column comes back as INT (partition inference) — cast to long.
      s.read.parquet(dir)
        .select($"shard".cast("long").as("shard"), $"seq_idx", $"n_ids",
          $"n_docs", $"first_doc", $"last_doc", $"ids_str")
        .orderBy($"shard", $"seq_idx")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, pos, subpos, tid, doc_id % $NShards AS shard
        FROM ids),
      ord AS (SELECT shard, doc_id, tid,
          row_number() OVER (PARTITION BY shard
            ORDER BY doc_id, pos, subpos) - 1 AS tok_idx
        FROM t)
      SELECT CAST(shard AS BIGINT) AS shard,
        CAST(tok_idx // $SeqLen AS BIGINT) AS seq_idx,
        CAST(count(*) AS BIGINT) AS n_ids,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        array_to_string(list(CAST(tid AS VARCHAR) ORDER BY tok_idx), ',')
          AS ids_str
      FROM ord GROUP BY 1, 2 ORDER BY shard, seq_idx"""),
    "Packed token-ID training shards: BPE subword-id stream packed into " +
      s"fixed-$SeqLen-id rows per shard, written hive-partitioned and " +
      "read back — the tokenize->pack->write->read chain under one hash")

  // ---------------------------------------------------- q_shard_append
  // VERDICT r12 task 3: the daily-pipeline shape — q_shard_write is
  // overwrite-only; a production corpus APPENDS newly cleaned docs to an
  // existing shard set without rewriting it. The pack contract that
  // makes append a pure file add is GENERATION ALIGNMENT: sequences
  // never span ingest generations — each generation packs its own token
  // stream from a fresh [[SeqLen]] boundary (the shard's next free
  // seq_idx), so the base generation's rows (and files) are final the
  // moment they land. Layout is hive (shard, gen): an appended batch
  // creates only new `gen=1` directories; ShardAppendSpec proves the
  // base files are byte-untouched. The base/delta split is the family's
  // shared [[BpeOps.HoldoutMod]] rule (same as q_dedup_incremental /
  // q_dedup_bloom*). The oracle recomputes the ENTIRE two-generation
  // layout in one pass — append path ≡ full rebuild under the declared
  // pack rule, under one hash.
  //
  // Scale shape: the append touches |delta| tokens + an NShards-row
  // partition-pruned manifest aggregate (the existing index is never
  // re-tokenized or re-read at corpus grain) — exactly the
  // q_stream_index_maintain LSM posture applied to training shards.

  private[graft] def appendShardDir(d: String): String =
    graft.Fs.artifactDir("shard_append", d).toString

  /** One ingest generation's subword-id stream (the shared
    * [[GenerationLayout.ShardStore]] rule). */
  private def genIds(s: SparkSession, d: String, delta: Boolean): DataFrame = {
    import s.implicits._
    BpeOps.subwordIdRows(s, d)
      .filter(GenerationLayout.ShardStore.genSlice($"doc_id", delta))
      .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
  }

  /** Base build: pack the base generation from seq 0, overwrite. */
  private[graft] def writeShardBase(s: SparkSession, d: String): String =
    writeShardBaseTo(s, d, appendShardDir(d))

  private[graft] def writeShardBaseTo(s: SparkSession, d: String,
      dir: String): String = {
    packRows(s, genIds(s, d, delta = false), None)
      .withColumn("gen", lit(0))
      .write.mode("overwrite").partitionBy("shard", "gen").parquet(dir)
    dir
  }

  /** Incremental append: pack ONLY the delta stream, continuing each
    * shard's seq address space from the existing index's next free row
    * (a partition-pruned manifest aggregate — the base corpus is never
    * re-tokenized), and land it as new gen=1 files. */
  private[graft] def appendShardDelta(s: SparkSession, d: String): Unit =
    appendShardDeltaTo(s, d, appendShardDir(d))

  private[graft] def appendShardDeltaTo(s: SparkSession, d: String,
      dir: String): Unit = {
    import s.implicits._
    val offsets = s.read.parquet(dir).filter($"gen" === 0)
      .groupBy($"shard".cast("long").as("shard"))
      .agg((max($"seq_idx") + 1L).as("seq0"))
    packRows(s, genIds(s, d, delta = true), Some(offsets))
      .withColumn("gen", lit(1))
      .write.mode("append").partitionBy("shard", "gen").parquet(dir)
  }

  /** The gen-tagged subword-id stream — the shared tokenize input of the
    * two-generation build (and the forget path's survivor derivation):
    * (doc_id, pos, subpos, tid, shard, gen). */
  private[graft] def taggedIds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    BpeOps.subwordIdRows(s, d)
      .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
      .withColumn("gen", GenerationLayout.ShardStore.genOf($"doc_id"))
  }

  /** Build the two-generation append store at `dir` with ONE tokenize
    * pass (r16, guide §1.2: cut the pass count): `ids` is the
    * materialized [[taggedIds]] stream and both generations pack from
    * SLICES of it, where writeShardBaseTo + appendShardDeltaTo each
    * re-ran the whole subword pipeline over the corpus. Phase order —
    * and the incremental contract — are unchanged: the base lands
    * first, then the delta packs from the STORE's own partition-pruned
    * manifest offsets, never from the token stream (the phased helpers
    * stay for the specs that assert between phases). Per-(shard, gen)
    * content is bit-identical: each pack's window sees exactly the rows
    * the per-phase tokenize produced. */
  private[graft] def buildAppendStoreTo(s: SparkSession, d: String,
      dir: String, ids: DataFrame): String = {
    import s.implicits._
    packRows(s, ids.filter($"gen" === 0L).drop("gen"), None)
      .withColumn("gen", lit(0))
      .write.mode("overwrite").partitionBy("shard", "gen").parquet(dir)
    val offsets = s.read.parquet(dir).filter($"gen" === 0)
      .groupBy($"shard".cast("long").as("shard"))
      .agg((max($"seq_idx") + 1L).as("seq0"))
    packRows(s, ids.filter($"gen" === 1L).drop("gen"), Some(offsets))
      .withColumn("gen", lit(1))
      .write.mode("append").partitionBy("shard", "gen").parquet(dir)
    dir
  }

  private val shardAppend = QueryDef(
    "q_shard_append",
    (s, d) => {
      import s.implicits._
      val ids = taggedIds(s, d).localCheckpoint()
      buildAppendStoreTo(s, d, appendShardDir(d), ids)
      graft.Memo.releaseLocalCheckpoint(ids) // store is durable now
      s.read.parquet(appendShardDir(d))
        .select($"shard".cast("long").as("shard"),
          $"gen".cast("long").as("gen"),
          $"seq_idx", $"n_ids", $"n_docs", $"first_doc", $"last_doc",
          $"ids_str")
        .orderBy($"shard", $"gen", $"seq_idx")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, pos, subpos, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      ord AS (SELECT shard, gen, doc_id, tid,
          row_number() OVER (PARTITION BY shard, gen
            ORDER BY doc_id, pos, subpos) - 1 AS tok
        FROM t),
      basecnt AS (SELECT shard, count(*) AS nb FROM ord WHERE gen = 0
        GROUP BY 1),
      sq AS (SELECT o.shard, o.gen, o.doc_id, o.tid, o.tok,
          CASE WHEN o.gen = 0 THEN o.tok // $SeqLen
               ELSE COALESCE(b.nbseq, 0) + o.tok // $SeqLen END AS seq_idx
        FROM ord o LEFT JOIN (SELECT shard,
            (nb + ${SeqLen - 1}) // $SeqLen AS nbseq FROM basecnt) b
          ON o.gen = 1 AND o.shard = b.shard)
      SELECT CAST(shard AS BIGINT) AS shard, CAST(gen AS BIGINT) AS gen,
        CAST(seq_idx AS BIGINT) AS seq_idx,
        CAST(count(*) AS BIGINT) AS n_ids,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        array_to_string(list(CAST(tid AS VARCHAR) ORDER BY tok), ',')
          AS ids_str
      FROM sq GROUP BY 1, 2, 3 ORDER BY shard, gen, seq_idx"""),
    "Incremental shard append: base generation written once, delta " +
      "generation packed from each shard's next free seq boundary and " +
      "landed as NEW files only; read-back hash-equal to the oracle's " +
      "one-pass rebuild of the generation-aligned layout")

  // --------------------------------------------------- q_shard_compact
  // The LSM counterpart of q_shard_append: repeated appends leave one
  // under-filled tail row per (shard, generation) — after G generations a
  // shard's store is G files with up to G·(SeqLen−1) wasted ids and G×
  // the file count a trainer must open. Compaction DEFRAGMENTS touching
  // only O(tail + delta) tokens: every FULL base row is already at its
  // final defragmented address (generation-0 packs from seq 0, so its
  // full rows ARE the global pack's first rows — the invariant that makes
  // this incremental), so only [base tail ∪ delta generation] is
  // re-packed, continuing from the full-row count, and lands as a new
  // generation; the superseded delta directories are then vacuumed
  // (new data first, then remove old — the crash-safe LSM order;
  // q_stream_index_compact's discipline applied to training shards).
  // The stale base tail row stays physically in its untouched gen-0 file
  // and is excluded by the read view's `n_ids = SeqLen` rule — a
  // tombstone-free tombstone, possible because under-fill is visible in
  // the row itself.
  //
  // Contract: compaction preserves the ID STREAM (the training
  // deliverable), not pack-time doc-span stats — re-packed rows carry
  // NULL n_docs/first_doc/last_doc (a packed row's ids carry no per-token
  // doc boundaries, by design: fixed-width rows are the trainer's
  // format). The oracle proves the defragmentation exactly: the read view
  // must hash-equal a ONE-PASS global pack of the whole two-generation
  // token stream — every row full except each shard's single final tail.
  //
  // Scale shape: one partition-pruned manifest aggregate (full-row count
  // per shard), token-grain work bounded by |tail| + |delta| (never the
  // base corpus), one exchange + per-shard window for the re-pack, and a
  // directory-level vacuum. At 100 TB with thousands of shards, each
  // shard compacts independently — the window partitions on shard.

  private[graft] def compactShardDir(d: String): String =
    graft.Fs.artifactDir("shard_compact", d).toString

  /** Compact the two-generation store at `dir`: re-pack [base tail ∪
    * gen-1] into gen=2 files, then vacuum the gen=1 directories.
    * RE-ENTRANT: a retry after a crash between the two steps re-packs
    * from the still-present gen-1 and dynamically OVERWRITES the earlier
    * gen=2 partitions (identical content, no duplicates); once the
    * vacuum has run, a further call is a no-op — without the guard a
    * re-run would re-pack the stale shadowed base tail ALONE and replace
    * the good gen=2 rows with it (ShardCompactSpec pins both paths). */
  private[graft] def compactShards(s: SparkSession, dir: String): Unit = {
    if (!hasGen1(dir)) return // already compacted — nothing to merge
    repackDelta(s, dir)
    vacuumDelta(dir)
  }

  private def hasGen1(dir: String): Boolean = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return false
    graft.Fs.list(root)
      .filter(_.getFileName.toString.startsWith("shard="))
      .exists(p => java.nio.file.Files.isDirectory(p.resolve("gen=1")))
  }

  /** Step 1 of [[compactShards]]: land the merged generation. */
  private[graft] def repackDelta(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val all = s.read.parquet(dir)
    // first free defragmented seq_idx per shard = its full-row count
    // (gen-0 full rows are already at final addresses 0..n-1)
    val off = all.filter($"gen" === 0 && $"n_ids" === SeqLen)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).cast("long").as("seq0"))
    // token stream to re-pack, in store order: base tail first (gen 0),
    // then the delta generation; within a row, ids_str position order.
    // The re-pack is the SAME pack rule as the original write
    // ([[packStream]]), just over a different per-shard total order and
    // without per-token doc ids.
    val toks = all
      .filter($"gen" === 1 || ($"gen" === 0 && $"n_ids" < SeqLen))
      .select($"shard".cast("long").as("shard"), $"gen", $"seq_idx",
        posexplode(split($"ids_str", ",")))
      .toDF("shard", "gen", "seq_idx", "p", "tid")
    // Re-entrant landing: gen=2 goes in with DYNAMIC partition overwrite,
    // so a retry after a crash between this write and the vacuum below
    // REPLACES the earlier gen=2 partitions instead of appending duplicate
    // rows (mode(append) was not idempotent). The localCheckpoint breaks
    // the read lineage on `dir` first — an overwrite whose plan still
    // scans the same path is rejected by the analyzer; the checkpointed
    // relation is bounded by |tail + delta| rows.
    packStream(s, toks, Seq("gen", "seq_idx", "p"), Some(off),
      docStats = false)
      .withColumn("gen", lit(2))
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "gen").parquet(dir)
  }

  /** Step 2 of [[compactShards]]: the compacted rows are durable — drop
    * the superseded delta directories (file-level delete; gen-0 files
    * are never touched). */
  private[graft] def vacuumDelta(dir: String): Unit =
    graft.Fs.list(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.startsWith("shard="))
      .foreach(p => graft.Fs.deleteRecursively(p.resolve("gen=1")))

  /** The compacted logical view: untouched full base rows ∪ the
    * re-packed generation; the stale base tail is shadowed by the
    * `n_ids = SeqLen` rule. Written as a UNION of two single-generation
    * reads, not one OR filter — a (partition-col OR data-col) disjunction
    * defeats both partition pruning and parquet pushdown; split, each
    * branch prunes its generation AND pushes its row filter. */
  private[graft] def compactedView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = s.read.parquet(dir)
    all.filter($"gen" === 0 && $"n_ids" === SeqLen)
      .unionAll(all.filter($"gen" === 2))
      .select($"shard".cast("long").as("shard"), $"seq_idx", $"n_ids",
        $"ids_str")
  }

  private val shardCompact = QueryDef(
    "q_shard_compact",
    (s, d) => {
      import s.implicits._
      val dir = compactShardDir(d)
      val ids = taggedIds(s, d).localCheckpoint() // one tokenize pass (r16)
      buildAppendStoreTo(s, d, dir, ids)
      graft.Memo.releaseLocalCheckpoint(ids)
      compactShards(s, dir) // re-packs from the STORE — no tokenize
      compactedView(s, dir).orderBy($"shard", $"seq_idx")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, pos, subpos, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      ord AS (SELECT shard, tid,
          row_number() OVER (PARTITION BY shard
            ORDER BY gen, doc_id, pos, subpos) - 1 AS tok
        FROM t)
      SELECT CAST(shard AS BIGINT) AS shard,
        CAST(tok // $SeqLen AS BIGINT) AS seq_idx,
        CAST(count(*) AS BIGINT) AS n_ids,
        array_to_string(list(CAST(tid AS VARCHAR) ORDER BY tok), ',')
          AS ids_str
      FROM ord GROUP BY 1, 2 ORDER BY shard, seq_idx"""),
    "LSM shard compaction: full base rows retained file-untouched, only " +
      "[base tail + delta generation] re-packed into a new generation, " +
      "delta dirs vacuumed; read view hash-equal to a one-pass global " +
      "defragmented pack of the whole two-generation token stream")

  // ---------------------------------------------------- q_shard_forget
  // Right-to-be-forgotten deletes from the packed store. A deletion
  // request names doc_ids; their tokens sit inside fixed-width packed
  // rows that carry no per-token provenance (by design — fixed-width is
  // the trainer's format), so the deletion unit is the (shard,
  // generation) PARTITION: generation alignment means a doc's tokens
  // live in exactly ONE generation of ONE shard, both derivable from
  // the id alone (layout rule — no store scan to find the blast
  // radius). Each affected generation is re-packed from the surviving
  // source slice and swapped in with DYNAMIC partition overwrite — only
  // partitions present in the rewrite are replaced; every untouched
  // (shard, gen) keeps its files byte-identical (ShardForgetSpec).
  // Gen-1 keeps its ORIGINAL append-time seq offsets (read partition-
  // pruned before gen 0 shrinks): re-addressing after a base delete
  // would force rewriting every later generation of the shard, turning
  // the bounded delete into a full-shard rebuild. Cross-generation seq
  // gaps are legal; rows stay dense WITHIN a generation.
  //
  // Scale shape: blast radius = re-tokenize + re-pack the affected
  // generations only (a daily delete batch touches the generations it
  // names); the manifest offset read is partition-pruned; the affected-
  // pair set is ≤ NShards × generations rows (driver-side by
  // construction). The oracle rebuilds the post-delete layout in one
  // pass: surviving streams packed per (shard, gen) with gen-1 offset
  // from the FULL original base — delete path ≡ rebuild, one hash.

  private[graft] val ForgetMod = 37L
  private[graft] val ForgetRes = 5L

  private[graft] def forgetShardDir(d: String): String =
    graft.Fs.artifactDir("shard_forget", d).toString

  /** As [[packStream]] (docStats = true form), but packing EACH
    * (shard, gen) independently in ONE pass: the window partitions on
    * (shard, gen), `startSeq` is keyed by (shard, gen), and the output
    * keeps `gen`. Per-(shard, gen) content is identical to packRows
    * over that generation alone — the window order and the pack rule
    * never cross a generation boundary, so partitioning the window by
    * (shard, gen) over the union of generations numbers each
    * generation's tokens exactly as the per-generation pass did. */
  private[graft] def packRowsByGen(s: SparkSession, toks: DataFrame,
      startSeq: DataFrame): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard", $"gen")
      .orderBy($"doc_id", $"pos", $"subpos")
    val idxd = toks
      .repartition(graft.Fs.computeWidth(s), $"shard", $"gen") // as packStream
      .withColumn("tok_idx", row_number().over(w).cast("long") - 1L)
      .withColumn("seq_in_gen", expr(s"tok_idx div $SeqLen"))
      .withColumn("pos_in_seq", pmod($"tok_idx", lit(SeqLen.toLong)))
    idxd.join(broadcast(startSeq), Seq("shard", "gen"), "left")
      .withColumn("seq_idx", $"seq_in_gen" + coalesce($"seq0", lit(0L)))
      .groupBy($"shard", $"gen", $"seq_idx")
      .agg(count(lit(1)).cast("long").as("n_ids"),
        array_join(
          transform(array_sort(collect_list(struct($"pos_in_seq", $"tid"))),
            x => x.getField("tid").cast("string")), ",").as("ids_str"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  /** The ONE forget-rewrite engine for generation-aligned packed
    * stores, shared by the batch store ([[forgetDocs]]) and the
    * stream-built store (StreamingOps.forgetStreamStore) — the r14
    * verdict's point that duplicated layout plumbing breeds the
    * vacuous-split bug class applies to the rewrite loop too.
    *
    * `affected` is the (shard, gen) partition set the delete touches
    * (derived by the caller from its layout rule — bounded, never a
    * store scan); `survivingIds(pairs)` returns the surviving token
    * stream restricted to those pairs, as a (doc_id, pos, subpos, tid,
    * shard, gen) relation. ALL affected generations re-pack in ONE
    * pass (r16 optimization — the per-generation loop paid the whole
    * tokenize → window → write chain once per generation, and its
    * post-write survivor collect silently re-ran the same pipeline a
    * second time per generation; the pack is now localCheckpointed
    * once, written once with DYNAMIC partition overwrite, and the
    * survivor set read from the checkpoint). Seq offsets stay FROZEN
    * at their original pre-delete values — each generation's own min
    * seq_idx, which IS its frozen start regardless of what happened to
    * the generations below it (on a compacted store the predecessors
    * were vacuumed into a merge, so "1 + max of earlier generations"
    * no longer reconstructs it) — snapshotted DRIVER-SIDE before the
    * rewrite (cache() is NOT a snapshot: block eviction would
    * recompute from the already-shrunk store and mis-address later
    * generations); a partition whose every doc was deleted is dropped
    * at the directory level (dynamic overwrite leaves zero-row
    * partitions' stale files behind). */
  private[graft] def forgetRewrite(s: SparkSession, dir: String,
      affected: Seq[(Long, Long)],
      survivingIds: Seq[(Long, Long)] => DataFrame): Unit = {
    import s.implicits._
    if (affected.isEmpty) return
    // pre-delete (shard, gen) → min seq_idx snapshot (the frozen
    // generation starts); bounded: NShards × generations rows
    val minSeq = s.read.parquet(dir)
      .groupBy($"shard".cast("long").as("shard"),
        $"gen".cast("long").as("gen"))
      .agg(min($"seq_idx").as("mn"))
      .as[(Long, Long, Long)].collect().toSeq
    // gen 0 packs from 0 (its frozen min IS 0); later generations from
    // their snapshotted pre-delete min — exactly the per-generation
    // loop's None / Some(minSeq) split, keyed by (shard, gen)
    val offRows = minSeq.map { case (sh, g, mn) =>
      (sh, g, if (g == 0L) 0L else mn) }
    val off = s.createDataset(offRows).toDF("shard", "gen", "seq0")
    val packed = packRowsByGen(s, survivingIds(affected), off)
      .localCheckpoint()
    packed.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "gen").parquet(dir)
    // bounded collect from the checkpoint: ≤ affected-pair count
    val survivors = packed
      .select($"shard", $"gen").distinct()
      .as[(Long, Long)].collect().toSet
    affected.filterNot(survivors).foreach { case (sh, g) =>
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir)
        .resolve(s"shard=$sh").resolve(s"gen=$g"))
    }
  }

  /** Delete every doc matching `deletePred` (default: the declared
    * fixture rule doc_id % [[ForgetMod]] == [[ForgetRes]]) from the
    * two-generation store at `dir`, rewriting only the affected
    * (shard, gen) partitions — the blast radius is exactly the partition
    * set the delete set touches. */
  private[graft] def forgetDocs(s: SparkSession, d: String, dir: String,
      deletePred: org.apache.spark.sql.Column =
        col("doc_id") % ForgetMod === ForgetRes,
      ids: Option[DataFrame] = None): Unit = {
    import s.implicits._
    // bounded collect: ≤ NShards × 2 rows regardless of corpus size —
    // the blast radius comes from the layout rule, never a store scan
    val affected = graft.Tables.documents(s, d)
      .filter(deletePred)
      .select(GenerationLayout.shardOf($"doc_id").as("shard"),
        GenerationLayout.ShardStore.genOf($"doc_id").as("gen"))
      .distinct()
      .as[(Long, Long)].collect().toSeq
    // packed rows carry no doc membership, so survivors must be
    // re-derived from the source — which still contains every doc an
    // EARLIER forget removed. The store's tombstone log closes that
    // works-once hole (r16): record-first (idempotent; a crashed
    // delete is completed by its retry), then anti-join the log into
    // every survivor derivation so repeated forgets compose.
    Tombstones.record(s, dir,
      graft.Tables.documents(s, d).filter(deletePred).select($"doc_id"))
    // ONE tokenize pass over the union of affected generations (the
    // per-generation form re-ran the whole subword pipeline per gen);
    // callers that just built the store hand in their materialized
    // taggedIds checkpoint so the survivor stream is a FILTER of it,
    // not a third tokenize of the corpus (r16)
    forgetRewrite(s, dir, affected, pairs =>
      Tombstones.without(s, dir,
        ids.getOrElse(taggedIds(s, d))
          .filter(pairs.groupBy(_._2).map { case (g, ps) =>
            col("gen") === g && col("shard").isin(ps.map(_._1): _*)
          }.reduce(_ || _))))
  }

  private val shardForget = QueryDef(
    "q_shard_forget",
    (s, d) => {
      import s.implicits._
      val dir = forgetShardDir(d)
      val ids = taggedIds(s, d).localCheckpoint() // one tokenize pass (r16)
      buildAppendStoreTo(s, d, dir, ids)
      forgetDocs(s, d, dir, ids = Some(ids))
      graft.Memo.releaseLocalCheckpoint(ids)
      s.read.parquet(dir)
        .select($"shard".cast("long").as("shard"),
          $"gen".cast("long").as("gen"),
          $"seq_idx", $"n_ids", $"n_docs", $"first_doc", $"last_doc",
          $"ids_str")
        .orderBy($"shard", $"gen", $"seq_idx")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, pos, subpos, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      basecnt AS (SELECT shard, count(*) AS nb FROM t WHERE gen = 0
        GROUP BY 1),
      surv AS (SELECT * FROM t
        WHERE NOT doc_id % $ForgetMod = $ForgetRes),
      ord AS (SELECT shard, gen, doc_id, tid,
          row_number() OVER (PARTITION BY shard, gen
            ORDER BY doc_id, pos, subpos) - 1 AS tok
        FROM surv),
      sq AS (SELECT o.shard, o.gen, o.doc_id, o.tid, o.tok,
          CASE WHEN o.gen = 0 THEN o.tok // $SeqLen
               ELSE COALESCE(b.nbseq, 0) + o.tok // $SeqLen END AS seq_idx
        FROM ord o LEFT JOIN (SELECT shard,
            (nb + ${SeqLen - 1}) // $SeqLen AS nbseq FROM basecnt) b
          ON o.gen = 1 AND o.shard = b.shard)
      SELECT CAST(shard AS BIGINT) AS shard, CAST(gen AS BIGINT) AS gen,
        CAST(seq_idx AS BIGINT) AS seq_idx,
        CAST(count(*) AS BIGINT) AS n_ids,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        array_to_string(list(CAST(tid AS VARCHAR) ORDER BY tok), ',')
          AS ids_str
      FROM sq GROUP BY 1, 2, 3 ORDER BY shard, gen, seq_idx"""),
    "Right-to-be-forgotten delete from the packed shard store: affected " +
      "(shard, generation) partitions re-packed from the surviving " +
      "source slice and swapped via dynamic partition overwrite, gen-1 " +
      "seq offsets preserved; read-back hash-equal to the oracle's " +
      "one-pass post-delete rebuild")

  // --------------------------------------------------- q_shard_lineage
  // The inverse index of the packed store — q_shard_forget's "find"
  // companion: for every doc, the (shard, gen, seq) row range holding
  // its tokens. Packed rows carry no per-token provenance, but the
  // layout is a pure function of the layout rule, so lineage needs NO
  // store scan: doc → (shard, gen) by the id rule; the doc's token
  // start address = its generation's per-shard prefix sum of doc token
  // counts (one partitioned window over doc-grain rows, corpus/NShards
  // each), gen-1 offset by the base row boundary; row range = integer
  // division of [start, start + n_tok). A compliance audit ("which
  // training rows did doc X land in") runs this against the manifest
  // without touching shard bytes; ShardLineageSpec cross-checks the
  // ranges against the ACTUAL q_shard_append store.
  /** Shared lineage frame over the APPEND-store layout rule: per-doc
    * (shard, gen, n_tok, gstart, first_row, last_row), gstart = the
    * per-(shard, gen) prefix sum of doc token counts, gen-1 offset by
    * the ORIGINAL base row boundary. `survPred` restricts the prefix sum
    * to the docs that remain after a delete (the post-forget layout:
    * affected partitions re-packed over survivors, gen-1 offsets frozen
    * at their append-time values) — None is the pristine store. */
  private[graft] def lineageFrame(s: SparkSession, d: String,
      survPred: Option[org.apache.spark.sql.Column]): DataFrame = {
    import s.implicits._
    val t = BpeOps.subwordIdRows(s, d)
      .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
      .withColumn("gen", GenerationLayout.ShardStore.genOf($"doc_id"))
    // gen-1 offsets come from the FULL original base — q_shard_forget
    // deliberately never re-addresses later generations
    val nbRows = t.filter($"gen" === 0L)
      .groupBy($"shard").agg(count(lit(1)).as("nb"))
      .select($"shard", expr(s"(nb + ${SeqLen - 1}) div $SeqLen").as("nbseq"))
    val perDoc = survPred.fold(t)(t.filter)
      .groupBy($"shard", $"gen", $"doc_id")
      .agg(count(lit(1)).cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard", $"gen").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perDoc
      .withColumn("start_in_gen",
        coalesce(sum($"n_tok").over(w), lit(0L)))
      .join(broadcast(nbRows), Seq("shard"), "left")
      .withColumn("gstart", when($"gen" === 1L,
        coalesce($"nbseq", lit(0L)) * SeqLen).otherwise(0L)
        + $"start_in_gen")
      .select($"doc_id", $"shard", $"gen", $"n_tok", $"gstart",
        expr(s"gstart div $SeqLen").as("first_row"),
        expr(s"(gstart + n_tok - 1) div $SeqLen").as("last_row"))
  }

  private val shardLineage = QueryDef(
    "q_shard_lineage",
    (s, d) => {
      import s.implicits._
      lineageFrame(s, d, None)
        .select($"doc_id", $"shard", $"gen", $"n_tok",
          $"first_row", $"last_row")
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      dc AS (SELECT shard, gen, doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM t GROUP BY 1, 2, 3),
      pre AS (SELECT shard, gen, doc_id, n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY shard, gen ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sg
        FROM dc),
      basecnt AS (SELECT shard, count(*) AS nb FROM t WHERE gen = 0
        GROUP BY 1),
      fin AS (SELECT p.doc_id, p.shard, p.gen, p.n_tok,
          CASE WHEN p.gen = 1
            THEN ((b.nb + ${SeqLen - 1}) // $SeqLen) * $SeqLen
            ELSE 0 END + p.sg AS gstart
        FROM pre p LEFT JOIN basecnt b
          ON p.gen = 1 AND p.shard = b.shard)
      SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        CAST(gen AS BIGINT) AS gen, n_tok,
        CAST(gstart // $SeqLen AS BIGINT) AS first_row,
        CAST((gstart + n_tok - 1) // $SeqLen AS BIGINT) AS last_row
      FROM fin ORDER BY doc_id"""),
    "Doc -> packed-row lineage: each doc's (shard, gen, seq) row range " +
      "derived from the layout rule alone (prefix-sum window per " +
      "generation, no store scan); spec cross-checks the ranges against " +
      "the real store")

  // ------------------------- q_shard_lineage_compact (r14, VERDICT r13
  // task 2). Lineage must survive the store lifecycle: the compliance
  // question ("which training rows hold doc X") arrives precisely AFTER
  // a compact re-addressed the tail. Post-compact the shard's address
  // space is UNIFIED (full gen-0 rows keep addresses 0..nbfull−1; the
  // re-pack continues from nbfull over [base tail ∪ delta] in store
  // order), so a doc's global token start = the per-shard prefix sum
  // over (gen, doc_id) order — base docs keep their original positions,
  // delta docs continue after the whole base stream. first/last_gen
  // name the PHYSICAL generation holding the row (a base doc whose span
  // crosses the full-row boundary straddles gen 0 and gen 2 — the case
  // naive per-generation lineage gets wrong). Still zero store scans;
  // ShardLineageSpec cross-checks token-by-token against the actual
  // post-compact store.
  private[graft] def compactLineage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = BpeOps.subwordIdRows(s, d)
      .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
      .withColumn("gen", GenerationLayout.ShardStore.genOf($"doc_id"))
    val perDoc = t.groupBy($"shard", $"gen", $"doc_id")
      .agg(count(lit(1)).cast("long").as("n_tok"))
    // ONE prefix sum across the unified (gen, doc_id) order per shard
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"gen", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val nbFull = t.filter($"gen" === 0L)
      .groupBy($"shard").agg(count(lit(1)).as("nb"))
      .select($"shard", expr(s"nb div $SeqLen").as("nbfull"))
    perDoc
      .withColumn("gstart", coalesce(sum($"n_tok").over(w), lit(0L)))
      .join(broadcast(nbFull), Seq("shard"), "left")
      .withColumn("first_row", expr(s"gstart div $SeqLen"))
      .withColumn("last_row", expr(s"(gstart + n_tok - 1) div $SeqLen"))
      .select($"doc_id", $"shard", $"n_tok", $"gstart",
        $"first_row", $"last_row",
        when($"first_row" < coalesce($"nbfull", lit(0L)), 0L).otherwise(2L)
          .as("first_gen"),
        when($"last_row" < coalesce($"nbfull", lit(0L)), 0L).otherwise(2L)
          .as("last_gen"))
  }

  private val shardLineageCompact = QueryDef(
    "q_shard_lineage_compact",
    (s, d) => {
      import s.implicits._
      compactLineage(s, d).orderBy($"doc_id")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      dc AS (SELECT shard, gen, doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM t GROUP BY 1, 2, 3),
      pre AS (SELECT shard, gen, doc_id, n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY gen, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gstart
        FROM dc),
      basecnt AS (SELECT shard, count(*) AS nb FROM t WHERE gen = 0
        GROUP BY 1),
      fin AS (SELECT p.doc_id, p.shard, p.n_tok, p.gstart,
          p.gstart // $SeqLen AS first_row,
          (p.gstart + p.n_tok - 1) // $SeqLen AS last_row,
          COALESCE(b.nb // $SeqLen, 0) AS nbfull
        FROM pre p LEFT JOIN basecnt b ON p.shard = b.shard)
      SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
        CAST(gstart AS BIGINT) AS gstart,
        CAST(first_row AS BIGINT) AS first_row,
        CAST(last_row AS BIGINT) AS last_row,
        CAST(CASE WHEN first_row < nbfull THEN 0 ELSE 2 END AS BIGINT)
          AS first_gen,
        CAST(CASE WHEN last_row < nbfull THEN 0 ELSE 2 END AS BIGINT)
          AS last_gen
      FROM fin ORDER BY doc_id"""),
    "Doc -> packed-row lineage over the POST-COMPACT unified address " +
      "space: one prefix sum per shard across (gen, doc_id) order, " +
      "physical generation of each end derived from the full-row " +
      "boundary (straddles included); spec cross-checks token-by-token " +
      "against the real compacted store")

  // -------------------------- q_shard_lineage_forget (r14, same task).
  // Lineage AFTER a right-to-be-forgotten pass — the audit that runs
  // exactly then ("prove doc X is gone; where do the survivors live
  // now"). The post-forget layout rule: survivors re-packed densely per
  // (shard, gen) in doc order, gen-1 offsets FROZEN at append-time
  // values (derived from the full pre-delete base — re-addressing would
  // rewrite every later generation). Unaffected partitions obey the same
  // rule trivially (their survivor stream IS their original stream), so
  // one rule covers the whole store. Survivor set is the declared
  // ForgetMod fixture rule; zero store scans.
  private val shardLineageForget = QueryDef(
    "q_shard_lineage_forget",
    (s, d) => {
      import s.implicits._
      lineageFrame(s, d, Some(col("doc_id") % ForgetMod =!= ForgetRes))
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      basecnt AS (SELECT shard, count(*) AS nb FROM t WHERE gen = 0
        GROUP BY 1),
      dc AS (SELECT shard, gen, doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM t WHERE NOT doc_id % $ForgetMod = $ForgetRes GROUP BY 1, 2, 3),
      pre AS (SELECT shard, gen, doc_id, n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY shard, gen ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sg
        FROM dc),
      fin AS (SELECT p.doc_id, p.shard, p.gen, p.n_tok,
          CASE WHEN p.gen = 1
            THEN ((b.nb + ${SeqLen - 1}) // $SeqLen) * $SeqLen
            ELSE 0 END + p.sg AS gstart
        FROM pre p LEFT JOIN basecnt b
          ON p.gen = 1 AND p.shard = b.shard)
      SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        CAST(gen AS BIGINT) AS gen, n_tok,
        CAST(gstart AS BIGINT) AS gstart,
        CAST(gstart // $SeqLen AS BIGINT) AS first_row,
        CAST((gstart + n_tok - 1) // $SeqLen AS BIGINT) AS last_row
      FROM fin ORDER BY doc_id"""),
    "Doc -> packed-row lineage over the POST-FORGET layout: survivor " +
      "prefix sums per (shard, gen) with gen-1 offsets frozen at " +
      "append-time values; spec cross-checks token-by-token against the " +
      "real post-delete store")

  // ------------------------------ q_shard_asof (r15, VERDICT r14 #6)
  // Store time travel — the compliance complement of lineage: lineage
  // answers "where is doc X", as-of answers "what WAS the training set
  // when model M trained", and it matters precisely because the
  // lifecycle DESTROYS old views (append extends, forget rewrites in
  // place). The store needs no retained snapshots to answer it: the
  // layout is a pure function of the layout rule at every lifecycle
  // event, so the as-of manifest — every (shard, gen, seq_idx, n_ids)
  // row the store held at event N — derives from per-(shard, gen)
  // token counts alone. Three events over the append-store lifecycle:
  //   0  base written            gen-0 counts, packed from seq 0
  //   1  delta appended          + gen-1 counts at the frozen base
  //                              row boundary (generation alignment)
  //   2  fixture-rule forgotten  survivor counts per generation,
  //                              gen-1 offsets STILL at the original
  //                              (pre-delete) base boundary — the
  //                              q_shard_forget frozen-offset rule; a
  //                              fully-emptied (shard, gen) has no rows
  // Zero store scans, zero retained copies: the heavy input is the
  // doc-grain token-count aggregate (one corpus-sized shuffle), and
  // each event's rows are a per-(shard, gen) integer-division fan-out.
  // ShardAsOfSpec builds the REAL store through the same lifecycle and
  // cross-checks the manifest row-for-row at every event.
  /** The ONE as-of manifest engine, shared by the batch store and the
    * stream-built store: given a token-grain (doc_id, shard, gen)
    * relation `t` and the delete predicate, emit the (shard, gen,
    * seq_idx, n_ids) manifest at the lifecycle events — 0 = base
    * written (gen 0 only), 1 = every generation appended, 2 = the
    * delete applied (survivor counts, later-generation offsets FROZEN
    * at the pre-delete gen-0 row boundary — the forget rule), and,
    * when `compactBase` is set (the stream store's merge-generation
    * base), 3 = the forgotten store COMPACTED: per shard the survivor
    * gen-0 FULL rows stay at [0, s0 div SeqLen) and every other
    * surviving token lives in ONE merge generation at base + (global
    * max surviving gen), packed from that boundary — the whole point
    * of as-of across the compaction boundary: the manifest keeps
    * answering for batch generations that were PHYSICALLY VACUUMED.
    * Pure layout arithmetic: per-(shard, gen) counts +
    * integer-division fan-outs; no store scan, no retained
    * snapshot. */
  private[graft] def asOfManifestFrom(s: SparkSession, t: DataFrame,
      deletePred: org.apache.spark.sql.Column,
      compactBase: Option[Long] = None): DataFrame = {
    import s.implicits._
    // both count relations are NShards×gens-row aggregates —
    // checkpointed so the event branches don't re-run the corpus shuffle
    val fullc = t.groupBy($"shard", $"gen")
      .agg(count(lit(1)).cast("long").as("n")).localCheckpoint()
    val survc = t.filter(!deletePred)
      .groupBy($"shard", $"gen")
      .agg(count(lit(1)).cast("long").as("n")).localCheckpoint()
    // each generation's start = the prefix sum of EARLIER generations'
    // row boundaries, from the FULL (pre-delete) counts — exactly the
    // append rule (pack from the previous boundary) and the forget
    // rule (offsets frozen at pre-delete values). Generalizes past two
    // generations, unlike a gen-0-boundary special case.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"gen")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = fullc
      .withColumn("gr", expr(s"(n + ${SeqLen - 1}) div $SeqLen"))
      .withColumn("off", coalesce(sum($"gr").over(w), lit(0L)))
      .select($"shard", $"gen", $"off")
    def rowsOf(counts: DataFrame, event: Long): DataFrame =
      counts.join(broadcast(offs), Seq("shard", "gen"), "left")
        .select(lit(event).as("asof_event"), $"shard", $"gen",
          coalesce($"off", lit(0L)).as("off"), $"n")
    val events = rowsOf(fullc.filter($"gen" === 0L), 0L)
      .unionAll(rowsOf(fullc, 1L))
      .unionAll(rowsOf(survc, 2L))
    compactBase.fold(events) { cb =>
      val sv = survc.groupBy($"shard").agg(sum($"n").as("st"),
        sum(when($"gen" === 0L, $"n").otherwise(0L)).as("s0"))
      // the merge target is GLOBAL (one gen value across shards):
      // base + the largest generation surviving the delete
      val mg = survc.agg(max($"gen").as("mg"))
      val full0 = sv
        .select(lit(3L).as("asof_event"), $"shard", lit(0L).as("gen"),
          lit(0L).as("off"),
          (expr(s"s0 div $SeqLen") * SeqLen).as("n"))
        .filter($"n" > 0L)
      val merged = sv.crossJoin(broadcast(mg))
        .select(lit(3L).as("asof_event"), $"shard",
          ($"mg" + cb).as("gen"), expr(s"s0 div $SeqLen").as("off"),
          ($"st" - expr(s"s0 div $SeqLen") * SeqLen).as("n"))
        .filter($"n" > 0L)
      events.unionAll(full0).unionAll(merged)
    }
      .withColumn("nrows", expr(s"(n + ${SeqLen - 1}) div $SeqLen"))
      .select($"asof_event", $"shard", $"gen", $"off", $"n", $"nrows",
        explode(sequence(lit(0L), $"nrows" - 1L)).as("i"))
      .select($"asof_event", $"shard", $"gen",
        ($"off" + $"i").as("seq_idx"),
        when($"i" === $"nrows" - 1L, $"n" - $"i" * SeqLen)
          .otherwise(SeqLen.toLong).as("n_ids"))
  }

  private[graft] def asOfManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = BpeOps.subwordIdRows(s, d)
      .withColumn("shard", GenerationLayout.shardOf($"doc_id"))
      .withColumn("gen", GenerationLayout.ShardStore.genOf($"doc_id"))
    asOfManifestFrom(s, t, col("doc_id") % ForgetMod === ForgetRes)
  }

  private val shardAsOf = QueryDef(
    "q_shard_asof",
    (s, d) => {
      import s.implicits._
      asOfManifest(s, d)
        .orderBy($"asof_event", $"shard", $"gen", $"seq_idx")
    },
    Some(s"""WITH ${BpeOps.subwordIdCtes},
      t AS (SELECT doc_id, tid, doc_id % $NShards AS shard,
          CASE WHEN doc_id % ${BpeOps.HoldoutMod} = 0 THEN 1 ELSE 0 END AS gen
        FROM ids),
      fullc AS (SELECT shard, gen, CAST(count(*) AS BIGINT) AS n
        FROM t GROUP BY 1, 2),
      survc AS (SELECT shard, gen, CAST(count(*) AS BIGINT) AS n
        FROM t WHERE NOT doc_id % $ForgetMod = $ForgetRes GROUP BY 1, 2),
      nb AS (SELECT shard, (n + ${SeqLen - 1}) // $SeqLen AS nbseq
        FROM fullc WHERE gen = 0),
      ev AS (
        SELECT 0 AS asof_event, shard, gen, 0 AS off, n
        FROM fullc WHERE gen = 0
        UNION ALL
        SELECT 1, f.shard, f.gen,
          CASE WHEN f.gen = 1 THEN COALESCE(b.nbseq, 0) ELSE 0 END, f.n
        FROM fullc f LEFT JOIN nb b ON f.gen = 1 AND f.shard = b.shard
        UNION ALL
        SELECT 2, f.shard, f.gen,
          CASE WHEN f.gen = 1 THEN COALESCE(b.nbseq, 0) ELSE 0 END, f.n
        FROM survc f LEFT JOIN nb b ON f.gen = 1 AND f.shard = b.shard),
      rws AS (SELECT asof_event, shard, gen, off, n,
          unnest(range(0, (n + ${SeqLen - 1}) // $SeqLen)) AS i
        FROM ev)
      SELECT CAST(asof_event AS BIGINT) AS asof_event,
        CAST(shard AS BIGINT) AS shard, CAST(gen AS BIGINT) AS gen,
        CAST(off + i AS BIGINT) AS seq_idx,
        CAST(CASE WHEN i = (n + ${SeqLen - 1}) // $SeqLen - 1
          THEN n - i * $SeqLen ELSE $SeqLen END AS BIGINT) AS n_ids
      FROM rws ORDER BY asof_event, shard, gen, seq_idx"""),
    "Shard-store time travel: the (shard, gen, seq_idx, n_ids) manifest " +
      "at each lifecycle event (base written / delta appended / " +
      "fixture-rule forgotten) derived from the layout rule alone — no " +
      "store scan, no retained snapshot; gen-1 offsets frozen at the " +
      "original base boundary; spec cross-checks the real store at " +
      "every event")

  override def defs: Seq[QueryDef] =
    Seq(shardWrite, shardAppend, shardCompact, shardForget, shardLineage,
      shardLineageCompact, shardLineageForget, shardAsOf)
}
