package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's API payload shape — the O1
  * HTTP JSON source (reference: src/mining/utils/extract.py:6-20) recast
  * as a first-class Spark source over a directory of payload files (the
  * HTTP hop is environment, not semantics; in production the same parse
  * sits behind a streaming source).
  *
  * Each file holds one JSON payload in either of the two reference shapes
  * (FIXTURES.md §A.1; tests/test_transform.py:8-14,30-36):
  *   {"spider_ts": ..., "price_data": {"USD": ..., "time": ...}}
  *   {"spider_ts": ..., "hash_rate_data": {"currentHashrate": ...,
  *                                         "currentDifficulty": ...}}
  * and maps to one unified typed row; the O3/O4 projection downstream
  * selects per-kind columns. Malformed payloads yield a row with
  * kind='error' rather than failing the scan (the reference logs and
  * returns None, extract.py:14-19).
  *
  * Batch:  spark.read.format("graft.sources.PayloadJsonSource")
  *           .option("path", dir).load()
  * Stream: spark.readStream.format(...).option("path", dir)
  *           .option("maxFilesPerTrigger", n).load()
  * The streaming form is the reference's continuous poll loop (O1/O2,
  * main.py:79-98) as a real MicroBatchStream: each trigger discovers
  * newly-landed payload files and admits at most maxFilesPerTrigger of
  * them — the rate limit standing in for the reference's sleep cadence.
  *
  * Scale: a scan splits its sorted file list into contiguous input
  * partitions, one per core — the leaf-node parallelism Spark's own file
  * sources use (spark.sql.leafNodeDefaultParallelism, else the context's
  * defaultParallelism) — and more only when a partition would exceed
  * MaxFilesPerSplit files. Each partition parses independently (no driver
  * I/O beyond listing), and a downstream write produces one file per
  * partition. A loaded table lists its directory once, lazily, and every
  * batch scan planned from it reuses that listing, so all frames derived
  * from one load see one file set (as spark.read.parquet freezes its file
  * index). Streaming offsets are
  * positions in the discovery order, so a batch replays identically from
  * its (start, end] offsets.
  */
class PayloadJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PayloadJsonSource.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new PayloadTable(new CaseInsensitiveStringMap(properties).get("path"))
}

object PayloadJsonSource {
  val schema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("spider_ts", LongType),
    StructField("usd", LongType),
    StructField("server_ts", LongType),
    StructField("hashrate", LongType),
    StructField("difficulty", LongType)))

  /** Most files one input partition reads. Bounds the task descriptor
    * and what a retried task re-reads on a very large zone; below
    * parallelism * MaxFilesPerSplit files the core count alone sets the
    * split. */
  private val MaxFilesPerSplit = 4096

  /** Splits a sorted file list evenly into contiguous input partitions,
    * in listing order with sizes differing by at most one:
    * min(files, max(parallelism, ceil(files / MaxFilesPerSplit))) of them,
    * where parallelism is the active session's leaf-node default, as
    * Spark's file sources size their scans. */
  private[sources] def split(files: Array[String]): Array[InputPartition] = {
    val spark = SparkSession.active
    val parallelism = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val n = math.min(files.length,
      math.max(parallelism, (files.length + MaxFilesPerSplit - 1) / MaxFilesPerSplit))
    Array.tabulate[InputPartition](n) { i =>
      PayloadPartition(files.slice(
        (i.toLong * files.length / n).toInt, ((i + 1).toLong * files.length / n).toInt))
    }
  }

  /** Sorted listing of payload files under `path` (empty if absent). */
  private[sources] def listFiles(path: String): Array[String] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) Array.empty[String]
    else Files.list(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".json"))
      .map(_.toString).toArray.sorted
  }

  private[sources] def readerFactory: PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PayloadReader(p.asInstanceOf[PayloadPartition].files)
    }
}

private class PayloadTable(val path: String)
    extends Table with SupportsRead {
  require(path != null, "PayloadJsonSource requires option 'path'")

  /** The listing every batch scan of this table plans against, taken at
    * the first one. */
  lazy val files: Array[String] = PayloadJsonSource.listFiles(path)

  override def name(): String = s"payload_json($path)"
  override def schema(): StructType = PayloadJsonSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new PayloadScan(PayloadTable.this,
        Option(options.get("maxFilesPerTrigger")).map(_.toInt))
    }
}

private class PayloadScan(table: PayloadTable, maxFilesPerTrigger: Option[Int])
    extends Scan with Batch {
  override def readSchema(): StructType = PayloadJsonSource.schema
  override def toBatch: Batch = this
  override def description(): String = s"PayloadJsonScan ${table.path}"

  override def planInputPartitions(): Array[InputPartition] =
    PayloadJsonSource.split(table.files)

  override def createReaderFactory(): PartitionReaderFactory =
    PayloadJsonSource.readerFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PayloadMicroBatchStream(table.path, maxFilesPerTrigger)
}

/** Offset = number of files admitted so far (position in discovery order)
  * PLUS the name of the last admitted file. The count drives range
  * planning; the name makes a restored offset SELF-VERIFYING: after a
  * restart, discovery order is rebuilt from a sorted listing, and if a
  * late file sorted itself below an already-committed name the index→file
  * mapping would silently shift — the recorded boundary name catches
  * exactly that (Spark's FileStreamSource solves the same problem by
  * persisting its full name→batch map in the source log; the boundary
  * name is the O(1) version for a sorted landing zone). */
private case class PayloadOffset(n: Long, last: String) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper
    val node = m.createObjectNode()
    node.put("n", n)
    if (last != null) node.put("last", last)
    m.writeValueAsString(node)
  }
}

private object PayloadOffset {
  def parse(json: String): PayloadOffset = {
    val root = new ObjectMapper().readTree(json)
    // migration: pre-{n,last} checkpoints serialized a bare file count —
    // accept it as an unverifiable boundary (no name to cross-check)
    // rather than NPE-ing on a valid old offset log (ADVICE r4)
    if (root.isNumber) PayloadOffset(root.asLong, null)
    else if (root.hasNonNull("n"))
      PayloadOffset(root.get("n").asLong,
        if (root.hasNonNull("last")) root.get("last").asText else null)
    else throw new IllegalStateException(
      s"PayloadJsonSource: unrecognized checkpoint offset format: $json")
  }
}

/** Micro-batch form of the payload scan. The driver keeps the discovery
  * order of files it has seen (new listings append in sorted order, the
  * way a landing zone fills); an offset is a count into that sequence, so
  * planInputPartitions(start, end) is an exact, replayable file range.
  *
  * Rate limiting goes through SupportsAdmissionControl — the engine hands
  * latestOffset the CURRENT start offset (the restored checkpoint offset
  * after a restart), so admission resumes from wherever the offset log
  * says, never from this object's own memory. A plain latestOffset() that
  * tracked its own progress would restart at 0 after recovery, hand the
  * engine an end offset below the committed start, and re-admit files —
  * exactly the duplicate-delivery bug checkpointing exists to prevent
  * (spec: "payload stream restart resumes from the checkpoint"). */
private class PayloadMicroBatchStream(path: String, maxPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  // discovery order: file names in the order first seen (sorted listings,
  // so within one instance this IS name order for a well-behaved zone)
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private val known = scala.collection.mutable.HashSet.empty[String]

  // Out-of-order arrival WITHIN this instance's lifetime: a new file
  // sorting below an already-discovered one would make the post-restart
  // rebuild (fresh sorted listing) disagree with the live discovery
  // order. Fail loudly at discovery instead of letting a later restart
  // duplicate/lose data.
  private def discover(): Long = synchronized {
    PayloadJsonSource.listFiles(path).foreach { f =>
      if (!known.contains(f)) {
        if (names.nonEmpty && f.compareTo(names.last) < 0)
          throw new IllegalStateException(
            s"PayloadJsonSource: out-of-order landing: '$f' sorts before " +
              s"already-discovered '${names.last}'. Offsets index the " +
              "sorted landing order; land files with monotonically " +
              "increasing names.")
        known += f
        names += f
      }
    }
    names.length.toLong
  }

  /** A restored/committed offset must still denote the same file: the
    * boundary name recorded in the offset has to sit at index n-1 of the
    * CURRENT discovery order. Catches the restart remap (late file landed
    * while the stream was down, sorting below a committed name). */
  private def validate(o: PayloadOffset): Unit =
    if (o.n > 0 && o.last != null) {
      val idx = o.n.toInt - 1
      val actual = if (idx < names.length) names(idx) else null
      if (actual != o.last)
        throw new IllegalStateException(
          s"PayloadJsonSource: offset ${o.n} was committed at file " +
            s"'${o.last}' but now maps to '$actual' — a file landed out " +
            "of sorted order across a restart; replaying would " +
            "duplicate/lose data. Land files with monotonically " +
            "increasing names.")
    }

  private def offsetAt(n: Long): PayloadOffset =
    PayloadOffset(n, if (n > 0) names(n.toInt - 1) else null)

  override def initialOffset(): Offset = PayloadOffset(0L, null)

  override def getDefaultReadLimit: ReadLimit = maxPerTrigger match {
    case Some(m) => ReadLimit.maxFiles(m)
    case None => ReadLimit.allAvailable()
  }

  // legacy no-arg form: only called when SupportsAdmissionControl is NOT
  // consulted; report everything discovered
  override def latestOffset(): Offset = synchronized {
    offsetAt(discover())
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    synchronized {
      val available = discover()
      val so = start.asInstanceOf[PayloadOffset]
      validate(so) // restored checkpoint offset must still match its file
      val end = limit match {
        case mf: ReadMaxFiles => math.min(available, so.n + mf.maxFiles())
        case _ => available
      }
      offsetAt(math.max(so.n, end))
    }

  override def deserializeOffset(json: String): Offset =
    PayloadOffset.parse(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val so = start.asInstanceOf[PayloadOffset]
    val eo = end.asInstanceOf[PayloadOffset]
    // latestOffset has just listed the zone; only a batch replayed after a
    // restart ends beyond the names this instance knows
    if (eo.n > names.length) discover()
    validate(so)
    validate(eo) // a replayed batch must map to the files it committed
    PayloadJsonSource.split(names.slice(so.n.toInt, eo.n.toInt).toArray)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PayloadJsonSource.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] case class PayloadPartition(files: Array[String]) extends InputPartition

private class PayloadReader(files: Array[String])
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper
  private var i = -1
  private var row: InternalRow = _

  private def optLong(n: JsonNode, field: String): Any =
    if (n != null && n.hasNonNull(field)) java.lang.Long.valueOf(n.get(field).asLong)
    else null

  private def parse(p: Path): InternalRow = {
    try {
      val root = mapper.readTree(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      val spider = optLong(root, "spider_ts")
      val price = root.get("price_data")
      val hash = root.get("hash_rate_data")
      if (price != null)
        InternalRow(UTF8String.fromString("price"), spider,
          optLong(price, "USD"), optLong(price, "time"), null, null)
      else if (hash != null)
        InternalRow(UTF8String.fromString("hashrate"), spider,
          null, spider, // reference: hashrate server_ts := spider_ts (transform.py:25)
          optLong(hash, "currentHashrate"), optLong(hash, "currentDifficulty"))
      else InternalRow(UTF8String.fromString("error"), spider, null, null, null, null)
    } catch {
      case _: Exception =>
        InternalRow(UTF8String.fromString("error"), null, null, null, null, null)
    }
  }

  override def next(): Boolean = {
    i += 1
    if (i >= files.length) false
    else { row = parse(Paths.get(files(i))); true }
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
