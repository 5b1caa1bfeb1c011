package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a native [[TypedImperativeAggregate]]: each
  * aggregation buffer is a k-element binary heap of (score, id) pairs, so a
  * grouped top-k runs as partial+final aggregation — every input partition
  * reduces to at most k rows per group BEFORE the exchange, and nothing is
  * ever sorted or spilled.
  *
  * Why this exists: the rank-window formulation of grouped top-k
  * (`row_number() OVER (PARTITION BY g ORDER BY score DESC)` then
  * `rank <= k`) must SORT the full scored stream inside each window
  * partition. For `q_simsearch_cosine` at the 10× stress scale that stream
  * is |queries| × |corpus| ≈ 400M rows; the sort (and its spill once the
  * partition outgrows execution memory) dominated the query's heavy-tail
  * draws (5.7–160 s, round-8 bench notes). With this aggregate the same
  * query keeps exactly k candidates per (group, partition) in constant
  * memory — the scored stream is consumed on the fly by the map-side
  * partial aggregate, the exchange carries (groups × partitions × k) rows,
  * and the result is reproducible-cost instead of a GC/spill lottery. At
  * 100 TB the difference is structural: a window top-k shuffles and sorts
  * the whole corpus; this shuffles k rows per group per task.
  *
  * Semantics: rank by (score DESC, id ASC) — the exact total order the
  * engine's window-based top-k queries use — null scores/ids are ignored.
  * The result is `array<struct<score, id>>` sorted best-first (deterministic
  * for any input order). Score types: LONG, DOUBLE, or DECIMAL(p, s); the
  * id is LONG.
  *
  * Planner note: TypedImperativeAggregate runs on ObjectHashAggregateExec,
  * which falls back to sort-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128) DISTINCT GROUPS per task — raise it for high-cardinality grouped
  * top-k. Even the fallback only sorts group keys, never the scored stream.
  *
  * Reference context: the reference ranks its mining payloads client-side
  * after a full fetch (src/mining/utils/load.py — Python list sort); a
  * bounded distributed top-k is what that becomes at cluster scale.
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  override def prettyName: String = "top_k_pairs"
  override def left: Expression = score
  override def right: Expression = id

  private def scoreType: DataType = score.dataType

  override def checkInputDataTypes(): TypeCheckResult = scoreType match {
    case _ if k <= 0 =>
      TypeCheckResult.TypeCheckFailure(s"k must be positive, got $k")
    case LongType | DoubleType | _: DecimalType if id.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"top_k_pairs requires (long|double|decimal score, long id), got " +
          s"(${scoreType.catalogString}, ${id.dataType.catalogString})")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", scoreType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKHeap =
    new TopKHeap(k, TopKHeap.comparator(scoreType))

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) buf.offer(s, i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    other.foreach(buf.offer)
    buf
  }

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sortedBestFirst.map {
      case (s, i) => InternalRow(s, i)
    })

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { (s, i) =>
      scoreType match {
        case LongType => out.writeLong(s.asInstanceOf[Long])
        case DoubleType => out.writeDouble(s.asInstanceOf[Double])
        case _: DecimalType =>
          val unscaled = s.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue.toByteArray
          out.writeInt(unscaled.length)
          out.write(unscaled)
      }
      out.writeLong(i)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var r = 0
    while (r < n) {
      val s: Any = scoreType match {
        case LongType => in.readLong()
        case DoubleType => in.readDouble()
        case dt: DecimalType =>
          val arr = new Array[Byte](in.readInt())
          in.readFully(arr)
          Decimal(BigDecimal(new java.math.BigDecimal(
            new java.math.BigInteger(arr), dt.scale)), dt.precision, dt.scale)
      }
      buf.offer(s, in.readLong())
      r += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(score = newLeft, id = newRight)
}

/** Bounded binary min-heap keyed by (score ASC, id DESC) — the root is the
  * WORST retained pair, so a full heap rejects a non-qualifying row with
  * one comparison and zero allocation (the 400M-in, 5-out hot path). */
final class TopKHeap(k: Int, cmpScore: (Any, Any) => Int) {
  private val scores = new Array[Any](k)
  private val ids = new Array[Long](k)
  private var n = 0

  def size: Int = n

  /** a strictly better than b under (score DESC, id ASC). */
  private def better(sa: Any, ia: Long, sb: Any, ib: Long): Boolean = {
    val c = cmpScore(sa, sb)
    c > 0 || (c == 0 && ia < ib)
  }

  def offer(s: Any, i: Long): Unit = {
    if (n < k) {
      // heap push: insert at the end, sift up towards the worst-at-root
      var c = n
      scores(c) = s; ids(c) = i; n += 1
      while (c > 0) {
        val p = (c - 1) >> 1
        if (better(scores(p), ids(p), scores(c), ids(c))) {
          val ts = scores(p); val ti = ids(p)
          scores(p) = scores(c); ids(p) = ids(c)
          scores(c) = ts; ids(c) = ti
          c = p
        } else c = 0
      }
    } else if (better(s, i, scores(0), ids(0))) {
      // replace the worst, sift down
      scores(0) = s; ids(0) = i
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1; val r = l + 1
        var w = p // the worst of {p, l, r} belongs at p
        if (l < n && better(scores(w), ids(w), scores(l), ids(l))) w = l
        if (r < n && better(scores(w), ids(w), scores(r), ids(r))) w = r
        if (w == p) done = true
        else {
          val ts = scores(p); val ti = ids(p)
          scores(p) = scores(w); ids(p) = ids(w)
          scores(w) = ts; ids(w) = ti
          p = w
        }
      }
    }
  }

  def foreach(f: (Any, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(scores(i), ids(i)); i += 1 }
  }

  /** Retained pairs ordered (score DESC, id ASC) — rank order. */
  def sortedBestFirst: Array[(Any, Long)] = {
    val out = new Array[(Any, Long)](n)
    var i = 0
    while (i < n) { out(i) = (scores(i), ids(i)); i += 1 }
    out.sortWith { case ((sa, ia), (sb, ib)) => better(sa, ia, sb, ib) }
  }
}

object TopKHeap {
  def comparator(dt: DataType): (Any, Any) => Int = dt match {
    case LongType =>
      (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType =>
      (a, b) => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _: DecimalType =>
      (a, b) => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    case other =>
      throw new IllegalArgumentException(s"unsupported top_k_pairs score type $other")
  }
}

object TopKPairs {
  /** Column-API entry: `top_k_pairs(score, id, k)` aggregate — result is
    * `array<struct<score, id>>` ordered (score DESC, id ASC). */
  def top_k_pairs(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKPairs(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
