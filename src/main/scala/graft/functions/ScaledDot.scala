package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Factored exact-decimal scoring: [[DecimalScale6]] converts a float
  * vector ONCE into its exact scale-6 unscaled longs (the identical
  * `BigDecimal.valueOf(double).setScale(6, HALF_UP)` conversion
  * [[DecimalDot]] performs), and [[ScaledDot]] scores a pair of converted
  * vectors with pure long multiply-adds.
  *
  * Why: similarity search scores |queries| × |corpus| pairs, and in the
  * fused [[DecimalDot]] kernel the per-element BigDecimal conversion —
  * not the multiply — dominates. Hoisting the conversion to once per ROW
  * (before the scoring join) turns the hot pair loop into 64 long
  * multiply-adds. Results are bit-identical to [[DecimalDot]]: same
  * element conversion, exact integer products at scale 12, same final
  * HALF_UP rounding to scale 6 — the CustomFunctionsSpec parity test and
  * the unchanged DuckDB oracles pin this.
  *
  * Null element ↦ sentinel [[ScaledDot.NullSentinel]]; a pair is skipped
  * when either side is the sentinel (DecimalDot's skip rule). Conversion
  * rejects |x| ≥ 9e12 (unscaled long overflow — far beyond any embedding
  * component); the pair sum falls back to exact BigDecimal accumulation
  * if the long accumulator would overflow (addExact/multiplyExact).
  */
case class DecimalScale6(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "decimal_scale6"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"decimal_scale6 requires array<float>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    ScaledDot.scale6(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScaledDot.scale6($c);")

  override protected def withNewChildInternal(newChild: Expression): DecimalScale6 =
    copy(child = newChild)
}

case class ScaledDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, 6)
  override def prettyName: String = "scaled_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"scaled_dot requires two array<long>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    ScaledDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.ScaledDot.dot($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaledDot =
    copy(left = newLeft, right = newRight)
}

object ScaledDot {
  /** Marks a null float element in the scaled representation. */
  val NullSentinel: Long = Long.MinValue

  /** Marks "no fast answer" from [[fastScale6]]; fast results are below
    * 1e9 in magnitude, so it never collides with one. */
  private final val Slow = Long.MinValue

  /** `BigDecimal.valueOf(x).setScale(6, HALF_UP)`'s unscaled value without
    * the decimal string `valueOf` formats, or [[Slow]]. For |x| < 1000
    * the double product x·1e6 lies within about 2e-7 of the scaled
    * decimal: `valueOf`'s string is within half an ulp of x (< 6e-14 ·
    * 1e6) and the product rounds by at most half an ulp of 1e9 (6e-8).
    * When its fraction is more than 1e-3 from .5, both therefore round to
    * the same integer, and half away from zero is HALF_UP. A near-.5
    * fraction, |x| ≥ 1000, NaN and ±Inf return [[Slow]]: the caller takes
    * the BigDecimal path, with its overflow and non-finite errors. */
  private def fastScale6(x: Double): Long = {
    val a = math.abs(x)
    if (!(a < 1000.0)) Slow
    else {
      val p = a * 1e6
      val fl = math.floor(p)
      val frac = p - fl
      if (math.abs(frac - 0.5) <= 1e-3) Slow
      else {
        val r = if (frac > 0.5) fl.toLong + 1L else fl.toLong
        if (x < 0) -r else r
      }
    }
  }

  /** Float vector → exact scale-6 unscaled longs (one conversion per
    * element, paid once per row). */
  def scale6(x: ArrayData): GenericArrayData = {
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (x.isNullAt(i)) NullSentinel
        else {
          val f = x.getFloat(i)
          val fast = fastScale6(f.toDouble)
          if (fast != Slow) fast
          else {
            val s = java.math.BigDecimal.valueOf(f.toDouble)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue()
            if (s.bitLength() > 62)
              throw new IllegalArgumentException(
                s"decimal_scale6: |element| too large for scaled-long form: $f")
            s.longValueExact()
          }
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Driver-side form of [[scale6]] for already-collected query vectors. */
  def scale6(v: Seq[Float]): Seq[Long] = v.map { f =>
    val fast = fastScale6(f.toDouble)
    if (fast != Slow) fast
    else java.math.BigDecimal.valueOf(f.toDouble)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
  }

  /** The pair kernel: long multiply-adds; exact BigDecimal fallback on
    * accumulator overflow. Mirrors DecimalDot.dot bit for bit. */
  def dot(x: ArrayData, y: ArrayData): org.apache.spark.sql.types.Decimal = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L // scale-12 units
    var i = 0
    var overflow = false
    while (i < n && !overflow) {
      // SQL-registered scaled_dot accepts any array<long>, so a genuine
      // null element (not produced by decimal_scale6) is possible —
      // treat it exactly like the sentinel (DecimalDot's null-skip rule)
      // instead of letting getLong unbox it to 0
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xs = x.getLong(i)
        val ys = y.getLong(i)
        if (xs != NullSentinel && ys != NullSentinel) {
          try acc = Math.addExact(acc, Math.multiplyExact(xs, ys))
          catch { case _: ArithmeticException => overflow = true }
        }
      }
      if (!overflow) i += 1
    }
    val bd =
      if (!overflow) java.math.BigDecimal.valueOf(acc, 12)
      else {
        // restart exactly, accumulating in BigDecimal from the scaled longs
        var a = java.math.BigDecimal.ZERO
        var j = 0
        while (j < n) {
          if (!x.isNullAt(j) && !y.isNullAt(j)) {
            val xs = x.getLong(j)
            val ys = y.getLong(j)
            if (xs != NullSentinel && ys != NullSentinel)
              a = a.add(java.math.BigDecimal.valueOf(xs, 6)
                .multiply(java.math.BigDecimal.valueOf(ys, 6)))
          }
          j += 1
        }
        a
      }
    // scale 6 matches the declared DecimalType(38, 6) — a consumer that
    // trusts dataType sees the true runtime scale
    org.apache.spark.sql.types.Decimal(
      bd.setScale(6, java.math.RoundingMode.HALF_UP), 38, 6)
  }

  /** Column-API entry points. */
  def decimal_scale6(c: Column): Column =
    ColumnBridge.column(DecimalScale6(ColumnBridge.expression(c)))
  def scaled_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ScaledDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
