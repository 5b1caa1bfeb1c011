package graft

import java.math.{BigDecimal, RoundingMode}
import graft.functions.ScaledDot
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** `ScaledDot.scale6` converts most floats without formatting a decimal
  * string; on every float it must still give exactly
  * `BigDecimal.valueOf(f.toDouble).setScale(6, HALF_UP)`, with the same
  * overflow and non-finite errors as that path. */
class ScaledDotSpec extends AnyFunSuite {

  private def outcome(body: => Long): Either[String, Long] =
    try Right(body) catch { case e: Exception => Left(e.getClass.getName) }

  private def unscaled(f: Float): java.math.BigInteger =
    BigDecimal.valueOf(f.toDouble).setScale(6, RoundingMode.HALF_UP).unscaledValue()

  /** The array form rejects more than 62 bits of unscaled value. */
  private def refArray(f: Float) = outcome {
    val u = unscaled(f)
    if (u.bitLength() > 62) throw new IllegalArgumentException(f.toString)
    u.longValueExact()
  }
  private def refSeq(f: Float) = outcome(unscaled(f).longValueExact())

  private def gotArray(f: Float) = outcome(
    ScaledDot.scale6(new GenericArrayData(Array[Any](f))).getLong(0))
  private def gotSeq(f: Float) = outcome(ScaledDot.scale6(Seq(f)).head)

  /** ≥ 1M seeded floats: random bit patterns, unit-vector components,
    * floats a few ulps from the HALF_UP boundaries k/1e6 + 5e-7, ±0 and
    * subnormals. */
  private def floats(seed: Long): Iterator[Float] = {
    val rng = new scala.util.Random(seed)
    val bits = Iterator.fill(400000)(java.lang.Float.intBitsToFloat(rng.nextInt()))
    val unit = Iterator.fill(5000) {
      val g = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / n).toFloat)
    }.flatten
    val nearHalf = Iterator.fill(40000) {
      val k = (rng.nextDouble() * math.pow(10, rng.nextInt(10))).toLong
      val t = (((k + 0.5) / 1e6) * (if (rng.nextBoolean()) 1 else -1)).toFloat
      Iterator.iterate(t)(Math.nextDown).drop(1).take(4) ++
        Iterator.iterate(t)(Math.nextUp).take(5)
    }.flatten
    val subnormal = Iterator.fill(20000)(java.lang.Float.intBitsToFloat(
      (rng.nextInt() & 0x007fffff) | (if (rng.nextBoolean()) 0x80000000 else 0)))
    val edges = Iterator(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      999.99994f, 1000f, -1000f, 0.0000005f, -0.0000005f, 0.5f, 9e12f, -9e12f)
    bits ++ unit ++ nearHalf ++ subnormal ++ edges
  }

  test("scale6 equals BigDecimal.valueOf(f).setScale(6, HALF_UP) on 1M+ seeded floats") {
    var n = 0
    floats(20261019L).foreach { f =>
      assert(gotArray(f) === refArray(f), s"array form at $f")
      assert(gotSeq(f) === refSeq(f), s"seq form at $f")
      n += 1
    }
    assert(n >= 1000000)
  }

  test("scale6 keeps its overflow and non-finite errors") {
    for (f <- Seq(9e12f, -9e12f, 1e30f, Float.MaxValue)) {
      val e = intercept[IllegalArgumentException](
        ScaledDot.scale6(new GenericArrayData(Array[Any](f))))
      assert(e.getMessage.contains("too large for scaled-long form"))
    }
    intercept[ArithmeticException](ScaledDot.scale6(Seq(1e30f)))
    for (f <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      intercept[NumberFormatException](
        ScaledDot.scale6(new GenericArrayData(Array[Any](f))))
      intercept[NumberFormatException](ScaledDot.scale6(Seq(f)))
    }
  }
}
