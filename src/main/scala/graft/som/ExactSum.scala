package graft.som

import java.math.BigInteger

/** `length` running sums of doubles whose result does not depend on
  * the order of the additions, and whose partials [[merge]] to the same
  * bits in any order and grouping: the SOM's per-block partials (epoch
  * sums, quantization error, covariance) give a result of the rows
  * alone, not of their partition layout. This is the binned
  * reproducible summation of Demmel & Nguyen (ARITH 2013).
  *
  * Bin e holds the base-2³⁰ digit of |x| at 2^(30·e), with the sign of
  * x: every value has one fixed digit per bin, whoever adds it. Each
  * sum keeps the digit sums of three adjacent bins in longs, under a
  * top bin that rises to the bin of the largest |x| added so far, and
  * drops the digits that fall below its window. In the end the window
  * is that of the largest |x| of all, so a sum and its merged partials
  * hold the same three digit sums over any layout. Digit sums are never
  * carried into one another: a carry would move part of a bin that
  * another layout drops.
  *  - Every digit within the window is exact. With M the largest |x|,
  *    a value loses only its digits below the window's floor, which
  *    lies between M·2⁻⁹⁰ and M·2⁻⁶⁰ by M's place in its bin, so a
  *    float32 |x| ≥ M·2⁻³⁷ and a double |x| ≥ M·2⁻⁸ are added exactly,
  *    on any scale.
  *  - [[values]] rounds each exact window sum to double once (a second
  *    time only for a subnormal result).
  *  - A digit sum reaching 2⁶³ throws `ArithmeticException`: never below
  *    2³³ (≈ 8.6e9) additions into one sum. So does a NaN or ±Inf.
  */
private[graft] final class ExactSum(val length: Int) extends Serializable {
  import ExactSum._

  /** The top bin of each sum, and its three digit sums from the top. */
  private val top = Array.fill(length)(MinBin)
  private val b0 = new Array[Long](length)
  private val b1 = new Array[Long](length)
  private val b2 = new Array[Long](length)

  /** Adds `xs(from + c)` into sum `at + c`, for c < n. */
  def add(at: Int, xs: Array[Double], from: Int, n: Int): Unit = {
    var c = 0
    while (c < n) { add(at + c, xs(from + c)); c += 1 }
  }

  def add(i: Int, x: Double): Unit = {
    var y = x * Scale(top(i) - MinBin)
    if (!(math.abs(y) < Radix)) y = raise(i, x)
    // the three digits of y; each step takes an exact fraction
    val d0 = y.toLong
    val r1 = (y - d0) * Radix
    val d1 = r1.toLong
    val d2 = ((r1 - d1) * Radix).toLong
    b0(i) = Math.addExact(b0(i), d0)
    b1(i) = Math.addExact(b1(i), d1)
    b2(i) = Math.addExact(b2(i), d2)
  }

  /** Adds `that` into this and returns this. */
  def merge(that: ExactSum): ExactSum = {
    require(that.length == length, s"merging ${that.length} sums into $length")
    var i = 0
    while (i < length) {
      if (that.top(i) > top(i)) lift(i, that.top(i))
      top(i) - that.top(i) match {
        case 0 =>
          b0(i) = Math.addExact(b0(i), that.b0(i))
          b1(i) = Math.addExact(b1(i), that.b1(i))
          b2(i) = Math.addExact(b2(i), that.b2(i))
        case 1 =>
          b1(i) = Math.addExact(b1(i), that.b0(i))
          b2(i) = Math.addExact(b2(i), that.b1(i))
        case 2 =>
          b2(i) = Math.addExact(b2(i), that.b0(i))
        case _ =>
      }
      i += 1
    }
    this
  }

  /** The sums, each the exact window sum rounded once to double. */
  def values(): Array[Double] = Array.tabulate(length) { i =>
    // carry the digit sums into h·2⁶⁰ + l, 0 ≤ l < 2⁶⁰
    val m = Math.addExact(b1(i), b2(i) >> Bits)
    val h = Math.addExact(b0(i), m >> Bits)
    val l = ((m & Mask) << Bits) | (b2(i) & Mask)
    // |h·2⁶⁰ + l| = hm·2⁶⁰ + lm, 0 ≤ lm < 2⁶⁰
    val (hm, lm) = if (h >= 0) (h, l) else if (l == 0) (Math.negateExact(h), 0L) else (~h, (1L << 60) - l)
    val k = 64 - java.lang.Long.numberOfLeadingZeros(hm)
    val mag =
      if (k <= 3) ((hm << 60) | lm).toDouble // below 2⁶³: one rounding
      else if (k <= 62) {
        // round to odd at 62 bits, then to nearest: still one rounding
        val drop = k - 2
        val odd = (hm << (62 - k)) | (lm >>> drop) | (if ((lm & ((1L << drop) - 1)) != 0) 1L else 0L)
        Math.scalb(odd.toDouble, drop)
      } else BigInteger.valueOf(hm).shiftLeft(60).or(BigInteger.valueOf(lm)).doubleValue
    Math.scalb(if (h < 0) -mag else mag, Bits * (top(i) - 2))
  }

  /** Lifts sum `i` to the top bin of `x`, which lies above its window,
    * and returns x on the new top bin's scale.
    */
  private def raise(i: Int, x: Double): Double = {
    if (!java.lang.Double.isFinite(x))
      throw new ArithmeticException(s"exact sum: cannot add $x")
    val e = math.floorDiv(math.getExponent(x), Bits)
    lift(i, e)
    x * Scale(e - MinBin)
  }

  /** Moves sum `i`'s window up to top bin `e`: the digit sums that leave
    * it are dropped whole.
    */
  private def lift(i: Int, e: Int): Unit = {
    e - top(i) match {
      case 1 => b2(i) = b1(i); b1(i) = b0(i)
      case 2 => b2(i) = b0(i); b1(i) = 0
      case _ => b2(i) = 0; b1(i) = 0
    }
    b0(i) = 0
    top(i) = e
  }
}

private[graft] object ExactSum {
  private final val Bits = 30
  private final val Radix = 1073741824.0 // 2^30
  private final val Mask = (1L << Bits) - 1
  /** The lowest top bin: 2^(-30·e) must stay a finite double. Smaller
    * values sit in its window (its floor, 2^-1080, lies below every
    * subnormal).
    */
  private final val MinBin = -34
  /** 2^(-30·e) for top bin e, from MinBin up to the bin of Double.MaxValue. */
  private val Scale: Array[Double] =
    Array.tabulate(1023 / Bits - MinBin + 1)(j => math.scalb(1.0, -Bits * (j + MinBin)))
}
