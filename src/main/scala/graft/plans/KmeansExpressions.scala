package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment as a native Catalyst expression — the
  * per-row kernel of Lloyd's k-means. The centroid table rides in the
  * expression (one reference object per generated class, serialized
  * once per task); the argmin loop runs inside whole-stage codegen.
  *
  * Distance is squared euclidean accumulated SEQUENTIALLY over
  * dimensions (`(x_i - w_i)^2` in ascending i) — not the fma tile's
  * `−2·dot + ‖w‖²` that the SOM's training and serving share
  * (`graft.som.Distances`) — because the k-means oracle is an
  * independent implementation that must reproduce the argmin
  * bit-for-bit, and the plain loop is the form any from-the-paper
  * implementation writes down. Ties go to the LOWEST
  * centroid id (strict `<` keeps the first minimum).
  *
  * Loop order: at k >= [[KmeansKernel.sweepMinK]] the loop runs ACROSS
  * centroids — `acc(j) = 0.0 + t*t` at i = 0, then `acc(j) += t*t` for
  * every j at each i = 1 … dim-1 (four i per pass over `acc`, added in
  * i order), over a per-dimension column table
  * `cols(i)(j) = w(j*dim + i)`. Each centroid's d² is still the same
  * IEEE operation sequence in ascending i (Java never contracts to FMA),
  * so every bit is unchanged; but the inner loop is now independent
  * across j, which the JIT vectorizes, where the per-centroid form is
  * one serial add chain per centroid. Below `sweepMinK` the per-centroid
  * loop stays: C2 compiles a loop from its first hot profile, and the
  * k-means‖ first pass and farthest-first rounds run at k = 1 — a single
  * column loop first profiled there stayed unvectorized for the k = 64
  * passes that followed.
  *
  * Returns struct<cid int, d2 double, d2b double>: the assignment, its
  * squared distance, and the squared distance to the SECOND-nearest
  * centroid — all from one pass, so inertia, radius, and
  * silhouette-style separation metrics never need a second scan. With
  * one centroid, `d2b` is NaN.
  */
object KmeansKernel {
  /** Smallest k that takes the centroid-wide sweep (see the object doc). */
  val sweepMinK = 16

  /** Per-dimension column table of a row-major `k x dim` table,
    * `cols(i)(j) = w(j * dim + i)`; null below [[sweepMinK]], where the
    * per-centroid loop reads `w` directly.
    */
  def columns(w: Array[Double], dim: Int): Array[Array[Double]] = {
    val k = w.length / dim
    if (k < sweepMinK) null
    else Array.tabulate(dim)(i => Array.tabulate(k)(j => w(j * dim + i)))
  }

  /** Nearest centroid of `x` (length `dim`): writes `s.best`, `s.bestV`
    * (its d²) and `s.secondV` (the second-smallest d²) from a strict-<
    * scan in j order over every centroid's d² in `s.acc`.
    */
  def nearest(x: Array[Double], w: Array[Double], cols: Array[Array[Double]],
              dim: Int, s: KmeansScratch): Unit = {
    val k = w.length / dim
    val acc = s.acc
    if (cols == null) perCentroid(x, w, dim, k, acc)
    else sweep(x, cols, dim, k, acc)
    var best = 0
    var bestV = Double.MaxValue
    var secondV = Double.MaxValue
    var j = 0
    while (j < k) {
      val d = acc(j)
      if (d < bestV) { secondV = bestV; bestV = d; best = j }
      else if (d < secondV) { secondV = d }
      j += 1
    }
    s.best = best; s.bestV = bestV; s.secondV = secondV
  }

  private def perCentroid(x: Array[Double], w: Array[Double], dim: Int,
                          k: Int, acc: Array[Double]): Unit = {
    var j = 0
    while (j < k) {
      val base = j * dim
      var d = 0.0
      var i = 0
      while (i < dim) { val t = x(i) - w(base + i); d += t * t; i += 1 }
      acc(j) = d
      j += 1
    }
  }

  // four dimensions per pass over acc: a quarter of the acc loads and
  // stores, and per centroid still one add per dimension in ascending i
  private def sweep(x: Array[Double], cols: Array[Array[Double]], dim: Int,
                    k: Int, acc: Array[Double]): Unit = {
    val x0 = x(0)
    val c0 = cols(0)
    var j = 0
    while (j < k) { val t = x0 - c0(j); acc(j) = 0.0 + t * t; j += 1 }
    var i = 1
    while (i + 3 < dim) {
      val xa = x(i); val xb = x(i + 1); val xc = x(i + 2); val xd = x(i + 3)
      val ca = cols(i); val cb = cols(i + 1); val cc = cols(i + 2); val cd = cols(i + 3)
      j = 0
      while (j < k) {
        val ta = xa - ca(j); val tb = xb - cb(j)
        val tc = xc - cc(j); val td = xd - cd(j)
        acc(j) = (((acc(j) + ta * ta) + tb * tb) + tc * tc) + td * td
        j += 1
      }
      i += 4
    }
    while (i < dim) {
      val xi = x(i)
      val c = cols(i)
      j = 0
      while (j < k) { val t = xi - c(j); acc(j) += t * t; j += 1 }
      i += 1
    }
  }

  /** The row entry the codegen and interpreted paths call: `v` against
    * the table (`cols` from [[columns]]), scratch from the caller.
    */
  def assign(v: ArrayData, isFloat: Boolean, w: Array[Double],
             cols: Array[Array[Double]], dim: Int,
             s: KmeansScratch): InternalRow = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"Received ${v.numElements()} features, expected $dim.")
    val x = s.x
    var i = 0
    while (i < dim) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    nearest(x, w, cols, dim, s)
    new GenericInternalRow(Array[Any](s.best, s.bestV,
      if (w.length / dim < 2) Double.NaN else s.secondV))
  }

  // the columns of the last table the four-argument assign saw, keyed by
  // reference to its `w`
  @volatile private var lastCols: (Array[Double], Int, Array[Array[Double]]) = _

  /** argmin over `w.length / dim` centroids for one row. Callers that
    * replay one table over many rows pay the column transpose once: it
    * is cached by reference to `w`.
    */
  def assign(v: ArrayData, isFloat: Boolean, w: Array[Double],
             dim: Int): InternalRow = {
    val last = lastCols
    val cols =
      if (last != null && (last._1 eq w) && last._2 == dim) last._3
      else { val c = columns(w, dim); lastCols = (w, dim, c); c }
    assign(v, isFloat, w, cols, dim, new KmeansScratch(dim, w.length / dim))
  }

  /** Driver-local entry of the same kernel: row r's nearest centroid and
    * its d² into `cid(r)` and `d2(r)` — what `kmeans_assign` returns for
    * that row, bit for bit.
    */
  def assignRows(rows: Array[Array[Double]], w: Array[Double], dim: Int,
                 cid: Array[Int], d2: Array[Double]): Unit = {
    val cols = columns(w, dim)
    val s = new KmeansScratch(dim, w.length / dim)
    var r = 0
    while (r < rows.length) {
      val x = rows(r)
      if (x.length != dim)
        throw new IllegalArgumentException(
          s"Received ${x.length} features, expected $dim.")
      nearest(x, w, cols, dim, s)
      cid(r) = s.best
      d2(r) = s.bestV
      r += 1
    }
  }
}

/** Working memory of one [[KmeansKernel]] caller (one task, or one
  * driver-local pass): the row as doubles, every centroid's d², and the
  * scan result. Never shared between threads.
  */
final class KmeansScratch(dim: Int, k: Int) {
  val x = new Array[Double](dim)
  val acc = new Array[Double](k)
  var best: Int = 0
  var bestV: Double = 0.0
  var secondV: Double = 0.0
}

object VecScale9Kernel {
  /** `x` rounded to 9 decimals HALF_UP, returned as the scaled long
    * `unscaled(round(x, 9))` — EXACTLY the unscaled value of Spark's
    * `round(col, 9).cast(DecimalType(28, 9))` (which goes through
    * `BigDecimal(Double.toString(x)).setScale(9, HALF_UP)`). Fast path:
    * when `x * 1e9` is more than 1e-5 away from a rounding midpoint,
    * nearest-integer of the double product provably agrees with the
    * decimal-string route (the product's absolute error is < 2e-6 ulps
    * of the midpoint gap); within the ambiguous band — including every
    * exact tie, where HALF_UP and binary-value rounding can genuinely
    * differ — it falls back to the BigDecimal derivation itself.
    */
  def scale9(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      throw new IllegalArgumentException(
        s"kmeans vectors must be finite, got $x")
    val y = x * 1e9
    if (math.abs(y) >= 9.0e18)
      throw new ArithmeticException(s"|$x| too large for scale-9 longs")
    val f = math.floor(y)
    val frac = y - f
    if (math.abs(frac - 0.5) > 1e-5) {
      if (frac >= 0.5) f.toLong + 1L else f.toLong
    } else {
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    }
  }

  /** The mean of `n` values whose exact scale-9 sum is `unscaled`:
    * `unscaled · 10⁻⁹ / n` at scale 9 HALF_UP, as a double — the update
    * every exact-sum loop (Lloyd's, incremental k-means, logit GD)
    * applies to its [[VecSumCount]] buffers.
    */
  def mean9(unscaled: Long, n: Long): Double =
    java.math.BigDecimal.valueOf(unscaled, 9)
      .divide(java.math.BigDecimal.valueOf(n), 9,
        java.math.RoundingMode.HALF_UP).doubleValue

  def scaleArray(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = scale9(if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

case class KmeansAssign(child: Expression, weights: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false),
    StructField("d2b", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kmeans_assign expects array<float>/array<double>, got $other")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // the sweep's column table: built once per expression, shipped as a
  // codegen reference next to the row-major table
  @transient private lazy val cols: Array[Array[Double]] =
    KmeansKernel.columns(weights, dim)

  override protected def nullSafeEval(input: Any): Any =
    KmeansKernel.assign(input.asInstanceOf[ArrayData], isFloat, weights, cols,
      dim, new KmeansScratch(dim, weights.length / dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("kmWeights", weights, "double[]")
    val cRef = ctx.addReferenceObj("kmCols", cols, "double[][]")
    // one scratch per generated-class instance, i.e. per task
    val scratch = classOf[KmeansScratch].getName
    val sRef = ctx.addMutableState(scratch, "kmScratch",
      v => s"$v = new $scratch($dim, ${weights.length / dim});")
    val kernel = KmeansKernel.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev,
      c => s"$kernel.assign($c, $isFloat, $wRef, $cRef, $dim, $sRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): KmeansAssign =
    copy(child = newChild)
  override def prettyName: String = "kmeans_assign"

  // the centroid array would bloat tree equality/hash; identity is fine
  override def equals(o: Any): Boolean = o match {
    case s: KmeansAssign => (s.child == child) && (s.weights eq weights) && s.dim == dim
    case _ => false
  }
  override def hashCode(): Int = child.hashCode() * 31 + dim
}

/** Element-wise sums of scale-9 long vectors plus a member count, in
  * one `long[dim + 1]` buffer: the k-means update's per-cluster buffers
  * and the logit step's per-block buffer. Exact and order-independent,
  * LOUD on overflow — safe to ~9e9 members per buffer at |x| <= 1.
  */
object VecSumCount {
  /** One row into a buffer: the `dim` longs of `a` onto the sums and 1
    * onto the count, each with `Math.addExact`.
    */
  def add(buf: Array[Long], a: ArrayData, dim: Int): Unit = {
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"Received ${a.numElements()} features, expected $dim.")
    var i = 0
    while (i < dim) { buf(i) = Math.addExact(buf(i), a.getLong(i)); i += 1 }
    buf(dim) = Math.addExact(buf(dim), 1L)
  }
}

object KmeansFunctions {
  def kmeans_assign(v: Column, weights: Array[Double], dim: Int): Column =
    GraftBridge.column(KmeansAssign(GraftBridge.expression(v), weights, dim))
}
