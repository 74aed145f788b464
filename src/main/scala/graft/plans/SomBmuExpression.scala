package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.som.Topology

/** Per-thread scratch vector shared by the Vec and PQ expression
  * kernels: kills the per-row `Array[Double](dim)` allocation (and its
  * GC churn) in the codegen hot path. Safe because each Spark task
  * thread owns its copy and the buffer never escapes a single kernel
  * call.
  */
object SomScratch {
  private val tl = new ThreadLocal[Array[Double]]()
  def get(dim: Int): Array[Double] = {
    var a = tl.get()
    if (a == null || a.length < dim) { a = new Array[Double](dim); tl.set(a) }
    a
  }
}

/** The one SOM inference kernel: every SOM query against a codebook
  * (`k` neurons of `dim` doubles, row-major) goes through it — the BMU
  * under the activation distance (`som_bmu`, `xpysom.py:370-417`), the
  * quantization distance and its neuron (`som_qdist`, `som_nearest`,
  * `xpysom.py:620-707`), and the topographic-error top-2
  * (`som_topo_error`, `xpysom.py:709-746`).
  *
  * Distance semantics match the SOM kernels (`graft.som.Distances`):
  * partial euclidean by default (`-2 dot + |w|²`, rank-invariant,
  * `distances.py:11-23`), first-index argmin ties (`xpysom.py:416`).
  * The quantization kernels minimize `|x|² - 2 dot + |w|²` and report
  * the square root of that minimum, clamped at 0.
  *
  * Loop order: the dot-product distances (euclidean, euclidean_no_opt,
  * cosine and the quantization kernels) first fill `acc(j) = x·w_j`
  * for every neuron, then scan `acc` in j order with a strict `<`. At
  * k >= [[KmeansKernel.sweepMinK]] the dot runs ACROSS neurons over the
  * column table [[KmeansKernel.columns]] (`cols(i)(j) = w(j*dim + i)`):
  * `acc(j) = 0.0 + x0*w0` at i = 0, then four dimensions per pass over
  * `acc`, each added in ascending i. Every neuron's dot is still the
  * IEEE sequence `((0.0 + x0 w0) + x1 w1) + …` of the per-neuron loop
  * (Java never contracts to FMA), so every distance, argmin and q_dist
  * keeps its bits; but the inner loop is independent across j, which the
  * JIT vectorizes, where the per-neuron form is one serial add chain per
  * neuron. Below `sweepMinK` the per-neuron loop stays, for the reason
  * the k-means kernel gives: C2 compiles a loop from its first hot
  * profile, and a column loop first profiled at a tiny k stays
  * unvectorized for the wide tables that follow. manhattan and norm_p
  * are not dot products and keep the per-neuron loop at every k.
  *
  * The expressions build the column table once per expression and ship
  * it (with the codebook and |w|²) as codegen references; each
  * generated-class instance (one per task) owns its scratch.
  */
object SomBmuKernel {
  /** Distance codes, resolved from the name once per expression. */
  final val Euclidean = 0
  final val Cosine = 1
  final val Manhattan = 2
  final val NormP = 3

  def code(dist: String): Int = dist match {
    case "euclidean" | "euclidean_no_opt" => Euclidean
    case "cosine" => Cosine
    case "manhattan" | "manhattan_no_opt" => Manhattan
    case "norm_p" | "norm_p_no_opt" => NormP
    case other => throw new IllegalArgumentException(s"$other not supported by som_bmu")
  }

  /** `v` into `s.x` as doubles; returns |x|² summed in ascending i. */
  private def load(v: ArrayData, isFloat: Boolean, dim: Int, s: SomKernelScratch): Double = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"Received ${v.numElements()} features, expected $dim.")
    val x = s.x
    var xSq = 0.0
    var i = 0
    while (i < dim) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      xSq += x(i) * x(i)
      i += 1
    }
    xSq
  }

  /** `acc(j) = x·w_j` for every neuron (see the object doc for the order). */
  private def dots(x: Array[Double], w: Array[Double], cols: Array[Array[Double]],
                   dim: Int, k: Int, acc: Array[Double]): Unit =
    if (cols == null) {
      var j = 0
      while (j < k) {
        val base = j * dim
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += x(i) * w(base + i); i += 1 }
        acc(j) = dot
        j += 1
      }
    } else {
      val x0 = x(0)
      val c0 = cols(0)
      var j = 0
      while (j < k) { acc(j) = 0.0 + x0 * c0(j); j += 1 }
      var i = 1
      while (i + 3 < dim) {
        val xa = x(i); val xb = x(i + 1); val xc = x(i + 2); val xd = x(i + 3)
        val ca = cols(i); val cb = cols(i + 1); val cc = cols(i + 2); val cd = cols(i + 3)
        j = 0
        while (j < k) {
          acc(j) = (((acc(j) + xa * ca(j)) + xb * cb(j)) + xc * cc(j)) + xd * cd(j)
          j += 1
        }
        i += 4
      }
      while (i < dim) {
        val xi = x(i)
        val c = cols(i)
        j = 0
        while (j < k) { acc(j) += xi * c(j); j += 1 }
        i += 1
      }
    }

  /** argmin over neurons of the activation distance `code`. */
  def bmu(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
          cols: Array[Array[Double]], dim: Int, s: SomKernelScratch, code: Int,
          normP: Double): Int = {
    val k = wSq.length
    val xSq = load(v, isFloat, dim, s)
    val x = s.x
    val acc = s.acc
    if (code == Euclidean || code == Cosine) dots(x, w, cols, dim, k, acc)
    var best = 0
    var bestV = Double.MaxValue
    var j = 0
    while (j < k) {
      var d = 0.0
      if (code == Euclidean) d = -2.0 * acc(j) + wSq(j)
      else if (code == Cosine) {
        val denom = math.sqrt(xSq * wSq(j))
        d = 1.0 - (if (denom == 0.0) 0.0 else acc(j) / denom)
      } else {
        val base = j * dim
        var i = 0
        if (code == Manhattan)
          while (i < dim) { d += math.abs(x(i) - w(base + i)); i += 1 }
        else
          while (i < dim) { d += math.pow(math.abs(x(i) - w(base + i)), normP); i += 1 }
      }
      if (d < bestV) { bestV = d; best = j }
      j += 1
    }
    best
  }

  // the columns of the last table the seven-argument bmu saw, keyed by
  // reference to its `w`
  @volatile private var lastCols: (Array[Double], Int, Array[Array[Double]]) = _

  /** [[bmu]] by distance name, for callers that replay one table over many
    * rows on one thread: the column transpose is cached by reference to
    * `w`. The expressions never use this cache.
    */
  def bmu(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
          dim: Int, dist: String, normP: Double): Int = {
    val last = lastCols
    val cols =
      if (last != null && (last._1 eq w) && last._2 == dim) last._3
      else { val c = KmeansKernel.columns(w, dim); lastCols = (w, dim, c); c }
    bmu(v, isFloat, w, wSq, cols, dim, new SomKernelScratch(dim, wSq.length),
      code(dist), normP)
  }

  /** Nearest neuron by quantization distance: `s.best` and its
    * `s.bestV = |x|² - 2 dot + |w|²` (unclamped), strict-< scan in j order.
    */
  def nearest(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
              cols: Array[Array[Double]], dim: Int, s: SomKernelScratch): Unit = {
    val k = wSq.length
    val xSq = load(v, isFloat, dim, s)
    val acc = s.acc
    dots(s.x, w, cols, dim, k, acc)
    var best = 0
    var bestV = Double.MaxValue
    var j = 0
    while (j < k) {
      val d = xSq - 2.0 * acc(j) + wSq(j)
      if (d < bestV) { bestV = d; best = j }
      j += 1
    }
    s.best = best; s.bestV = bestV
  }

  /** The quantization distance of [[nearest]]: sqrt of the minimum,
    * negative fp residue clamped to 0 (nan_to_num parity).
    */
  def minDist(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
              cols: Array[Array[Double]], dim: Int, s: SomKernelScratch): Double = {
    nearest(v, isFloat, w, wSq, cols, dim, s)
    if (s.bestV > 0) math.sqrt(s.bestV) else 0.0
  }

  /** `struct<bmu_id, q_dist>`: [[nearest]]'s neuron and [[minDist]]. */
  def nearestRow(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
                 cols: Array[Array[Double]], dim: Int, s: SomKernelScratch): InternalRow = {
    val q = minDist(v, isFloat, w, wSq, cols, dim, s)
    new GenericInternalRow(Array[Any](s.best, q))
  }

  /** The two nearest neurons by the clamped true distance
    * `sqrt(max(|x|² - 2 dot + |w|², 0))` into `s.best` and `s.second`:
    * ascending, ties to the first index (the `Distances.top2Rows` rule).
    */
  def top2(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
           cols: Array[Array[Double]], dim: Int, s: SomKernelScratch): Unit = {
    val k = wSq.length
    val xSq = load(v, isFloat, dim, s)
    val acc = s.acc
    dots(s.x, w, cols, dim, k, acc)
    var b1 = -1; var b2 = -1
    var v1 = Double.PositiveInfinity; var v2 = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val d2 = xSq - 2.0 * acc(j) + wSq(j)
      val d = if (d2 > 0) math.sqrt(d2) else 0.0
      if (d < v1) { v2 = v1; b2 = b1; v1 = d; b1 = j }
      else if (d < v2) { v2 = d; b2 = j }
      j += 1
    }
    s.best = b1; s.second = b2
  }

  /** 1 when the row's two best-matching units are not adjacent on `topo`
    * (`xpysom.py:736-746`), else 0.
    */
  def topoError(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
                cols: Array[Array[Double]], dim: Int, s: SomKernelScratch,
                topo: Topology): Int = {
    top2(v, isFloat, w, wSq, cols, dim, s)
    val y = topo.y
    if (topo.adjacent(s.best / y, s.best % y, s.second / y, s.second % y)) 0 else 1
  }
}

/** Working memory of one [[SomBmuKernel]] caller (one task, or one
  * driver-side replay): the row as doubles, every neuron's dot product,
  * and the scan result. Never shared between threads.
  */
final class SomKernelScratch(dim: Int, k: Int) {
  val x = new Array[Double](dim)
  val acc = new Array[Double](k)
  var best: Int = 0
  var bestV: Double = 0.0
  var second: Int = 0
}

/** What every SOM codebook expression shares: an array<float|double>
  * child, the codebook with its |w|² and column table (built once per
  * expression), and the generated-code arguments that pass them with a
  * per-task [[SomKernelScratch]].
  */
abstract class SomCodebookExpression extends UnaryExpression {
  def weights: Array[Double]
  def dim: Int

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got $other")
  }

  protected def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient protected lazy val wSq: Array[Double] =
    graft.som.Distances.rowSumSq(weights, weights.length / dim, dim)
  @transient protected lazy val cols: Array[Array[Double]] =
    KmeansKernel.columns(weights, dim)

  protected def newScratch: SomKernelScratch = new SomKernelScratch(dim, weights.length / dim)

  /** `isFloat, w, wSq, cols, dim, s` as generated-code arguments, with
    * one scratch per generated-class instance, i.e. per task.
    */
  protected def kernelArgs(ctx: CodegenContext): String = {
    val wRef = ctx.addReferenceObj("somWeights", weights, "double[]")
    val wSqRef = ctx.addReferenceObj("somWSq", wSq, "double[]")
    val cRef = ctx.addReferenceObj("somCols", cols, "double[][]")
    val scratch = classOf[SomKernelScratch].getName
    val sRef = ctx.addMutableState(scratch, "somScratch",
      v => s"$v = new $scratch($dim, ${weights.length / dim});")
    s"$isFloat, $wRef, $wSqRef, $cRef, $dim, $sRef"
  }

  // mirror-class static forwarders — Janino cannot resolve MODULE$
  protected def kernel: String = SomBmuKernel.getClass.getName.stripSuffix("$")
}

case class SomBmu(child: Expression, weights: Array[Double], dim: Int,
                  distance: String, normP: Double) extends SomCodebookExpression {
  override def dataType: DataType = IntegerType

  private val code = SomBmuKernel.code(distance)

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.bmu(input.asInstanceOf[ArrayData], isFloat, weights, wSq, cols,
      dim, newScratch, code, normP)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    defineCodeGen(ctx, ev, c => s"$kernel.bmu($c, $args, $code, $normP)")
  }

  override protected def withNewChildInternal(newChild: Expression): SomBmu =
    copy(child = newChild)
  override def prettyName: String = "som_bmu"
}

/** Quantization distance: the true euclidean distance to the closest
  * codebook vector (always euclidean, regardless of activation distance —
  * reference `_quantization` semantics, `xpysom.py:660-671`). Lets
  * quantization error run as `select(avg(som_qdist(...)))` — one
  * codegen'd scan + scalar aggregate.
  */
case class SomQDist(child: Expression, weights: Array[Double], dim: Int)
    extends SomCodebookExpression {
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.minDist(input.asInstanceOf[ArrayData], isFloat, weights, wSq,
      cols, dim, newScratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    defineCodeGen(ctx, ev, c => s"$kernel.minDist($c, $args)")
  }

  override protected def withNewChildInternal(newChild: Expression): SomQDist =
    copy(child = newChild)
  override def prettyName: String = "som_qdist"
}

/** `struct<bmu_id int, q_dist double>`: the neuron `som_qdist` measures
  * and that distance, from one scan — quantization's neuron and its
  * q_dist (`xpysom.py:620-645`), so mean q_dist equals
  * `avg(som_qdist)` exactly.
  */
case class SomNearest(child: Expression, weights: Array[Double], dim: Int)
    extends SomCodebookExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("bmu_id", IntegerType, nullable = false),
    StructField("q_dist", DoubleType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.nearestRow(input.asInstanceOf[ArrayData], isFloat, weights, wSq,
      cols, dim, newScratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    defineCodeGen(ctx, ev, c => s"$kernel.nearestRow($c, $args)")
  }

  override protected def withNewChildInternal(newChild: Expression): SomNearest =
    copy(child = newChild)
  override def prettyName: String = "som_nearest"
}

/** Per-row topographic error (`xpysom.py:709-746`): 1 when the row's two
  * best-matching units by true euclidean distance are not adjacent on
  * `topo`, else 0; `avg` of it is the topographic error.
  */
case class SomTopoError(child: Expression, weights: Array[Double], dim: Int,
                        topo: Topology) extends SomCodebookExpression {
  require(topo.numNeurons == weights.length / dim && topo.numNeurons >= 2,
    "som_topo_error needs a map of at least 2 neurons matching the codebook")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.topoError(input.asInstanceOf[ArrayData], isFloat, weights, wSq,
      cols, dim, newScratch, topo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    val t = ctx.addReferenceObj("somTopo", topo, classOf[Topology].getName)
    defineCodeGen(ctx, ev, c => s"$kernel.topoError($c, $args, $t)")
  }

  override protected def withNewChildInternal(newChild: Expression): SomTopoError =
    copy(child = newChild)
  override def prettyName: String = "som_topo_error"
}

/** `int -> array<double>`: codebook row `id` (quantization's `quantized`
  * column); one prebuilt array per neuron, shared by every row.
  */
case class SomCodebookRow(child: Expression, weights: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"som_codebook_row expects int, got $other")
  }

  @transient private lazy val rows: Array[UnsafeArrayData] =
    Array.tabulate(weights.length / dim)(j =>
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(weights, j * dim, (j + 1) * dim)))

  override protected def nullSafeEval(input: Any): Any = rows(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rRef = ctx.addReferenceObj("somRows", rows, classOf[UnsafeArrayData].getName + "[]")
    defineCodeGen(ctx, ev, c => s"$rRef[$c]")
  }

  override protected def withNewChildInternal(newChild: Expression): SomCodebookRow =
    copy(child = newChild)
  override def prettyName: String = "som_codebook_row"
}

object SomBmuFunctions {
  private def fn(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  def som_bmu(features: Column, weights: Array[Double], dim: Int,
              distance: String = "euclidean", normP: Double = 2.0): Column =
    fn(SomBmu(ex(features), weights, dim, distance, normP))

  def som_qdist(features: Column, weights: Array[Double], dim: Int): Column =
    fn(SomQDist(ex(features), weights, dim))

  def som_nearest(features: Column, weights: Array[Double], dim: Int): Column =
    fn(SomNearest(ex(features), weights, dim))

  def som_topo_error(features: Column, weights: Array[Double], dim: Int,
                     topo: Topology): Column =
    fn(SomTopoError(ex(features), weights, dim, topo))

  def som_codebook_row(id: Column, weights: Array[Double], dim: Int): Column =
    fn(SomCodebookRow(ex(id), weights, dim))
}
