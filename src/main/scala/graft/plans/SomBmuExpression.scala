package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.som.{Distance, Distances, PreparedCodebook, Topology}

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
  * goes through it — the BMU under the activation distance (`som_bmu`,
  * `xpysom.py:370-417`), the quantization distance and its neuron
  * (`som_qdist`, `som_nearest`, `xpysom.py:620-707`), and the
  * topographic-error top-2 (`som_topo_error`, `xpysom.py:709-746`).
  *
  * It keeps no arithmetic of its own. A row's distances are the
  * training kernels' ([[graft.som.Distances]]) on a batch of that one
  * row, which give the row the bits it gets at any place in a training
  * batch; the BMU is their first-index argmin
  * ([[graft.som.Distances.argmin]]). So a served `bmu_id` is the winner
  * the training epoch gave that row and the argmin of `activate`, under
  * every distance name. The quantization kernels read the full squared
  * euclidean distance ([[graft.som.Distances.EuclideanSquared]]) and
  * report `sqrt(max(d², 0))`: NaN for a row with a NaN or ±Inf feature,
  * whose top-2 then finds no neuron (-1).
  *
  * The expressions prepare the codebook once per expression and ship it
  * as a codegen reference; each generated-class instance (one per task)
  * owns its scratch.
  */
object SomBmuKernel {
  /** The distance of `v` to every neuron under `dist`, into `s.acc`. */
  def distances(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch,
                dist: Distance): Array[Double] = {
    val (x, dim) = (s.x, cb.d)
    if (v.numElements() != dim)
      throw new IllegalArgumentException(s"Received ${v.numElements()} features, expected $dim.")
    var i = 0
    while (i < dim) { x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i); i += 1 }
    dist.compute(x, 1, cb, s.block, s.acc)
    s.acc
  }

  /** argmin over neurons of the activation distance `dist`. */
  def bmu(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch,
          dist: Distance): Int =
    Distances.argmin(distances(v, isFloat, cb, s, dist), 0, cb.k)

  // the table the seven-argument bmu saw last on this thread, prepared,
  // with its scratch
  private val byName = new ThreadLocal[(PreparedCodebook, SomKernelScratch)]

  /** [[bmu]] by distance name, for callers that replay one table over many
    * rows: the prepared codebook (with the `wSq` of the call that built
    * it) and a scratch are kept per thread, keyed by reference to `w`.
    * The expressions never use this cache.
    */
  def bmu(v: ArrayData, isFloat: Boolean, w: Array[Double], wSq: Array[Double],
          dim: Int, dist: String, normP: Double): Int = {
    val last = byName.get()
    val (cb, s) =
      if (last != null && (last._1.w eq w) && last._1.d == dim) last
      else {
        val cb = new PreparedCodebook(w, wSq.length, dim, wSq)
        val next = (cb, new SomKernelScratch(cb))
        byName.set(next)
        next
      }
    bmu(v, isFloat, cb, s, Distances(dist, normP))
  }

  /** Nearest neuron by quantization distance: `s.best` and its squared
    * euclidean distance `s.bestV` (unclamped).
    */
  def nearest(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch): Unit = {
    val d2 = distances(v, isFloat, cb, s, Distances.EuclideanSquared)
    s.best = Distances.argmin(d2, 0, cb.k)
    s.bestV = d2(s.best)
  }

  /** The quantization distance of [[nearest]]: sqrt of the minimum,
    * negative fp residue clamped to 0 (nan_to_num parity).
    */
  def minDist(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch): Double = {
    nearest(v, isFloat, cb, s)
    math.sqrt(math.max(s.bestV, 0.0))
  }

  /** `struct<bmu_id, q_dist>`: [[nearest]]'s neuron and [[minDist]]. */
  def nearestRow(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook,
                 s: SomKernelScratch): InternalRow = {
    val q = minDist(v, isFloat, cb, s)
    new GenericInternalRow(Array[Any](s.best, q))
  }

  /** The two nearest neurons by the clamped true distance
    * `sqrt(max(d², 0))` into `s.best` and `s.second`: ascending, ties to
    * the first index (`argsort(distances)[:, :2]`, `xpysom.py:734`); -1
    * where no distance is below +Inf.
    */
  def top2(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch): Unit = {
    val d2 = distances(v, isFloat, cb, s, Distances.EuclideanSquared)
    var b1 = -1; var b2 = -1
    var v1 = Double.PositiveInfinity; var v2 = Double.PositiveInfinity
    var j = 0
    while (j < cb.k) {
      val d = math.sqrt(math.max(d2(j), 0.0))
      if (d < v1) { v2 = v1; b2 = b1; v1 = d; b1 = j }
      else if (d < v2) { v2 = d; b2 = j }
      j += 1
    }
    s.best = b1; s.second = b2
  }

  /** 1 when the row's two best-matching units are not adjacent on `topo`
    * (`xpysom.py:736-746`), else 0; -1 when [[top2]] finds fewer than two
    * (a NaN or ±Inf feature).
    */
  def topoError(v: ArrayData, isFloat: Boolean, cb: PreparedCodebook, s: SomKernelScratch,
                topo: Topology): Int = {
    top2(v, isFloat, cb, s)
    val y = topo.y
    if (s.second < 0) -1
    else if (topo.adjacent(s.best / y, s.best % y, s.second / y, s.second % y)) 0
    else 1
  }
}

/** Working memory of one [[SomBmuKernel]] caller (one task, or one
  * driver-side replay): the row as doubles, every neuron's distance, the
  * tile's block and the scan result. Never shared between threads.
  */
final class SomKernelScratch(cb: PreparedCodebook) {
  val x = new Array[Double](cb.d)
  val acc = new Array[Double](cb.k)
  val block = cb.block()
  var best: Int = 0
  var bestV: Double = 0.0
  var second: Int = 0
}

/** What every SOM codebook expression shares: an array<float|double>
  * child, the codebook prepared once per expression, and the
  * generated-code arguments that pass it with a per-task
  * [[SomKernelScratch]].
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

  @transient protected lazy val cb: PreparedCodebook =
    new PreparedCodebook(weights, weights.length / dim, dim, null)

  protected def newScratch: SomKernelScratch = new SomKernelScratch(cb)

  /** `isFloat, cb, s` as generated-code arguments, with one scratch per
    * generated-class instance, i.e. per task.
    */
  protected def kernelArgs(ctx: CodegenContext): String = {
    val cbRef = ctx.addReferenceObj("somCodebook", cb, classOf[PreparedCodebook].getName)
    val scratch = classOf[SomKernelScratch].getName
    val sRef = ctx.addMutableState(scratch, "somScratch", v => s"$v = new $scratch($cbRef);")
    s"$isFloat, $cbRef, $sRef"
  }

  // mirror-class static forwarders — Janino cannot resolve MODULE$
  protected def kernel: String = SomBmuKernel.getClass.getName.stripSuffix("$")
}

case class SomBmu(child: Expression, weights: Array[Double], dim: Int,
                  distance: String, normP: Double) extends SomCodebookExpression {
  override def dataType: DataType = IntegerType

  private val dist: Distance = Distances(distance, normP)

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.bmu(input.asInstanceOf[ArrayData], isFloat, cb, newScratch, dist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    val d = ctx.addReferenceObj("somDistance", dist, classOf[Distance].getName)
    defineCodeGen(ctx, ev, c => s"$kernel.bmu($c, $args, $d)")
  }

  override protected def withNewChildInternal(newChild: Expression): SomBmu =
    copy(child = newChild)
  override def prettyName: String = "som_bmu"
}

/** Quantization distance: the true euclidean distance to the closest
  * codebook vector (always euclidean, regardless of activation distance —
  * reference `_quantization` semantics, `xpysom.py:660-671`). Lets
  * quantization error run as one codegen'd scan of `som_qdist(...)`
  * whose per-partition sums the driver adds
  * (`SomModel.quantizationError`).
  */
case class SomQDist(child: Expression, weights: Array[Double], dim: Int)
    extends SomCodebookExpression {
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.minDist(input.asInstanceOf[ArrayData], isFloat, cb, newScratch)

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
  * q_dist (`xpysom.py:620-645`), so the q_dist of each row equals its
  * `som_qdist` exactly.
  */
case class SomNearest(child: Expression, weights: Array[Double], dim: Int)
    extends SomCodebookExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("bmu_id", IntegerType, nullable = false),
    StructField("q_dist", DoubleType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.nearestRow(input.asInstanceOf[ArrayData], isFloat, cb, newScratch)

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
  * `topo`, else 0; `avg` of it is the topographic error. -1 for a row
  * with a NaN or ±Inf feature, which has no two.
  */
case class SomTopoError(child: Expression, weights: Array[Double], dim: Int,
                        topo: Topology) extends SomCodebookExpression {
  require(topo.numNeurons == weights.length / dim && topo.numNeurons >= 2,
    "som_topo_error needs a map of at least 2 neurons matching the codebook")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    SomBmuKernel.topoError(input.asInstanceOf[ArrayData], isFloat, cb, newScratch, topo)

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
