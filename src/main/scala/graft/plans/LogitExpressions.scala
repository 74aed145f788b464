package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-row gradient contribution of the linear (logistic-style) quality
  * classifier — the map-side kernel of one full-batch training
  * iteration (`graft.operators.LogitTrain`). For a feature vector `x`,
  * label `y` and the current weights `w` (riding in the expression,
  * broadcast-sized: one double per feature):
  *
  *   z = Σ_j w_j · x_j          (SEQUENTIAL index-order accumulation)
  *   p = 0.5 · (1 + z / (1 + |z|))   (algebraic sigmoid)
  *   r = p − y
  *   out = [scale9(r·x_0), …, scale9(r·x_{d−1}), scale9(r²)]
  *
  * returned as scale-9 longs ([[VecScale9Kernel.scale9]]) so the
  * training loop sums them exactly and order-independently
  * ([[VecSumCount.add]]) — the same shape as the k-means update: every
  * partition reduces to ONE (dim + 2)-long buffer before the fold, so an
  * iteration's network cost is per-partition, not per-row, at any
  * corpus size.
  *
  * The ALGEBRAIC sigmoid (only +, ·, /, |·| — no exp) is a deliberate
  * determinism choice: every step of the training loop is either exact
  * decimal arithmetic or an IEEE-754 operation both a JVM and an
  * independent Python/C replica spell identically, so the trained
  * weights are reproducible BIT-FOR-BIT cross-engine
  * (`tools/gen_logit_oracle.py`). A textbook `1/(1+exp(−z))` would tie
  * the fixpoint to a libm whose last ulp differs across platforms. The
  * algebraic link is monotone, symmetric and [0,1]-valued, so
  * `(p − y)·x` remains a descent direction for the same decision
  * boundary; only the loss geometry differs, which the classifier's
  * consumers never observe.
  */
object LogitKernel {
  /** Gradient + squared-residual contribution as scale-9 longs. */
  def grad(x: ArrayData, y: Double, w: Array[Double]): ArrayData = {
    val dim = w.length
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"Received ${x.numElements()} features, expected $dim.")
    var z = 0.0
    var i = 0
    while (i < dim) { z += w(i) * x.getDouble(i); i += 1 }
    val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
    val r = p - y
    val out = new Array[Long](dim + 1)
    i = 0
    while (i < dim) {
      out(i) = VecScale9Kernel.scale9(r * x.getDouble(i)); i += 1
    }
    out(dim) = VecScale9Kernel.scale9(r * r)
    ArrayData.toArrayData(out)
  }

  /** The serving-side score under the same algebraic link: round-6 of
    * p(x; w) — shared by the training loop's final scoring pass and
    * the spec's naive replica so they cannot drift.
    */
  def score(x: ArrayData, w: Array[Double]): Double = {
    val dim = w.length
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"Received ${x.numElements()} features, expected $dim.")
    var z = 0.0
    var i = 0
    while (i < dim) { z += w(i) * x.getDouble(i); i += 1 }
    val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
    // Spark round(double, 6): BigDecimal(Double.toString) HALF_UP
    new java.math.BigDecimal(java.lang.Double.toString(p))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `array<double> -> double`: round-6 algebraic-sigmoid score under
  * fixed weights — the one-scan serving kernel for a trained model.
  */
case class LogitScore(child: Expression, weights: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"logit_score expects array<double>, got $dt")
    }

  override protected def nullSafeEval(x: Any): Any =
    LogitKernel.score(x.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = LogitKernel.getClass.getName.stripSuffix("$")
    val wRef = ctx.addReferenceObj("logitWeights", weights, "double[]")
    defineCodeGen(ctx, ev, x => s"$kernel.score($x, $wRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): LogitScore =
    copy(child = newChild)
  override def prettyName: String = "logit_score"

  override def equals(o: Any): Boolean = o match {
    case s: LogitScore => (s.child == child) && (s.weights eq weights)
    case _ => false
  }
  override def hashCode(): Int = child.hashCode() * 31 + 7
}

object LogitFunctions {
  def logit_score(x: Column, weights: Array[Double]): Column =
    GraftBridge.column(LogitScore(GraftBridge.expression(x), weights))
}
