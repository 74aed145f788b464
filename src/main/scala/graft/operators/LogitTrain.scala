package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.Parts
import graft.functions.TextFunctions
import graft.plans.{LogitFunctions, LogitKernel, VecScale9Kernel, VecSumCount}

/** Distributed TRAINING of the linear quality classifier whose
  * inference twin is [[Corpus.qualityLogit]] — full-batch gradient
  * descent over the interpretable Gopher signals. CCNet/fastText-style
  * quality gates are trained on a labeled sample and then applied as
  * one embarrassingly-parallel scoring scan; this operator supplies the
  * missing first half so a pipeline can learn its gate from in-corpus
  * labels (a language tag, a source allowlist, human ratings) instead
  * of hand-tuning weights.
  *
  * Scale shape: the `(x, y)` features are read ONCE into one cached
  * block per input partition ([[graft.Parts]], the k-means template).
  * Each iteration is one block kernel and an exact fold, one Spark job
  * with no codegen, no query planning and no row shuffle:
  *  - per row, [[graft.plans.LogitKernel.grad]] under the current
  *    weights, added into
  *    ONE buffer of `dim + 2` longs per block
  *    ([[graft.plans.VecSumCount.add]]);
  *  - the buffers fold with `Math.addExact` — weight-vector-shaped,
  *    never data-shaped, at any corpus size;
  *  - the driver applies the update to `dim = 5` doubles.
  * 100 TB deployment: train on a labeled sample (this loop, unchanged),
  * then score the full corpus with [[scoreDf]] — a single
  * whole-stage-codegen pass, no shuffle at all.
  *
  * Determinism (the correctness contract, mirrored bit-for-bit by the
  * independent `tools/gen_logit_oracle.py`):
  *  - features are the round-6 Gopher signals
  *    `[1, ln(1+n_tok), mean_tok_len, alpha_ratio, stop_ratio]` — each
  *    rounded to 6 decimals, so both engines start from the same exact
  *    decimal grid (the [[Corpus.qualityLogit]] convention);
  *  - the per-row link is the ALGEBRAIC sigmoid
  *    `0.5 (1 + z / (1 + |z|))` — no transcendental inside the LOOP, so
  *    every iteration is pure IEEE-754 arithmetic both sides spell
  *    identically (see [[graft.plans.LogitKernel]]);
  *  - gradient/residual sums accumulate as exact scale-9 longs
  *    (order-independent, partitioning-invariant); the mean divides at
  *    scale 9 HALF_UP; weight init is all-zero;
  *  - one loop runs over two forms of the blocks: cached on the
  *    cluster, or on the driver ([[localTrainMaxRows]]) — the same kernel
  *    and exact merges, so the same bits.
  */
object LogitTrain {

  /** Trained model: `weights(0)` is the intercept; `mse` is the mean
    * squared residual measured under the weights ENTERING the final
    * iteration (the residuals that produced the last update — no extra
    * pass); `n` is the training-row count.
    */
  final case class Model(weights: Array[Double], mse: Double, n: Long) {
    require(weights.length == dim, s"expected $dim weights")
  }

  /** [1, ln(1+n_tok), mean_tok_len, alpha_ratio, stop_ratio] */
  val dim = 5

  /** Per-document feature vectors and label: `(id, x array<double>,
    * y double)`. One `gopher_stats` kernel pass per row; the grid is
    * [[Corpus.qualitySignalArray]] — the SAME spelling inference reads,
    * including the meanLen clamp that bounds the gradient sums'
    * long-overflow headroom (see its doc). NULL-text documents are
    * omitted (no signals — the [[Corpus.qualityLogit]] rule) and NULL
    * labels are omitted (unlabeled rows cannot contribute a gradient).
    */
  def features(df: DataFrame, textCol: String, idCol: String,
               labelCol: Column,
               stopWords: Seq[String] = TextFunctions.englishStopwords): DataFrame =
    Materialize.once(
        df.where(col(textCol).isNotNull)
          .select(col(idCol).cast("long").as("id"), col(textCol),
            labelCol.cast("double").as("__y"))
          .where(col("__y").isNotNull),
        "__st", graft.plans.GraftFunctions.gopher_stats(col(textCol), stopWords))
      .select(col("id"),
        Corpus.qualitySignalArray(col("__st")).as("x"),
        col("__y").as("y"))

  /** One block per partition of `feats`' rows with a non-null `x` and
    * `y`: the feature vectors and the labels.
    */
  private final case class Block(xs: Array[ArrayData], ys: Array[Double]) {
    /** Σ over the rows of the scale-9 per-row contributions under `w`
      * (`dim` gradients + the squared residual), then the row count.
      */
    def sums(w: Array[Double]): Array[Long] = {
      val buf = new Array[Long](dim + 2)
      var r = 0
      while (r < xs.length) {
        VecSumCount.add(buf, LogitKernel.grad(xs(r), ys(r), w), dim + 1); r += 1
      }
      buf
    }
  }

  private val emptyBlock = Block(Array.empty, Array.empty)

  /** The blocks of `feats`, one per partition, not cached. */
  private def blockRdd(feats: DataFrame): RDD[Block] =
    feats.select(col("x").cast("array<double>"), col("y").cast("double"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
          .map(r => (ArrayData.toArrayData(r.getArray(0).toDoubleArray()), r.getDouble(1)))
          .toArray
        Iterator.single(Block(kept.map(_._1), kept.map(_._2)))
      }

  /** Element-wise exact sum of two pass buffers. */
  private def addExact(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(a.length)(i => Math.addExact(a(i), b(i)))

  /** The exact sums of one gradient pass under `w` over `rows`: `dim`
    * gradients, the squared residual, then the row count.
    */
  private def passSums(rows: Parts[Block], w: Array[Double]): Array[Long] =
    rows.map(_.sums(w)).reduce(addExact)

  /** ONE gradient pass under `w`: the exact scale-9 sums of the
    * per-row contributions (`dim` gradients + the squared residual)
    * and the row count — the building block of one GD step, exposed
    * for incremental (micro-batch) training. One job over uncached
    * blocks; one buffer per partition reaches the driver.
    */
  def gradSums(feats: DataFrame, w: Array[Double]): (Seq[Long], Long) = {
    require(w.length == dim, s"expected $dim weights, got ${w.length}")
    val s = passSums(Parts.of(blockRdd(feats), emptyBlock), w)
    (s.take(dim + 1).toSeq, s(dim + 1))
  }

  /** The driver-side update: `w − lr · mean(grad)` with the mean taken
    * at scale 9 HALF_UP over the exact sums — returns the new weights
    * and the pass's mean squared residual. Shared by [[train]] and the
    * streaming mini-batch trainer so the arithmetic cannot drift.
    */
  def applyStep(w: Array[Double], sums: Seq[Long], n: Long,
                lr: Double): (Array[Double], Double) = {
    require(n > 0, "cannot apply a logit update from an empty pass")
    val w2 = new Array[Double](dim)
    var j = 0
    while (j < dim) { w2(j) = w(j) - lr * VecScale9Kernel.mean9(sums(j), n); j += 1 }
    (w2, VecScale9Kernel.mean9(sums(dim), n))
  }

  /** Inputs of at most this many rows run their GD steps on the driver,
    * by the rule of [[graft.Parts.load]]. A labeled training sample this
    * small pays more per iteration in job scheduling (one full Spark job
    * per GD step) than in arithmetic — 150 iterations over a few
    * thousand rows is ~150 x ~40 ms of pure driver/scheduler overhead.
    * It is the same loop over the other form of the blocks: the same
    * kernel and buffer add per row, and the scale-9 long sums are exact
    * and order-independent, so the bits are the same (`LogitSpec` pins
    * the equality). At 65,536 rows the features are ≤ ~3 MB —
    * driver-trivial; 0 keeps every input on the cluster.
    */
  val localTrainMaxRows = 65536L

  /** `iters` full-batch gradient steps from the all-zero init over a
    * `(x, y)` feature frame (read once into cached blocks, released
    * before returning). `y` must be 0/1-ish (any double works
    * arithmetically; the residual is `p − y`).
    *
    * The job that reads the input also runs the first GD step; inputs
    * of at most `localMaxRows` rows run the others on the driver
    * ([[localTrainMaxRows]]), so a distributed train runs `iters` jobs
    * and a local one 1. A single step ships no block.
    */
  def train(feats: DataFrame, iters: Int, lr: Double,
            localMaxRows: Long = localTrainMaxRows): Model = {
    require(iters >= 1, s"logit training needs iters >= 1, got $iters")
    require(lr > 0.0 && !lr.isNaN && !lr.isInfinite,
      s"logit training needs a positive finite learning rate, got $lr")
    val zero = new Array[Double](dim)
    val (rows, firsts) = Parts.load(blockRdd(feats), emptyBlock,
      if (iters > 1) localMaxRows else 0L)(_.ys.length.toLong, _.sums(zero))
    try {
      var s = firsts.reduce(addExact)
      val n = s(dim + 1)
      require(n > 0, "cannot train a logit model on an empty dataset")
      var w = zero
      var mse = Double.NaN
      var it = 0
      while (it < iters) {
        if (it > 0) s = passSums(rows, w)
        val (w2, m) = applyStep(w, s.take(dim + 1).toSeq, n, lr)
        mse = m
        w = w2
        it += 1
      }
      Model(w, mse, n)
    } finally rows.release()
  }

  /** One-scan serving pass: `(id, score, keep)` under a trained model —
    * the [[graft.plans.LogitScore]] codegen kernel (round-6 algebraic
    * sigmoid), no shuffle.
    */
  def scoreDf(feats: DataFrame, model: Model,
              threshold: Double = 0.5): DataFrame =
    feats.select(col("id"),
        LogitFunctions.logit_score(col("x"), model.weights).as("score"))
      .withColumn("keep", col("score") >= threshold)

  /** Labeling-priority selection (uncertainty sampling — the active
    * learning loop's query step): the `n` documents whose gate score
    * sits closest to the decision boundary, i.e. where a human label
    * buys the most model improvement. One scoring scan; the bounded
    * top-n aggregate keeps ≤ n `(distance, id)` pairs per partition
    * (no global sort), then the winners' scores re-attach via a
    * broadcast of the n ids. Ties break on the lower id. Returns
    * `(rank, id, score)` ranked by boundary distance.
    *
    * PRECONDITION: `id` must be unique in `feats` — the broadcast
    * re-attach join emits one row per (rank, id) match, so a
    * duplicated id yields duplicate ranked rows. [[features]] keys on
    * the caller's id column and does not enforce uniqueness (document
    * corpora key on a primary doc_id); callers feeding synthetic or
    * unioned frames must dedup first.
    */
  def uncertaintyTopN(feats: DataFrame, model: Model, n: Int,
                      threshold: Double = 0.5): DataFrame = {
    require(n >= 1, s"uncertaintyTopN needs n >= 1, got $n")
    val scored = feats.select(col("id"),
      graft.plans.LogitFunctions.logit_score(col("x"), model.weights)
        .as("score"))
    val top = scored
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        abs(col("score") - lit(threshold)), col("id"), n).as("top"))
      .select(posexplode(col("top")).as(Seq("r", "p")))
      .select((col("r") + 1).cast("long").as("rank"), col("p.id").as("id"))
    scored.join(broadcast(top), Seq("id"))
      .select(col("rank"), col("id"), col("score"))
  }

  /** Confusion counts + round-6 accuracy of a trained model against the
    * training labels, as ONE aggregate row `(tp, fp, fn, tn, accuracy)`
    * — the sanity check a curation pipeline logs next to the gate.
    */
  def evalDf(feats: DataFrame, model: Model,
             threshold: Double = 0.5): DataFrame = {
    val keep = LogitFunctions.logit_score(col("x"), model.weights) >= threshold
    val pos = col("y") === 1.0
    // coalesce: an EMPTY evaluation frame (e.g. a holdout split with no
    // rows on a tiny corpus) reports zero counts and 0.0 accuracy, not
    // a row of NULLs
    feats.select(keep.as("k"), pos.as("p"))
      .agg(
        coalesce(sum(when(col("k") && col("p"), 1L).otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("k") && !col("p"), 1L).otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(!col("k") && col("p"), 1L).otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(!col("k") && !col("p"), 1L).otherwise(0L)), lit(0L)).as("tn"))
      .withColumn("accuracy",
        when(col("tp") + col("fp") + col("fn") + col("tn") === 0, 0.0)
          .otherwise(round((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 6)))
  }

  /** The trained model in oracle-friendly long form: one `(term,
    * value)` row per weight plus the final-iteration mse and the
    * training-row count, weights rounded to 6 decimals HALF_UP.
    */
  def modelDf(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    val names = Seq("bias", "w_log_tok", "w_mean_len", "w_alpha_ratio",
      "w_stop_ratio")
    def r6(v: Double): Double =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    (names.zip(model.weights.toSeq.map(r6)) ++
      Seq("mse" -> r6(model.mse), "n_docs" -> model.n.toDouble))
      .toDF("term", "value")
  }
}
