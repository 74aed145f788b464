package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions
import graft.plans.{KmeansFunctions, LogitFunctions, LogitKernel, VecScale9Kernel, VecSumCount}

/** Distributed TRAINING of the linear quality classifier whose
  * inference twin is [[Corpus.qualityLogit]] — full-batch gradient
  * descent over the interpretable Gopher signals. CCNet/fastText-style
  * quality gates are trained on a labeled sample and then applied as
  * one embarrassingly-parallel scoring scan; this operator supplies the
  * missing first half so a pipeline can learn its gate from in-corpus
  * labels (a language tag, a source allowlist, human ratings) instead
  * of hand-tuning weights.
  *
  * Scale shape (per iteration, over a cached slim `(id, x, y)`
  * projection — the k-means template):
  *  - the map side is the [[graft.plans.LogitGrad]] codegen kernel
  *    (current weights ride in the expression, broadcast-sized);
  *  - the reduce is ONE [[graft.plans.VecSumCount]] buffer of
  *    `dim + 2` longs per partition — the shuffle is
  *    weight-vector-shaped, never data-shaped, at any corpus size;
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
  *  - one loop runs over two row sources: the cached feature frame, or
  *    (at most [[localTrainMaxRows]] rows) the same features collected,
  *    where each row goes through the same kernel and buffer add.
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

  /** ONE gradient pass under `w`: the exact scale-9 sums of the
    * per-row contributions (`dim` gradients + the squared residual)
    * and the row count — the building block of one GD step, exposed
    * for incremental (micro-batch) training. Collects ONE row.
    */
  def gradSums(feats: DataFrame, w: Array[Double]): (Seq[Long], Long) = {
    require(w.length == dim, s"expected $dim weights, got ${w.length}")
    val row = feats
      .select(KmeansFunctions.vec_sum_count(
        LogitFunctions.logit_grad(col("x"), col("y"), w), dim + 1).as("sc"))
      .select(col("sc.sums"), col("sc.n"))
      .collect()(0)
    (row.getSeq[Long](0), row.getLong(1))
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

  /** Above this row count the iteration loop stays distributed; at or
    * below it the features collect once and the remaining iterations
    * run over the collected rows. A labeled training sample this small
    * pays more per iteration in job scheduling (one full Spark job per
    * GD step) than in arithmetic — 150 iterations over a few thousand
    * rows is ~150 x ~40 ms of pure driver/scheduler overhead. It is the
    * same loop over the other row source: each collected row goes
    * through [[graft.plans.LogitKernel.grad]], the kernel of
    * [[graft.plans.LogitGrad]], into one [[graft.plans.VecSumCount]]
    * buffer with the aggregate's own add, and the scale-9 long sums are
    * exact and order-independent, so the bits are the same
    * (`LogitSpec` pins the equality). At 65,536 rows the collected
    * features are ≤ ~3 MB — driver-trivial.
    */
  val localTrainMaxRows = 65536L

  /** `iters` full-batch gradient steps from the all-zero init over a
    * `(x, y)` feature frame (the input is cached here and released
    * before returning). `y` must be 0/1-ish (any double works
    * arithmetically; the residual is `p − y`).
    *
    * The FIRST iteration always runs distributed (it establishes `n`
    * with no extra job); when `n <= localMaxRows` the features collect
    * once and the remaining iterations run over the collected rows —
    * same bits, see [[localTrainMaxRows]]. Pass `localMaxRows = 0` to
    * force every iteration distributed (the spec uses it to pin the
    * equality).
    */
  def train(feats: DataFrame, iters: Int, lr: Double,
            localMaxRows: Long = localTrainMaxRows): Model = {
    require(iters >= 1, s"logit training needs iters >= 1, got $iters")
    require(lr > 0.0 && !lr.isNaN && !lr.isInfinite,
      s"logit training needs a positive finite learning rate, got $lr")
    val data = feats.select(col("x"), col("y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the gradient pass is a GLOBAL aggregate — its reduce side is one
    // (dim+2)-long buffer per map task at any corpus scale, so AQE's
    // per-stage barrier (one extra job per iteration, measured 21 vs
    // 11 jobs on a 10-iteration train) has nothing to adapt; run the
    // iterations on a loop-scoped child session with a single reduce
    // partition (LoopSession doc). Exact long sums: bit-identical.
    val dataLoop = LoopSession.rebase(data, 1)
    try {
      var w = new Array[Double](dim)
      var mse = Double.NaN
      var n = 0L
      var it = 0
      var local: Option[(Array[ArrayData], Array[Double])] = None
      while (it < iters) {
        val s = local match {
          case Some((xs, ys)) =>
            // the gradSums aggregate over the collected rows
            val buf = new Array[Long](dim + 2)
            var r = 0
            while (r < xs.length) {
              VecSumCount.add(buf, LogitKernel.grad(xs(r), ys(r), w), dim + 1)
              r += 1
            }
            buf.take(dim + 1).toSeq
          case None =>
            val (sd, nd) = gradSums(dataLoop, w)
            require(nd > 0, "cannot train a logit model on an empty dataset")
            n = nd
            if (n <= localMaxRows && it + 1 < iters) {
              val rows = data.collect()
              local = Some((
                rows.map(r => ArrayData.toArrayData(r.getSeq[Double](0).toArray)),
                rows.map(_.getDouble(1))))
            }
            sd
        }
        val (w2, m) = applyStep(w, s, n, lr)
        mse = m
        w = w2
        it += 1
      }
      Model(w, mse, n)
    } finally { data.unpersist(); () }
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
