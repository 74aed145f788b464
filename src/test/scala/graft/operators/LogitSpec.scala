package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Logit-training coverage: a naive second Scala implementation
  * differential (the engine's oracle is an independent Python
  * implementation, so the spec adds an independent Scala one — three
  * implementations must agree bit-for-bit), convergence on a separable
  * toy, partitioning invariance of the scale-9 gradient sums,
  * null-label/null-text exclusion, and validation errors.
  */
class LogitSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference loop, written independently of the operator:
    * driver-side collections, BigDecimal string-route rounding spelled
    * inline (not via the kernel's scale9 helper).
    */
  private def naiveTrain(rows: Seq[(Array[Double], Double)], iters: Int,
                         lr: Double): (Array[Double], Double) = {
    def s9(x: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val dim = rows.head._1.length
    var w = Array.fill(dim)(0.0)
    var mse = Double.NaN
    for (_ <- 0 until iters) {
      val sums = Array.fill(dim + 1)(0L)
      rows.foreach { case (x, y) =>
        var z = 0.0
        for (j <- 0 until dim) z += w(j) * x(j)
        val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
        val r = p - y
        for (j <- 0 until dim) sums(j) += s9(r * x(j))
        sums(dim) += s9(r * r)
      }
      def mean9(u: Long): Double =
        java.math.BigDecimal.valueOf(u, 9)
          .divide(java.math.BigDecimal.valueOf(rows.size), 9,
            java.math.RoundingMode.HALF_UP).doubleValue
      w = Array.tabulate(dim)(j => w(j) - lr * mean9(sums(j)))
      mse = mean9(sums(dim))
    }
    (w, mse)
  }

  private def toyDocs = Seq(
    // prose-shaped English (label 1): stop words, short alpha tokens
    (1L, "the cat sat on the mat and then it was happy with its day", 1.0),
    (2L, "it is a truth that the house of the family was on a hill", 1.0),
    (3L, "we went to the park and the dog ran with us for an hour", 1.0),
    (4L, "she said that the book was on the table in the old room", 1.0),
    // junk-shaped (label 0): no stop words, long symbol tokens
    (5L, "xk9df0 qwpeir zzkfjg 00x99 ajd83k dkfj39 qq8x7c mnb234", 0.0),
    (6L, "0x9f3a 0x77b2 0xcc01 0x1234 0xdead 0xbeef 0x0042 0xffff", 0.0),
    (7L, "zzzzzzzz kkkkkkkk qqqqqqqq xxxxxxxx wwwwwwww jjjjjjjj", 0.0),
    (8L, "9283749 8237492 2093847 1029384 5647382 9182736 4756291", 0.0)
  ).toDF("doc_id", "text", "label")

  test("engine == naive Scala loop, bit-for-bit (weights and mse)") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    val collected = feats.select(col("x"), col("y")).collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1))).toSeq
    val (nw, nmse) = naiveTrain(collected, iters = 12, lr = 0.3)
    val m = LogitTrain.train(feats, iters = 12, lr = 0.3)
    assert(m.weights.toSeq == nw.toSeq) // exact — no tolerance
    assert(m.mse == nmse)
    assert(m.n == 8L)
  }

  test("separable toy: perfect split, mse decreases over training") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    val m5 = LogitTrain.train(feats, iters = 5, lr = 0.3)
    val m40 = LogitTrain.train(feats, iters = 40, lr = 0.3)
    assert(m40.mse < m5.mse)
    val eval = LogitTrain.evalDf(feats, m40).collect()(0)
    assert(eval.getAs[Long]("tp") == 4L)
    assert(eval.getAs[Long]("tn") == 4L)
    assert(eval.getAs[Double]("accuracy") == 1.0)
    // scores separate cleanly across the boundary
    val scores = LogitTrain.scoreDf(feats, m40).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert((1L to 4L).forall(scores(_)))
    assert((5L to 8L).forall(!scores(_)))
  }

  test("driver-local fast path == forced-distributed loop, bit-for-bit") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    // localMaxRows = 0 forces every iteration through the distributed
    // gradSums path; the default takes the collect-once local loop after
    // iteration 1 — the two must agree exactly (same per-row IEEE
    // arithmetic, same order-independent scale-9 long sums)
    val dist = LogitTrain.train(feats, iters = 12, lr = 0.3, localMaxRows = 0L)
    val loc = LogitTrain.train(feats, iters = 12, lr = 0.3)
    assert(dist.weights.toSeq == loc.weights.toSeq)
    assert(dist.mse == loc.mse)
    assert(dist.n == loc.n)
  }

  test("forced-distributed train: one job per iteration, the session conf untouched") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.get(k))
    for (iters <- Seq(1, 4)) {
      val (_, jobs) = graft.Probe.recordJobs(spark)(
        LogitTrain.train(feats, iters = iters, lr = 0.3, localMaxRows = 0L))
      assert(jobs.size == iters, s"iters=$iters")
    }
    // the driver-local form: one job reads the blocks and runs the first step
    val (_, localJobs) = graft.Probe.recordJobs(spark)(
      LogitTrain.train(feats, iters = 4, lr = 0.3))
    assert(localJobs.size == 1)
    assert(conf.forall { case (k, v) => spark.conf.get(k) == v })
  }

  test("partitioning-invariant: 1 vs 7 partitions, identical weights") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    val a = LogitTrain.train(feats.repartition(1), iters = 8, lr = 0.3)
    val b = LogitTrain.train(feats.repartition(7), iters = 8, lr = 0.3)
    assert(a.weights.toSeq == b.weights.toSeq)
    assert(a.mse == b.mse)
  }

  test("null text and null label rows are excluded from training") {
    val extra = Seq[(Long, Option[String], Option[Double])](
      (9L, None, Some(1.0)),
      (10L, Some("the the the"), None)
    ).toDF("doc_id", "text", "label")
    val withNulls = toyDocs.union(extra)
    val feats = LogitTrain.features(withNulls, "text", "doc_id", col("label"))
    assert(feats.count() == 8L)
    val m = LogitTrain.train(feats, iters = 3, lr = 0.3)
    assert(m.n == 8L)
  }

  test("validation: iters >= 1, positive finite lr, empty input") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    intercept[IllegalArgumentException] {
      LogitTrain.train(feats, iters = 0, lr = 0.3)
    }
    intercept[IllegalArgumentException] {
      LogitTrain.train(feats, iters = 3, lr = 0.0)
    }
    intercept[IllegalArgumentException] {
      LogitTrain.train(feats.where(lit(false)), iters = 1, lr = 0.3)
    }
  }

  test("uncertainty sampling: boundary-closest docs, exhaustive order, ties to lower id") {
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
    val m = LogitTrain.train(feats, iters = 25, lr = 0.3)
    val got = LogitTrain.uncertaintyTopN(feats, m, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val exhaustive = LogitTrain.scoreDf(feats, m).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, sc) => (math.abs(sc - 0.5), id) }.take(3)
    assert(got.map(t => (t._2, t._3)).toSeq == exhaustive.toSeq)
    // n larger than the corpus returns everything, still ranked
    assert(LogitTrain.uncertaintyTopN(feats, m, n = 100).count() == 8L)
    intercept[IllegalArgumentException] {
      LogitTrain.uncertaintyTopN(feats, m, n = 0)
    }
  }

  test("feature vector matches qualityLogit's round-6 signal grid") {
    // same doc through both paths: the training features and the
    // inference query must read identical signal values — including
    // stop_ratio, the one signal that depends on the stopword set
    val feats = LogitTrain.features(toyDocs, "text", "doc_id", col("label"))
      .where(col("id") === 1L).collect()(0).getSeq[Double](1)
    val row = Corpus.gopherFilter(toyDocs, "text", "doc_id",
        minTok = 0, maxTok = 1000, minMeanLen = 0.0, maxMeanLen = 100.0,
        minAlphaRatio = 0.0, minStopHits = 0,
        stopWords = graft.functions.TextFunctions.englishStopwords)
      .where(col("id") === 1L).collect()(0)
    val n = row.getAs[Long]("n_tok")
    def r6(v: Double): Double =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(feats(0) == 1.0)
    assert(feats(1) == r6(math.log(1.0 + n)))
    assert(feats(2) == row.getAs[Double]("mean_tok_len"))
    assert(feats(3) == row.getAs[Double]("alpha_ratio"))
    assert(feats(4) == r6(row.getAs[Long]("n_stop").toDouble / n))
  }

  test("mean_tok_len feature clamps at 100 (gradient-sum overflow bound)") {
    // a whitespace-free blob's mean token length IS its character
    // count; unclamped it would put ~len*1e9 into every scale-9
    // gradient sum. The clamp caps the feature (and qualityLogit reads
    // the same clamped grid, so training and inference stay aligned).
    val blob = Seq((1L, "x" * 5000, 0.0)).toDF("doc_id", "text", "label")
    val feats = LogitTrain.features(blob, "text", "doc_id", col("label"))
      .collect()(0).getSeq[Double](1)
    assert(feats(2) == 100.0)
    // training over the blob corpus completes without long overflow
    val many = Seq.tabulate(64)(i => (i.toLong, "y" * 2000, (i % 2).toDouble))
      .toDF("doc_id", "text", "label")
    val m = LogitTrain.train(
      LogitTrain.features(many, "text", "doc_id", col("label")),
      iters = 3, lr = 0.3)
    assert(m.n == 64L && !m.mse.isNaN)
  }
}
