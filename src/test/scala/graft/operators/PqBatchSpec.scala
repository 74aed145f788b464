package graft.operators

import graft.SparkSpec
import graft.operators.IvfReference._
import org.apache.spark.sql.functions._

/** PQ / IVF-PQ / IVF-SQ serving: one scan answers the whole query batch,
  * row-for-row equal to a driver-side reference ([[IvfReference]]) at
  * every batch size.
  */
class PqBatchSpec extends SparkSpec {
  import spark.implicits._

  private def mkVecs(n: Int) = {
    val rnd = new scala.util.Random(7)
    (0L until n.toLong).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }

  test("k-means-trained PQ codebooks: same layout, lower quantization error than sampling") {
    val vecs = mkVecs(400).persist()
    try {
      val (m, k) = (4, 4)
      val subDim = 2
      val cbKm = Similarity.pqTrainCodebookKmeans(vecs, "embedding", "vec_id",
        m = m, k = k, iters = 4)
      assert(cbKm.length == m * k * subDim)
      // deterministic: a second training run is bit-identical
      assert(cbKm.sameElements(Similarity.pqTrainCodebookKmeans(
        vecs, "embedding", "vec_id", m = m, k = k, iters = 4)))
      // serving runs unchanged on the same layout
      val codes = Similarity.pqEncode(vecs, "embedding", "vec_id", cbKm, m, k)
      assert(codes.count() == 400)
      // quality: per-subspace quantization error (mean d2 of each
      // subvector to its nearest centroid) beats the first-k-by-id
      // sampled codebook on every subspace
      val sample = Similarity.pqCodebookFromRows(
        vecs.orderBy("vec_id").limit(k).collect()
          .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq, m)
      def qe(cb: Array[Double], j: Int): Double = {
        val sub = vecs.select(col("vec_id").as("id"),
          slice(col("embedding"), j * subDim + 1, subDim).as("sub"))
        val centroids = (0 until k).map(c =>
          java.util.Arrays.copyOfRange(cb, (j * k + c) * subDim,
            (j * k + c + 1) * subDim)).toArray
        Kmeans.assign(sub, "sub", "id", Kmeans.Model(centroids))
          .agg(avg(col("d2"))).head().getDouble(0)
      }
      for (j <- 0 until m)
        assert(qe(cbKm, j) < qe(sample, j),
          s"k-means codebook not better than sampling on subspace $j")
    } finally { vecs.unpersist(); () }
  }

  private def gaussQueries(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
  }

  test("pqTopKFromCodes == brute-force ADC at 1, 5 and 23 queries, with and without self-exclusion") {
    val vecs = mkVecs(300)
    val cb = Similarity.pqTrainCodebook(vecs, "embedding", m = 4, k = 4)
    val codes = Similarity.pqEncode(vecs, "embedding", "vec_id", cb, m = 4, k = 4)
      .persist()
    // query ids 0..22 are corpus ids, so self-exclusion bites; 300 rows
    // over 4^4 code words tie on adc, so the nid tie-break bites too
    val qs = gaussQueries(11, 23)
    try {
      val rows = codeRows(codes)
      for (n <- Seq(1, 5, 23); excludeSelf <- Seq(true, false)) {
        val got = collectTopK(Similarity.pqTopKFromCodes(codes, cb, m = 4, k = 4,
          qs.take(n), kNN = 7, excludeSelf = excludeSelf))
        assert(got == adcTopK(rows, cb, 4, 4, qs.take(n), 7, excludeSelf),
          s"n=$n excludeSelf=$excludeSelf")
      }
    } finally { codes.unpersist(blocking = false); () }
  }

  test("batch serving plans ONE file scan regardless of batch size") {
    val vecs = mkVecs(200)
    val cb = Similarity.pqTrainCodebook(vecs, "embedding", m = 4, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqbatch_").toString
    try {
      Similarity.writePqIndex(vecs, "embedding", "vec_id", cb, m = 4, k = 4,
        s"$dir/index")
      val (codes, cb2, m2, k2) = Similarity.readPqIndex(spark, s"$dir/index")
      val qs = gaussQueries(3, 100)
      def scanCount(df: org.apache.spark.sql.DataFrame): Int =
        "(?m)Scan parquet".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      for (n <- Seq(1, 100)) {
        val scans = scanCount(
          Similarity.pqTopKFromCodes(codes, cb2, m2, k2, qs.take(n), kNN = 5))
        assert(scans == 1, s"$n queries should plan exactly one scan, got $scans")
      }
      // and the 100-query batch still answers correctly (5 ranks per qid)
      val n = Similarity.pqTopKFromCodes(codes, cb2, m2, k2, qs, kNN = 5)
        .groupBy("qid").count().collect()
      assert(n.length == 100 && n.forall(_.getLong(1) == 5))
    } finally { graft.BenchData.deleteRecursively(dir) }
  }

  test("ivfPqTopKFromCodes == pruned brute-force ADC at 1, 5 and 23 queries, with and without self-exclusion") {
    val vecs = mkVecs(400)
    val model = new graft.som.Som(
      graft.som.SomConfig(2, 2, seed = 42)).fit(vecs, "embedding", numEpochs = 2)
    val cb = Similarity.pqTrainCodebook(vecs, "embedding", m = 4, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqbatch_").toString
    val qs = gaussQueries(17, 23)
    try {
      Similarity.writeIvfPqIndex(vecs, "embedding", "vec_id", model, cb,
        m = 4, k = 4, s"$dir/index")
      val codes = spark.read.parquet(s"$dir/index/codes")
      val rows = codeRows(codes)
      for (n <- Seq(1, 5, 23); excludeSelf <- Seq(true, false)) {
        val got = collectTopK(Similarity.ivfPqTopKFromCodes(codes, model, cb,
          m = 4, k = 4, qs.take(n), kNN = 6, nProbe = 2, excludeSelf = excludeSelf))
        val want = adcTopK(rows, cb, 4, 4, qs.take(n), 6, excludeSelf,
          q => probedCells(model, q, 2))
        assert(got == want, s"n=$n excludeSelf=$excludeSelf")
      }
    } finally { graft.BenchData.deleteRecursively(dir) }
  }

  /** The one-shot entry points serve through the one batch form at any
    * batch size: each must equal the driver-side reference at 1, 5 and
    * 7 queries.
    */
  test("pqTopK, ivfPqTopK and ivfSqTopK equal the reference at 1, 5 and 7 queries") {
    val vecs = mkVecs(200)
    val model = new graft.som.Som(
      graft.som.SomConfig(2, 2, seed = 42)).fit(vecs, "embedding", numEpochs = 2)
    val cb = Similarity.pqTrainCodebook(vecs, "embedding", m = 4, k = 4)
    val sq = Similarity.sqTrain(vecs, "embedding")
    val pqRows = codeRows(Similarity.ivfPqAssign(vecs, "embedding", "vec_id",
      model, cb, m = 4, k = 4))
    val sqCodes = Similarity.ivfSqAssign(vecs, "embedding", "vec_id", model, sq)
      .persist()
    val qs = gaussQueries(31, 7)
    try {
      for (n <- Seq(1, 5, 7)) {
        val sub = qs.take(n)
        assert(collectTopK(Similarity.pqTopK(vecs, "embedding", "vec_id", cb,
            m = 4, k = 4, sub, kNN = 5)) ==
          adcTopK(pqRows, cb, 4, 4, sub, 5, excludeSelf = true),
          s"pqTopK at n=$n")
        assert(collectTopK(Similarity.ivfPqTopK(vecs, "embedding", "vec_id",
            model, cb, m = 4, k = 4, sub, kNN = 5, nProbe = 2)) ==
          adcTopK(pqRows, cb, 4, 4, sub, 5, excludeSelf = true,
            q => probedCells(model, q, 2)),
          s"ivfPqTopK at n=$n")
        // IVF-SQ reference: flat SQ serving, one query at a time, over
        // only that query's probed cells
        val sqWant = sub.flatMap { case (qid, q) =>
          collectTopK(Similarity.sqTopK(
            sqCodes.where(col("bmu_id").isin(probedCells(model, q, 2).toSeq: _*)),
            "codes", "id", sq, Seq((qid, q)), k = 5))
        }.toSet
        assert(collectTopK(Similarity.ivfSqTopK(vecs, "embedding", "vec_id",
            model, sq, sub, kNN = 5, nProbe = 2)) == sqWant,
          s"ivfSqTopK at n=$n")
      }
    } finally { sqCodes.unpersist(blocking = false); () }
  }

  test("kernel agreement: adcBatch and adcAt match per-query adc tables") {
    val rnd = new scala.util.Random(23)
    val cb = Array.fill(4 * 4 * 2)(rnd.nextGaussian()) // m=4, k=4, subDim=2
    val qs = (0 until 6).map(_ => Array.fill(8)(rnd.nextGaussian()))
    val tables = new Array[Double](6 * 4 * 4)
    qs.zipWithIndex.foreach { case (q, qi) =>
      System.arraycopy(Similarity.pqAdcTable(q, cb, 4, 4), 0, tables, qi * 16, 16)
    }
    val codes = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(1, 3, 0, 2))
    val batch = graft.plans.PqKernel.adcBatch(codes, tables, 6, 4)
    for (qi <- 0 until 6) {
      val single = graft.plans.PqKernel.adc(codes,
        Similarity.pqAdcTable(qs(qi), cb, 4, 4), 4)
      assert(batch.getDouble(qi) == single)
      assert(graft.plans.PqKernel.adcAt(codes, tables, qi, 4) == single)
    }
  }
}
