package graft.som

import graft.{Parts, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the tiny-input driver-local training fast path: it must be a
  * pure EXECUTION strategy — bit-identical codebooks to the distributed
  * epoch loop on the same input, because the som_* correctness oracles
  * hash exact values and the resume/determinism contracts assume one
  * result per (data, config, epochs).
  */
class SomLocalFitSpec extends SparkSpec {

  private def synth(n: Int, dim: Int, parts: Int): DataFrame =
    spark.range(n).repartition(parts).select(col("id"),
      transform(sequence(lit(1), lit(dim)),
        i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))

  private val cfg = SomConfig(4, 3, seed = 11)

  test("local fast path is bit-identical to the distributed path") {
    val df = synth(500, 8, parts = 5) // 4,000 values — far under threshold
    val local = new Som(cfg).fit(df, "embedding", numEpochs = 4)
    val dist = new Som(cfg.copy(localFitThreshold = 0L))
      .fit(df, "embedding", numEpochs = 4)
    assert(local.codebook.weights.sameElements(dist.codebook.weights),
      "local fit diverged from the distributed epoch loop")
  }

  test("fitMatrix == fit on the same rows as one partition (the in-core analogue)") {
    val df = synth(350, 8, parts = 1).coalesce(1)
    val matrix = df.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val inCore = new Som(cfg).fitMatrix(matrix, numEpochs = 4)
    val viaDf = new Som(cfg).fit(df, "embedding", numEpochs = 4)
    assert(inCore.codebook.weights.sameElements(viaDf.codebook.weights),
      "fitMatrix diverged from the 1-partition DataFrame fit")
    // validation parity with fit
    intercept[IllegalArgumentException] {
      new Som(cfg).fitMatrix(Array.empty[Array[Float]], numEpochs = 2)
    }
    intercept[IllegalArgumentException] {
      new Som(cfg).fitMatrix(Array(Array(1f, 2f), Array(1f)), numEpochs = 2)
    }
  }

  test("bit-identity holds for hex topology and cosine distance too") {
    val df = synth(300, 6, parts = 4)
    val c = SomConfig(3, 4, topology = "hexagonal", distance = "cosine", seed = 5)
    val local = new Som(c).fit(df, "embedding", numEpochs = 3)
    val dist = new Som(c.copy(localFitThreshold = 0L))
      .fit(df, "embedding", numEpochs = 3)
    assert(local.codebook.weights.sameElements(dist.codebook.weights))
  }

  test("resume contract survives the fast path: split fit == single fit") {
    val df = synth(400, 8, parts = 3)
    val whole = new Som(cfg).fit(df, "embedding", numEpochs = 6)
    val head = new Som(cfg).fit(df, "embedding", numEpochs = 6, iterEnd = 2)
    val resumed = new Som(cfg).fit(df, "embedding", numEpochs = 6,
      init = head.codebook, iterBeg = 2)
    assert(whole.codebook.weights.sameElements(resumed.codebook.weights))
  }

  test("over-threshold input falls back to the distributed path (same result)") {
    val df = synth(600, 8, parts = 4) // 4,800 values
    val tiny = new Som(cfg.copy(localFitThreshold = 100L)) // forces fallback
      .fit(df, "embedding", numEpochs = 3)
    val dist = new Som(cfg.copy(localFitThreshold = 0L))
      .fit(df, "embedding", numEpochs = 3)
    assert(tiny.codebook.weights.sameElements(dist.codebook.weights))
  }

  test("trainingParts: small input to the driver in partition order, big cached") {
    import spark.implicits._
    // 100 one-value rows over 5 partitions, partitions 1 and 4 empty
    val layout = Seq(0 until 30, 0 until 0, 30 until 60, 60 until 100, 0 until 0)
    val df = spark.sparkContext.parallelize(layout, 5)
      .flatMap(_.map(i => Seq(i.toFloat))).toDF("embedding")
    assert(df.schema("embedding").dataType.sql == "ARRAY<FLOAT>")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def firsts(p: Parts[Array[Array[Float]]]) = p.collect().map(_.map(_.head.toInt).toSeq)
    // within the threshold: the blocks come back to the driver, one per
    // partition in partition order (Parts.load: the 30- and 40-value
    // blocks exceed their 20-value share, so a second job collects them)
    val (small, dim) = Som.trainingParts(df, "embedding", threshold = 100L)
    assert(dim == 1)
    assert(small.isInstanceOf[Parts.Local[_]])
    assert(firsts(small) == layout.map(_.toSeq))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a driver-local input must not stay cached")
    for ((threshold, why) <- Seq(
        99L -> "100-value input must not pass a 99-value threshold",
        39L -> "100-value input must not pass a 39-value threshold",
        0L -> "0 disables")) {
      val (big, _) = Som.trainingParts(df, "embedding", threshold)
      try {
        assert(big.isInstanceOf[Parts.Spread[_]], why)
        assert(firsts(big) == layout.map(_.toSeq))
      } finally big.release()
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    intercept[IllegalArgumentException] {
      Som.trainingParts(df.where(lit(false)), "embedding", threshold = 100L)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("empty partitions participate exactly as in the distributed reduce") {
    val sc = spark.sparkContext
    // partition 1 and 3 empty: filter out their rows after partitioning
    val data = sc.parallelize((0 until 40).map(i => Array(i.toFloat, 1f)), 4)
      .mapPartitionsWithIndex((pid, it) => if (pid % 2 == 1) Iterator.empty else it)
    import spark.implicits._
    val df = data.map(_.toSeq).toDF("embedding")
    val c = SomConfig(3, 3, seed = 2)
    val local = new Som(c).fit(df, "embedding", numEpochs = 2)
    val dist = new Som(c.copy(localFitThreshold = 0L)).fit(df, "embedding", numEpochs = 2)
    assert(local.codebook.weights.sameElements(dist.codebook.weights))
  }

  test("fit with the default threshold == threshold 0, bit for bit, over layouts and containers") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val sc = spark.sparkContext
    def vec(i: Int) = Array.tabulate(4)(j => math.sin(i * 0.7 + j * 1.3).toFloat)
    // 1, 3 and 7 partitions; empty partitions; one partition holding most rows
    val layouts = Seq(
      Seq(0 until 60),
      Seq(0 until 0, 0 until 50, 50 until 60),
      Seq(0 until 5, 0 until 0, 5 until 55, 55 until 57, 0 until 0, 57 until 60, 0 until 0))
    val c = SomConfig(3, 3, seed = 3)
    for (layout <- layouts) {
      val ids = sc.parallelize(layout, layout.length).flatMap(r => r)
      val frames = Seq(
        "array<float>" -> ids.map(i => vec(i).toSeq).toDF("embedding"),
        "array<double>" -> ids.map(i => vec(i).map(_.toDouble).toSeq).toDF("embedding"),
        "vector" -> ids.map(i => Tuple1(Vectors.dense(vec(i).map(_.toDouble)))).toDF("embedding"))
      for ((kind, df) <- frames) {
        val before = sc.getPersistentRDDs.keySet
        val local = new Som(c).fit(df, "embedding", numEpochs = 3)
        assert(sc.getPersistentRDDs.keySet == before)
        val dist = new Som(c.copy(localFitThreshold = 0L)).fit(df, "embedding", numEpochs = 3)
        assert(sc.getPersistentRDDs.keySet == before)
        assert(local.codebook.weights.sameElements(dist.codebook.weights),
          s"$kind over ${layout.length} partitions: local fit diverged")
      }
    }
  }

  test("a tiny input over 100 partitions trains on the driver, bit-equal to threshold 0") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(0 until 300, 100)
      .map(i => Seq.tabulate(4)(j => math.sin(i * 0.7 + j * 1.3).toFloat)).toDF("embedding")
    var local: SomModel = null
    val (_, jobs) = graft.Probe.recordJobs(spark) {
      local = new Som(cfg).fit(df, "embedding", numEpochs = 3)
    }
    assert(jobs.size == 1, "one job reads the input; the epochs run none")
    val dist = new Som(cfg.copy(localFitThreshold = 0L)).fit(df, "embedding", numEpochs = 3)
    assert(local.codebook.weights.sameElements(dist.codebook.weights))
  }

  test("a 4-partition distributed epoch is one job of one stage") {
    import spark.implicits._
    // no exchange upstream, so the job lists no skipped shuffle stage
    val df = spark.sparkContext.parallelize(0 until 200, 4)
      .map(i => Seq.tabulate(4)(j => math.sin(i * 0.7 + j * 1.3).toFloat)).toDF("embedding")
    val som = new Som(cfg)
    val (data, dim) = Som.trainingParts(df, "embedding", threshold = 0L)
    try {
      val cb = Codebook.randomUniform(cfg.x, cfg.y, dim, cfg.seed)
      val (_, jobs) = graft.Probe.recordJobs(spark)(som.epoch(data, cb, 0, 1))
      assert(jobs.size == 1)
      assert(jobs.map(_.stageInfos.size).sum == 1)
    } finally data.release()
  }
}
