package graft.som

import graft.SparkSpec
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

  test("collectIfSmall: caps per task, preserves partition ids, rejects big input") {
    import spark.implicits._
    // 100 one-value rows over 5 partitions, partitions 1 and 4 empty
    val layout = Seq(0 until 30, 0 until 0, 30 until 60, 60 until 100, 0 until 0)
    val df = spark.sparkContext.parallelize(layout, 5)
      .flatMap(_.map(i => Seq(i.toFloat))).toDF("embedding")
    assert(df.schema("embedding").dataType.sql == "ARRAY<FLOAT>")
    val small = Som.collectIfSmallDf(df, "embedding", threshold = 100L)
    assert(small.isDefined)
    val (chunks, nParts) = small.get
    assert(nParts == 5)
    assert(chunks.map(_._1).toSeq == (0 until 5))
    // same rows, same per-partition order as the frame itself
    assert(chunks.map(_._2.map(_.head.toInt).toSeq).toSeq == layout.map(_.toSeq))
    assert(Som.collectIfSmallDf(df, "embedding", threshold = 99L).isEmpty,
      "100-value input must not pass a 99-value threshold")
    assert(Som.collectIfSmallDf(df, "embedding", threshold = 39L).isEmpty,
      "a 40-value partition must not pass a 39-value cap")
    assert(Som.collectIfSmallDf(df, "embedding", threshold = 0L).isEmpty, "0 disables")
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

  test("foldDeterministicLocal replays reduceDeterministic's exact topology") {
    val sc = spark.sparkContext
    // doubles chosen so a different association changes the sum
    val vals = (0 until 37).map(i => Array(math.pow(10.0, (i % 9) - 4)))
    for (depth <- Seq(1, 2, 3)) {
      val distRes = SomKernels.reduceDeterministic(
        sc.parallelize(vals.indices.map(i => (i, vals(i).clone())), 37),
        37, depth) { (a, b) => SomKernels.addInPlace(a, b); a }
      val localRes = SomKernels.foldDeterministicLocal(
        vals.indices.map(i => (i, vals(i).clone())), 37, depth) { (a, b) =>
        SomKernels.addInPlace(a, b); a
      }
      assert(java.lang.Double.doubleToLongBits(distRes(0)) ==
        java.lang.Double.doubleToLongBits(localRes(0)),
        s"fold divergence at depth=$depth")
    }
  }
}
