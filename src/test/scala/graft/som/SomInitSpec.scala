package graft.som

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Distributed initializers + the expression-based transform path. */
class SomInitSpec extends SparkSpec {
  import spark.implicits._

  test("distributed pcaInit matches the golden fixture (`tests.py:129-134`)") {
    val df = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(1f, 0f), Seq(0f, 1f)).toDF("features")
    val cb = new Som(SomConfig(2, 2)).pcaInit(df)
    val s = 1.41421356
    val expected = Map((0, 0) -> Array(0.0, -s), (0, 1) -> Array(-s, 0.0),
      (1, 0) -> Array(s, 0.0), (1, 1) -> Array(0.0, s))
    for (((i, j), exp) <- expected; c <- 0 until 2)
      assert(math.abs(cb(i, j)(c) - exp(c)) < 1e-6, s"w[$i][$j][$c]=${cb(i, j)(c)}")
  }

  test("sampleInit draws existing rows, deterministic per seed (`xpysom.py:749-759`)") {
    val vals = (0 until 20).map(i => Seq(i.toFloat, (i * 2).toFloat))
    val df = vals.toDF("features")
    val som = new Som(SomConfig(2, 2, seed = 11))
    val cb1 = som.sampleInit(df)
    val cb2 = som.sampleInit(df)
    assert(cb1.weights.sameElements(cb2.weights))
    for (n <- 0 until 4) {
      val row = cb1.weights.slice(n * 2, n * 2 + 2)
      assert(vals.exists(v => v(0).toDouble == row(0) && v(1).toDouble == row(1)))
    }
  }

  test("withBmu (expression) agrees with transform (mapPartitions) on all distances") {
    val rnd = new scala.util.Random(31)
    val df = Seq.fill(64)(Seq.fill(6)(rnd.nextFloat() * 2 - 1)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "features")
    val rows = Seq.fill(12)(Array.fill(6)(rnd.nextDouble() * 2 - 1))
    // the batched distance kernels the mapPartitions paths (`fit`,
    // `activate`) run, argmin taken on the driver
    val xs = df.orderBy("id").collect().flatMap(_.getSeq[Float](1).map(_.toDouble))
    val w = rows.flatten.toArray
    for (dist <- Seq("euclidean", "cosine", "manhattan", "norm_p")) {
      val m = SomModel.fromWeights(SomConfig(3, 4, distance = dist, normP = 3.0), rows)
      val out = new Array[Double](64 * 12)
      m.config.distanceFn.compute(xs, 64, w, 12, 6, null, out)
      val best = new Array[Int](64)
      Distances.argminRows(out, 64, 12, best)
      val a = best.zipWithIndex.map { case (b, i) => i.toLong -> ((b, b / 4, b % 4)) }.toMap
      val b = m.withBmu(df).select("id", "bmu_id", "bmu_i", "bmu_j").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
      assert(a == b, s"distance=$dist")
    }
  }

  test("ingest dispatch: ml.linalg.Vector column (`xpysom.py:487-510` analogue)") {
    import org.apache.spark.ml.linalg.Vectors
    val df = Seq(
      (0L, Vectors.dense(1.0, 2.0)),
      (1L, Vectors.dense(3.0, 1.0)),
      (2L, Vectors.sparse(2, Seq((0, 5.0))))
    ).toDF("id", "features")
    val m = new Som(SomConfig(2, 2, seed = 4)).fit(df, "features", 2)
    assert(m.dim == 2)
    // arrays and vectors produce the same training result
    val df2 = Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 1f)), (2L, Seq(5f, 0f)))
      .toDF("id", "features")
    val m2 = new Som(SomConfig(2, 2, seed = 4)).fit(df2, "features", 2)
    assert(m.codebook.weights.zip(m2.codebook.weights)
      .forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("ingest dispatch: CSV source (iris-style)") {
    val tmp = java.nio.file.Files.createTempDirectory("som-csv")
    val csv = tmp.resolve("iris.csv")
    java.nio.file.Files.writeString(csv,
      "5.1,3.5,1.4,0.2,setosa\n4.9,3.0,1.4,0.2,setosa\n6.2,3.4,5.4,2.3,virginica\n")
    val raw = spark.read.csv(csv.toString)
      .toDF("sl", "sw", "pl", "pw", "species")
    val df = raw.select(
      array(col("sl"), col("sw"), col("pl"), col("pw"))
        .cast("array<float>").as("features"),
      col("species"))
    val m = new Som(SomConfig(2, 2, seed = 9)).fit(df, "features", 3)
    val lm = m.labelsMap(df, "species")
    assert(lm.count() >= 2) // both species land somewhere
  }

  test("trainBatch/trainRandom aliases (`xpysom.py:597-605`)") {
    val df = Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 1f))).toDF("id", "features")
    val som = new Som(SomConfig(2, 2, seed = 1))
    val m1 = som.trainBatch(df, "features", 2)
    val m2 = som.trainRandom(df, "features", 2)
    assert(m1.codebook.weights.sameElements(m2.codebook.weights))
  }
}
