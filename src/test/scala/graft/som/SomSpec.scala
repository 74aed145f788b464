package graft.som

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Port of the reference's model-level unit suite (`tests.py`): the
  * spiked 5x5x1 fixture, determinism, and the QE-decreases convergence
  * property.
  */
class SomSpec extends SparkSpec {
  import spark.implicits._

  /** `tests.py:24-33`: 5x5x1 map, zero weights except w[2,3]=5, w[1,1]=2,
    * std_coeff=1.
    */
  private def fixtureModel(extraSpikes: Map[(Int, Int), Double] = Map.empty): SomModel = {
    val rows = (0 until 25).map { n =>
      val (i, j) = (n / 5, n % 5)
      val v = if (i == 2 && j == 3) 5.0
      else if (i == 1 && j == 1) 2.0
      else extraSpikes.getOrElse((i, j), 0.0)
      Array(v)
    }
    SomModel.fromWeights(SomConfig(5, 5, stdCoeff = 1.0), rows)
  }

  private def df1(vals: Double*): DataFrame =
    vals.zipWithIndex.map { case (v, i) => (i.toLong, Seq(v.toFloat)) }.toDF("id", "features")

  test("win_map (`tests.py:49-52`)") {
    val wm = fixtureModel().winMap(df1(5.0, 2.0)).collect()
      .map(r => ((r.getInt(1), r.getInt(2)),
        r.getSeq[scala.collection.Seq[Float]](3))).toMap
    assert(wm((2, 3)).head.toSeq == Seq(5.0f))
    assert(wm((1, 1)).head.toSeq == Seq(2.0f))
    assert(wm.size == 2)
  }

  test("win_map maxPerNeuron bounds each neuron's sample payload") {
    val df = df1(5.0, 5.0, 5.0, 5.0, 2.0)
    val wm = fixtureModel().winMap(df, maxPerNeuron = 2).collect()
      .map(r => ((r.getInt(1), r.getInt(2)),
        r.getSeq[scala.collection.Seq[Float]](3).length)).toMap
    assert(wm((2, 3)) == 2) // 4 hits capped at 2
    assert(wm((1, 1)) == 1)
    // deterministic: same cap twice -> same sample selection
    val again = fixtureModel().winMap(df, maxPerNeuron = 2).collect()
      .map(r => (r.getInt(0), r.getSeq[scala.collection.Seq[Float]](3))).toMap
    val first = fixtureModel().winMap(df, maxPerNeuron = 2).collect()
      .map(r => (r.getInt(0), r.getSeq[scala.collection.Seq[Float]](3))).toMap
    assert(again == first)
  }

  test("labels_map (`tests.py:54-59`)") {
    val df = Seq((Seq(5.0f), "a"), (Seq(2.0f), "b")).toDF("features", "label")
    val lm = fixtureModel().labelsMap(df, "label").collect()
      .map(r => ((r.getInt(1), r.getInt(2), r.getString(3)), r.getLong(4))).toMap
    assert(lm((2, 3, "a")) == 1L)
    assert(lm((1, 1, "b")) == 1L)
  }

  test("activation_response (`tests.py:61-64`)") {
    val ar = fixtureModel().activationResponse(df1(5.0, 2.0)).collect()
      .map(r => ((r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    assert(ar((2, 3)) == 1L && ar((1, 1)) == 1L && ar.size == 2)
  }

  test("activate argmin = flat 13 for input 5.0 (`tests.py:66-67`)") {
    val act = fixtureModel().activate(df1(5.0)).collect().head.getSeq[Double](2)
    assert(act.zipWithIndex.minBy(_._1)._2 == 13)
    val t = fixtureModel().transform(df1(5.0)).collect().head
    assert(t.getInt(2) == 13) // bmu_id
  }

  test("distance_from_weights matches norm (`tests.py:69-75`)") {
    val m = fixtureModel()
    val data = (-5 until 5).map(v => (v.toLong, Seq(v.toFloat))).toDF("id", "features")
    val rows = m.activate(data, "features").collect() // euclidean part: check via quantize instead
    val q = m.quantize(data).collect()
    q.foreach { r =>
      val v = r.getSeq[Float](1).head.toDouble
      val d = r.getDouble(3)
      val expected = (0 until 25).map { n =>
        val w = if (n == 13) 5.0 else if (n == 6) 2.0 else 0.0
        math.abs(v - w)
      }.min
      assert(math.abs(d - expected) < 1e-9)
    }
  }

  test("quantization_error exact values (`tests.py:77-79`)") {
    val m = fixtureModel()
    assert(m.quantizationError(df1(5.0, 2.0)) == 0.0)
    assert(math.abs(m.quantizationError(df1(4.0, 1.0)) - 1.0) < 1e-9)
  }

  test("topographic_error constructed cases (`tests.py:81-90`)") {
    val m = fixtureModel(Map((2, 4) -> 6.0, (4, 4) -> 15.0, (0, 0) -> 14.0))
    assert(m.topographicError(df1(5.0)) == 0.0)
    assert(m.topographicError(df1(15.0)) == 1.0)
  }

  test("topographic_error on 1x1 map is NaN (`xpysom.py:721-724`)") {
    val m = SomModel.fromWeights(SomConfig(1, 1), Seq(Array(0.0)))
    assert(m.topographicError(df1(1.0)).isNaN)
  }

  test("quantization (`tests.py:93-96`)") {
    val q = fixtureModel().quantize(df1(4.0, 2.0)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).head).toMap
    assert(q(0L) == 5.0)
    assert(q(1L) == 2.0)
  }

  test("same seed => identical training result (`tests.py:98-109`)") {
    val rnd = new scala.util.Random(99)
    val data = Seq.fill(100)(Seq.fill(2)(rnd.nextFloat())).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "features")
    def train(): Array[Double] =
      new Som(SomConfig(5, 5, sigma = 1.0, learningRate = 0.5, seed = 1))
        .fit(data, "features", numEpochs = 10).codebook.weights
    val w1 = train()
    val w2 = train()
    assert(w1.zip(w2).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("QE strictly decreases after training (`tests.py:111-121`)") {
    val som = new Som(SomConfig(5, 5, sigma = 1.0, learningRate = 0.5, seed = 1))
    val d1 = Seq((0L, Seq(4f, 2f)), (1L, Seq(3f, 1f))).toDF("id", "features")
    val init = Codebook.randomUniform(5, 5, 2, seed = 1)
    val m0 = new SomModel(som.config, init)
    val q1 = m0.quantizationError(d1)
    val m1 = som.fit(d1, "features", 10, init = init)
    assert(m1.quantizationError(d1) < q1)

    val d2 = Seq((0L, Seq(1f, 5f)), (1L, Seq(6f, 7f))).toDF("id", "features")
    val q2 = m1.quantizationError(d2)
    val m2 = new Som(som.config).fit(d2, "features", 10, init = m1.codebook)
    assert(m2.quantizationError(d2) < q2)
  }

  test("split training via iterBeg/iterEnd equals one-shot (`xpysom.py:458`)") {
    val rnd = new scala.util.Random(42)
    val data = Seq.fill(80)(Seq.fill(3)(rnd.nextFloat())).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "features")
    val cfg = SomConfig(4, 4, sigma = 1.0, seed = 3)
    val oneShot = new Som(cfg).fit(data, "features", numEpochs = 10)
    // checkpoint at epoch 5, resume with the decay schedule positioned
    // at the absolute epoch index
    val half = new Som(cfg).fit(data, "features", numEpochs = 10, iterEnd = 5)
    val resumed = new Som(cfg).fit(data, "features", numEpochs = 10,
      init = half.codebook, iterBeg = 5)
    assert(oneShot.codebook.weights.sameElements(resumed.codebook.weights),
      "fit(0..5)+fit(5..10) must be bit-identical to fit(0..10)")
    // out-of-range bounds fail loudly
    intercept[IllegalArgumentException] {
      new Som(cfg).fit(data, "features", numEpochs = 10, iterBeg = 7, iterEnd = 5)
    }
    intercept[IllegalArgumentException] {
      new Som(cfg).fit(data, "features", numEpochs = 10, iterEnd = 11)
    }
  }

  test("reduceDeterministic: fixed combine topology, any width/depth") {
    val sc = spark.sparkContext
    def comb(l: (Array[Double], Array[Double]), r: (Array[Double], Array[Double])) = {
      SomKernels.addInPlace(l._1, r._1); SomKernels.addInPlace(l._2, r._2); l
    }
    for (width <- Seq(1, 2, 4, 5, 6, 16, 33, 37); depth <- Seq(1, 2, 3)) {
      val vals = (0 until width).map(pid => (Array(pid.toDouble, 1.0), Array(pid * 2.0)))
      val expSum = (0 until width).map(_.toDouble).sum
      for ((form, parts) <- Seq(
          "spread" -> graft.Parts.Spread(sc.parallelize(vals, width)),
          "local" -> graft.Parts.Local(vals.map(v => (v._1.clone(), v._2.clone()))))) {
        val (a, b) = parts.reduce(depth)(comb)
        assert(a.toSeq == Seq(expSum, width.toDouble), s"$form w=$width d=$depth")
        assert(b.toSeq == Seq(expSum * 2), s"$form w=$width d=$depth")
      }
    }
  }

  test("verbose progress line mirrors the reference format (`xpysom.py:50-69`)") {
    // [ t / T ] p% - elapsed elapsed - left left, digit-aligned on the
    // full schedule width
    assert(Som.progressLine(0, 5, 10, 2.0) ==
      " [  1 / 5 ]  20% - 0:00:02 elapsed - 0:00:08 left")
    assert(Som.progressLine(4, 5, 10, 10.0) ==
      " [  5 / 5 ] 100% - 0:00:10 elapsed - 0:00:00 left")
  }

  test("result invariant to partitioning (dask-path analogue)") {
    val rnd = new scala.util.Random(5)
    val vals = Seq.fill(64)(Seq.fill(3)(rnd.nextFloat()))
    val df1p = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("id", "features").repartition(1)
    val df8p = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("id", "features").repartition(8)
    val cfg = SomConfig(4, 4, seed = 2, batchSize = 7)
    val init = Codebook.randomUniform(4, 4, 3, seed = 2)
    val w1 = new Som(cfg).fit(df1p, "features", 3, init = init).codebook.weights
    val w8 = new Som(cfg).fit(df8p, "features", 3, init = init).codebook.weights
    // double-precision sums: partition order only perturbs at ~1e-13
    assert(w1.zip(w8).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("feature-count mismatch raises (`xpysom.py:361-367`)") {
    val m = fixtureModel()
    val bad = Seq((0L, Seq(1f, 2f))).toDF("id", "features")
    val ex = intercept[Exception](m.transform(bad).collect())
    assert(ex.getMessage.contains("features") || ex.getCause != null)
  }

  test("save/load round-trip (`xpysom.py:868-892`)") {
    val m = fixtureModel()
    val path = java.nio.file.Files.createTempDirectory("som-save").toString
    m.save(spark, path)
    val loaded = SomModel.load(spark, path)
    assert(loaded.config == m.config)
    assert(loaded.codebook.weights.sameElements(m.codebook.weights))
  }

  test("save/load round-trips scientific-notation hyperparameters") {
    // 1e-4 formats as "1.0E-4" — the loader must parse negative exponents
    val m = SomModel.fromWeights(
      SomConfig(2, 2, learningRateN = 0.0001, sigmaN = 0.00005),
      Seq.fill(4)(Array(1.0, 2.0)))
    val path = java.nio.file.Files.createTempDirectory("som-sci").toString
    m.save(spark, path)
    val loaded = SomModel.load(spark, path)
    assert(loaded.config == m.config)
  }

  test("empty input: QE/TE return NaN like the reference's empty mean") {
    val m = fixtureModel()
    val empty = df1(5.0).where("id < 0")
    assert(m.quantizationError(empty).isNaN)
    assert(m.topographicError(empty).isNaN)
  }

  test("quantizationError: partition sums added in partition order, the same bits every call") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    val m = SomModel.fromWeights(SomConfig(3, 3),
      Seq.fill(9)(Array.fill(4)(rnd.nextDouble() * 3)))
    // 7 partitions: partition 3 is empty, partition 5 has a null-feature row
    val byPart = (0 until 7).map { p =>
      if (p == 3) Seq.empty[Row]
      else Seq.tabulate(40 + 13 * p) { i =>
        val r = new scala.util.Random(p * 1000 + i)
        Row((p * 1000 + i).toLong,
          if (p == 5 && i == 7) null else Seq.fill(4)(r.nextDouble() * 5 - 1))
      }
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until 7, 7).flatMap(byPart(_)),
      StructType(Seq(StructField("id", LongType),
        StructField("features", ArrayType(DoubleType)))))
    // reference: each row's q_dist from `quantize` (a projection, so the
    // same partitions), summed per partition in row order, the partition
    // sums added in partition order
    val perPart = m.quantize(df).select("q_dist").rdd.glom().collect()
      .map(_.filterNot(_.isNullAt(0)).map(_.getDouble(0)))
    assert(perPart.length == 7 && perPart(3).isEmpty)
    val n = perPart.map(_.length).sum
    assert(n == byPart.map(_.length).sum - 1)
    val exp = perPart.map(_.foldLeft(0.0)(_ + _)).foldLeft(0.0)(_ + _) / n
    val bits = java.lang.Double.doubleToLongBits _
    val got = Seq.fill(5)(m.quantizationError(df))
    got.foreach(q => assert(bits(q) == bits(exp), s"$q vs reference $exp"))
  }

  test("wrong-dimension rows fail loudly on the expression path too") {
    val m = fixtureModel()
    val bad = Seq((0L, Seq(1f, 2f))).toDF("id", "features")
    val ex = intercept[Exception](m.withBmu(bad).collect())
    assert(ex.getMessage.contains("features") || ex.getCause != null)
  }

  test("hexagonal training runs and stays deterministic") {
    val rnd = new scala.util.Random(17)
    val data = Seq.fill(50)(Seq.fill(3)(rnd.nextFloat())).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "features")
    val cfg = SomConfig(4, 4, topology = "hexagonal", seed = 3)
    val w1 = new Som(cfg).fit(data, "features", 5).codebook.weights
    val w2 = new Som(cfg).fit(data, "features", 5).codebook.weights
    assert(w1.zip(w2).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("every query accepts vector and numeric-array features alike; null features are skipped") {
    import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(23)
    // integer-valued features: every element type carries the same doubles
    val vals = Seq.fill(60)(Array.fill(3)((rnd.nextInt(21) - 10).toDouble))
    val m = SomModel.fromWeights(SomConfig(3, 4),
      Seq.fill(12)(Array.fill(3)(rnd.nextDouble() * 20 - 10)))
    val types: Seq[(DataType, Array[Double] => Any)] = Seq(
      (SQLDataTypes.VectorType, v => Vectors.dense(v)),
      (ArrayType(FloatType), v => v.map(_.toFloat).toSeq),
      (ArrayType(DoubleType), v => v.toSeq),
      (ArrayType(IntegerType), v => v.map(_.toInt).toSeq))
    def frame(t: DataType, conv: Array[Double] => Any): DataFrame = {
      val rows = vals.zipWithIndex.map { case (v, i) => Row(i.toLong, (i % 3).toLong, conv(v)) } :+
        Row(60L, 0L, null)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
        StructField("id", LongType), StructField("label", LongType), StructField("features", t))))
    }
    def vec(a: Any): Seq[Double] = SomData.rowToVec(Row(a), 0).toSeq
    def answers(df: DataFrame): Seq[Any] = {
      val bmu = m.withBmu(df).select("id", "bmu_id", "bmu_i", "bmu_j").collect()
        .map(r => r.getLong(0) -> (1 to 3).map(i => Option(r.get(i)))).toMap
      val transformed = m.transform(df).select("id", "bmu_id", "bmu_i", "bmu_j").collect()
        .map(r => r.getLong(0) -> (1 to 3).map(i => Option(r.get(i)))).toMap
      assert(transformed == bmu)
      assert(bmu(60L).forall(_.isEmpty), "null features: null BMU")
      val ar = m.activationResponse(df).collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
      val lm = m.labelsMap(df, "label").collect()
        .map(r => (r.getInt(0), r.getLong(3)) -> r.getLong(4)).toMap
      val wm = m.winMap(df).collect()
        .map(r => r.getInt(0) -> r.getSeq[Any](3).map(vec).sortBy(_.mkString(","))).toMap
      val q = m.quantize(df).select("id", "quantized", "q_dist").collect()
        .map(r => r.getLong(0) -> (Option(r.getSeq[Double](1)), Option(r.get(2)))).toMap
      assert(q(60L) == ((None, None)), "null features: null quantization")
      assert(ar.values.sum == 60 && lm.values.sum == 60 && wm.values.map(_.size).sum == 60,
        "null features are not assigned")
      val nonNull = df.where("id < 60")
      val qe = m.quantizationError(df)
      val te = m.topographicError(df)
      assert(qe == m.quantizationError(nonNull) && te == m.topographicError(nonNull))
      val meanQ = q.values.flatMap(_._2).map(_.asInstanceOf[Double]).sum / 60
      assert(math.abs(meanQ - qe) < 1e-12)
      Seq(bmu, ar, lm, wm, q, qe, te)
    }
    val all = types.map { case (t, conv) => t -> answers(frame(t, conv)) }
    all.tail.foreach { case (t, a) =>
      a.zip(all.head._2).zipWithIndex.foreach { case ((got, exp), i) =>
        assert(got == exp, s"$t answer $i differs from ${all.head._1}")
      }
    }
  }
}
