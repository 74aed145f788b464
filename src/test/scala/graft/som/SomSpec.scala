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

  test("Parts.reduce: exact merges give one sum over any width, order and form") {
    val sc = spark.sparkContext
    val bits = java.lang.Double.doubleToLongBits _
    for (width <- Seq(1, 2, 4, 5, 6, 16, 33, 37)) {
      // magnitudes 1e-3 .. 1e3: a double sum of these depends on the order
      val vals = (0 until width).map(i => math.pow(10.0, (i % 7) - 3))
      val exp = vals.map(new java.math.BigDecimal(_)).reduce(_ add _).doubleValue
      def partials(seed: Int) = new scala.util.Random(seed).shuffle(vals).map { v =>
        val acc = new ExactSum(2)
        acc.add(0, v); acc.add(1, 1.0)
        acc
      }
      for ((form, parts) <- Seq(
          "spread" -> graft.Parts.Spread(sc.parallelize(partials(width), width)),
          "local" -> graft.Parts.Local(partials(width + 1)))) {
        val Array(sum, n) = parts.reduce(_ merge _).values()
        assert(bits(sum) == bits(exp), s"$form w=$width: $sum vs $exp")
        assert(n == width.toDouble, s"$form w=$width")
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
    // exact partials: the partition layout cannot change a bit
    assert(w1.sameElements(w8))
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

  test("quantizationError: the same bits over any partitioning of the rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    val m = SomModel.fromWeights(SomConfig(3, 3),
      Seq.fill(9)(Array.fill(4)(rnd.nextDouble() * 3)))
    val rows = Seq.tabulate(400) { i =>
      val r = new scala.util.Random(i)
      Row(i.toLong, if (i == 77) null else Seq.fill(4)(r.nextDouble() * 5 - 1))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("features", ArrayType(DoubleType))))
    // 7 partitions with partition 3 empty, and the rows reversed over 1 and 3
    val frames = Seq(
      spark.createDataFrame(spark.sparkContext.parallelize(0 until 7, 7)
        .flatMap(p => rows.filter(r => Seq(0, 1, 2, 4, 5, 6)(r.getLong(0).toInt % 6) == p)),
        schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows.reverse, 1), schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows.reverse, 3), schema))
    // reference: the exact sum of every row's q_dist from `quantize`
    val dists = m.quantize(frames.head).select("q_dist").collect()
      .filterNot(_.isNullAt(0)).map(_.getDouble(0))
    assert(dists.length == 399)
    val exp = dists.map(new java.math.BigDecimal(_)).reduce(_ add _).doubleValue / dists.length
    val bits = java.lang.Double.doubleToLongBits _
    for ((df, i) <- frames.zipWithIndex; q <- Seq.fill(2)(m.quantizationError(df)))
      assert(bits(q) == bits(exp), s"layout $i: $q vs reference $exp")
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
      val act = m.activate(df).select("id", "activation").collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
      assert(act.size == 61 && act(60L).isEmpty, "null features: null activation")
      assert((0 until 60).forall(i => act(i.toLong).exists(_.length == 12)))
      assert(ar.values.sum == 60 && lm.values.sum == 60 && wm.values.map(_.size).sum == 60,
        "null features are not assigned")
      val nonNull = df.where("id < 60")
      val qe = m.quantizationError(df)
      val te = m.topographicError(df)
      assert(qe == m.quantizationError(nonNull) && te == m.topographicError(nonNull))
      val meanQ = q.values.flatMap(_._2).map(_.asInstanceOf[Double]).sum / 60
      assert(math.abs(meanQ - qe) < 1e-12)
      Seq(bmu, ar, lm, wm, q, qe, te, act)
    }
    val all = types.map { case (t, conv) => t -> answers(frame(t, conv)) }
    all.tail.foreach { case (t, a) =>
      a.zip(all.head._2).zipWithIndex.foreach { case ((got, exp), i) =>
        assert(got == exp, s"$t answer $i differs from ${all.head._1}")
      }
    }
  }

  test("one codebook, QE and covariance over any partition layout, either form") {
    import spark.implicits._
    val sc = spark.sparkContext
    // 1, 3, 7 and 16 partitions: empty partitions, one partition holding
    // most rows, rows reversed inside partitions
    val layouts: Seq[Seq[Seq[Int]]] = Seq(
      Seq(0 until 60),
      Seq(Nil, (0 until 55).reverse, 55 until 60),
      Seq(0 until 3, Nil, (3 until 50).reverse, 50 until 52, Nil, 52 until 60, Nil),
      (0 until 16).map(p => (p * 4 until math.min(p * 4 + 4, 60)).reverse))
    val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToLongBits).toSeq
    // a 3x3 map runs the distance kernel in one tile of mostly padded
    // cells; a 6x7 map fills whole tiles and pads the last at 4 and 8 lanes
    for ((c, dim) <- Seq(SomConfig(3, 3, seed = 4, batchSize = 7) -> 4,
                         SomConfig(6, 7, seed = 4, batchSize = 7) -> 16)) {
      val k = c.x * c.y
      def vec(i: Int) = Seq.tabulate(dim)(j => math.sin(i * 0.7 + j * 1.3).toFloat * (j % 4 + 1))
      val results = for (layout <- layouts) yield {
        val df = sc.parallelize(layout, layout.length).flatMap(_.map(vec)).toDF("features")
        val fits = Seq(c, c.copy(localFitThreshold = 0L))
          .map(cfg => bits(new Som(cfg).fit(df, "features", numEpochs = 3).codebook.weights))
        assert(fits.distinct.size == 1, s"$k cells, ${layout.length} partitions: forms differ")
        val model = SomModel.fromWeights(c, Seq.tabulate(k)(n => Array.fill(dim)(n * 0.3 - 1)))
        var cov: Array[Array[Double]] = null
        val (_, jobs) = graft.Probe.recordJobs(spark) { cov = new Som(c).sampleCovariance(df)._1 }
        assert(jobs.size == 1, "sampleCovariance is one pass")
        (fits.head, bits(Array(model.quantizationError(df))), cov.toSeq.map(bits))
      }
      assert(results.distinct.size == 1, s"$k cells: the partition layout changed a bit")
    }
  }

  test("ExactSum: one sum over any order and grouping, exact on any scale") {
    val rnd = new scala.util.Random(12)
    val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToLongBits).toSeq
    // magnitudes 2^-90 .. 2^90, both signs: the window drops the smallest
    val xs = Seq.fill(300)(math.scalb(rnd.nextDouble() - 0.5, rnd.nextInt(181) - 90))
    def summed(vs: Seq[Double], groups: Int): Array[Double] = vs.grouped((vs.length + groups - 1) / groups)
      .map { g => val a = new ExactSum(1); g.foreach(a.add(0, _)); a }.toSeq
      .reduce(_ merge _).values()
    // the model: every value truncated toward zero at the floor of the
    // largest value's window (three 2^30 bins), summed exactly, rounded once
    val top = math.floorDiv(math.getExponent(xs.map(math.abs).max), 30)
    val floor = new java.math.BigDecimal(math.scalb(1.0, 30 * (top - 2)))
    val exp = xs.map(x => new java.math.BigDecimal(x).divide(floor)
      .setScale(0, java.math.RoundingMode.DOWN).multiply(floor)).reduce(_ add _).doubleValue
    val one = bits(summed(xs, 1))
    assert(one == bits(Array(exp)))
    for (g <- Seq(2, 7, 300)) assert(bits(summed(rnd.shuffle(xs), g)) == one, s"$g groups")
    // float32 values within 2^37 of the largest add exactly, on any scale
    for (s <- Seq(-1000, -34, 0, 40, 900)) {
      val fs = Seq.fill(500)(math.scalb((rnd.nextFloat() - 0.5f).toDouble, s - rnd.nextInt(37)))
      val exp = fs.map(new java.math.BigDecimal(_)).reduce(_ add _).doubleValue
      assert(summed(fs, 3)(0) == exp, s"scale 2^$s")
    }
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity))
      intercept[ArithmeticException](new ExactSum(1).add(0, bad))
  }

  test("fit and sampleCovariance give the same bits on any power-of-two scale") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    // 20k rows in [0.5, 1.5): at 2^17 the covariance sums pass 1e14, at
    // 2^34 a winner's feature sums do, and at 2^-34 the squares are ~1e-20
    val base = Seq.fill(20000)(Array.fill(2)(rnd.nextFloat() + 0.5f))
    val init = Seq.tabulate(4)(n => Array(0.6 + n * 0.2, 1.4 - n * 0.2))
    val c = SomConfig(2, 2, seed = 3)
    def run(s: Int) = {
      val df = spark.sparkContext.parallelize(base.map(_.map(math.scalb(_, s)).toSeq), 4).toDF("f")
      val w = new Som(c).fit(df, "f", numEpochs = 2,
        init = Codebook.fromRows(2, 2, init.map(_.map(math.scalb(_, s))))).codebook.weights
      (w, new Som(c).sampleCovariance(df, "f")._1)
    }
    val (w0, cov0) = run(0)
    // the reference covariance from exact BigDecimal sums
    val bd = (v: Double) => new java.math.BigDecimal(v)
    def sum(f: Array[Float] => Double) = base.map(r => bd(f(r))).reduce(_ add _).doubleValue
    val n = base.length
    for (i <- 0 until 2; j <- 0 until 2) {
      val exp = (sum(r => r(i).toDouble * r(j)) - sum(r => r(i)) * sum(r => r(j)) / n) / (n - 1)
      assert(cov0(i)(j) == exp, s"cov($i,$j)")
    }
    for (s <- Seq(-34, 17, 34)) {
      val (w, cov) = run(s)
      assert(w.sameElements(w0.map(math.scalb(_, s))), s"fit at 2^$s")
      assert(cov.flatten.sameElements(cov0.flatten.map(math.scalb(_, 2 * s))), s"covariance at 2^$s")
    }
  }

  test("non-finite features fail loudly in fit, fitMatrix and sampleCovariance") {
    import spark.implicits._
    val c = SomConfig(2, 2, seed = 1)
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val rows = Seq.tabulate(20)(i => Seq(i.toFloat, if (i == 13) bad else 1f))
      val df = spark.sparkContext.parallelize(rows, 3).toDF("emb")
      for (cfg <- Seq(c, c.copy(localFitThreshold = 0L))) {
        val ex = intercept[IllegalArgumentException](new Som(cfg).fit(df, "emb", numEpochs = 2))
        assert(ex.getMessage.contains("emb"), ex.getMessage)
      }
      val ex = intercept[IllegalArgumentException](new Som(c).sampleCovariance(df, "emb"))
      assert(ex.getMessage.contains("emb"), ex.getMessage)
      intercept[IllegalArgumentException] {
        new Som(c).fitMatrix(rows.map(_.toArray).toArray, numEpochs = 2)
      }
      // the queries whose answer sums a distance per row
      val m = SomModel.fromWeights(c, Seq.tabulate(4)(j => Array(j.toDouble, 1.0)))
      for (query <- Seq[() => Double](() => m.quantizationError(df, "emb"),
                                      () => m.topographicError(df, "emb"))) {
        val ex = intercept[IllegalArgumentException](query())
        assert(ex.getMessage.contains("emb"), ex.getMessage)
      }
    }
    // a row of another length fails with fit's message
    val ragged = spark.sparkContext.parallelize(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0)), 1)
      .toDF("emb")
    val ex = intercept[Exception](new Som(c).sampleCovariance(ragged, "emb"))
    assert(ex.getMessage.contains("Received 1 features, expected 2."), ex.getMessage)
  }

  test("save/load reads params written with the old treeDepth key") {
    val m = fixtureModel()
    val path = java.nio.file.Files.createTempDirectory("som-legacy").toString
    m.save(spark, path)
    val json = spark.read.textFile(s"$path/params").head()
    assert(!json.contains("treeDepth"))
    val legacy = json.replace("\"dim\":", "\"treeDepth\":2,\"dim\":")
    spark.createDataset(Seq(legacy)).coalesce(1).write.mode("overwrite").text(s"$path/params")
    val loaded = SomModel.load(spark, path)
    assert(loaded.config == m.config)
    assert(loaded.codebook.weights.sameElements(m.codebook.weights))
  }
}
