package graft.som

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trained SOM: inference and analytics queries over a codebook.
  *
  * Every query that needs one best-matching unit or quantization
  * distance per row is a Catalyst expression over one kernel
  * (`graft.plans.SomBmuKernel`): the codebook rides in the expression,
  * the scan runs inside whole-stage codegen, and there is no shuffle.
  * Where the reference semantics are relational (group-bys,
  * `xpysom.py:819-865`) stock Catalyst aggregates follow, so Spark's
  * optimizer, AQE and codegen handle that layer too. Only `activate`,
  * which returns every neuron's distance, is a narrow `mapPartitions`
  * over batches. Both run the training distance kernels
  * ([[Distances]]), so a row's served BMU, its training winner and the
  * argmin of its activation are one neuron.
  *
  * Feature columns may be array<float>, array<double>, any other
  * numeric array (cast to array<double>) or an ml/mllib `Vector`. Rows
  * with null features get null outputs from the per-row queries
  * (`activate` included) and are skipped by the aggregates, as `fit`
  * skips them.
  */
final class SomModel(val config: SomConfig, val codebook: Codebook)
    extends Serializable {
  config.validated // name/size validation also on the fromWeights path

  def topo: Topology = config.topo
  def x: Int = config.x
  def y: Int = config.y
  def dim: Int = codebook.dim

  // ---------------------------------------------------------------- core

  /** The features column as the array<float|double> every SOM expression
    * takes: unchanged for float and double arrays, cast to array<double>
    * for other numeric arrays, `vector_to_array` for vectors.
    */
  private def features(df: DataFrame, featuresCol: String): Column = {
    val c = col(featuresCol)
    df.select(c).schema.head.dataType match {
      case ArrayType(FloatType | DoubleType, _) => c
      case _: ArrayType => c.cast(ArrayType(DoubleType))
      // vector_to_array raises on a null vector
      case _ => when(c.isNotNull, org.apache.spark.ml.functions.vector_to_array(c))
    }
  }

  /** `withBmu` over the rows whose features are not null. */
  private def assigned(df: DataFrame, featuresCol: String): DataFrame =
    withBmu(df.where(col(featuresCol).isNotNull), featuresCol)

  // ------------------------------------------------------------- queries

  /** BMU assignment (`winner`/`predict`, `xpysom.py:370-417,608-617`):
    * appends bmu_id (= i*y + j, the raveled index), bmu_i, bmu_j.
    * Uses the configured activation distance; argmin ties resolve to the
    * first flat index, like numpy. The same query as [[withBmu]].
    */
  def transform(df: DataFrame, featuresCol: String = "features"): DataFrame =
    withBmu(df, featuresCol)

  /** BMU assignment as a pure column operation via the native `som_bmu`
    * Catalyst expression (`graft.plans.SomBmu`): stays inside whole-stage
    * codegen and composes with Structured Streaming.
    */
  def withBmu(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    val bmu = graft.plans.SomBmuFunctions.som_bmu(
      features(df, featuresCol), codebook.weights, dim, config.distance, config.normP)
    df.withColumn("bmu_id", bmu)
      .withColumn("bmu_i", floor(col("bmu_id") / y).cast("int"))
      .withColumn("bmu_j", pmod(col("bmu_id"), lit(y)).cast("int"))
  }

  /** Activation map (`activate`, `xpysom.py:323-354`): appends the full
    * per-neuron distance vector, from batched per-partition distance
    * calls; null for a row with null features.
    */
  def activate(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(
      StructField("activation", ArrayType(DoubleType, containsNull = false)))
    val fIdx = df.schema.fieldIndex(featuresCol)
    val bc = spark.sparkContext.broadcast(codebook.weights)
    val bs = config.batchSize
    val k = x * y
    val d = dim
    val distFn = config.distanceFn
    val rdd = df.rdd.mapPartitions { it =>
      val cb = new PreparedCodebook(bc.value, k, d, null)
      val block = cb.block()
      val xBuf = new Array[Double](bs * d)
      val dBuf = new Array[Double](bs * k)
      it.grouped(bs).flatMap { batch =>
        val rows = batch.toArray
        // each row's place among the batch's non-null rows, -1 when null
        val at = new Array[Int](rows.length)
        var n = 0
        rows.indices.foreach { r =>
          if (rows(r).isNullAt(fIdx)) at(r) = -1
          else {
            val v = SomData.rowToVec(rows(r), fIdx)
            if (v.length != d)
              throw new IllegalArgumentException(
                s"Received ${v.length} features, expected $d.")
            System.arraycopy(v, 0, xBuf, n * d, d)
            at(r) = n
            n += 1
          }
        }
        distFn.compute(xBuf, n, cb, block, dBuf)
        rows.indices.iterator.map { r =>
          val a = at(r)
          Row.fromSeq(rows(r).toSeq :+
            (if (a < 0) null else java.util.Arrays.copyOfRange(dBuf, a * k, (a + 1) * k).toSeq))
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Quantization (`xpysom.py:620-645`): appends the BMU's codebook
    * vector (`quantized`) and the distance to it (`q_dist`). BMU here
    * always uses true euclidean distance (`_distance_from_weights`,
    * `xpysom.py:660-671`) regardless of the configured activation
    * distance — reference behavior — and is the neuron `som_qdist`
    * measures, so mean q_dist equals [[quantizationError]] exactly.
    * An unselected `quantized` column is pruned by the optimizer.
    */
  def quantize(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    import graft.plans.SomBmuFunctions.{som_codebook_row, som_nearest}
    val near = "__som_nearest"
    df.withColumn(near, som_nearest(features(df, featuresCol), codebook.weights, dim))
      .withColumn("quantized", som_codebook_row(col(s"$near.bmu_id"), codebook.weights, dim))
      .withColumn("q_dist", col(s"$near.q_dist"))
      .drop(near)
  }

  /** Quantization error (`xpysom.py:673-707`): mean distance between each
    * sample and its BMU codebook vector (euclidean, as in the reference),
    * skipping null features; NaN on no rows. One codegen scan: each
    * partition sums its distances exactly ([[ExactSum]]) and the driver
    * merges the partition sums, so the mean is the same bits over any
    * partitioning of the same rows, where an `avg` adds doubles in
    * arrival order. A NaN or ±Inf feature fails, as in `fit`.
    */
  def quantizationError(df: DataFrame, featuresCol: String = "features"): Double = {
    val parts = df.select(graft.plans.SomBmuFunctions.som_qdist(
        features(df, featuresCol), codebook.weights, dim))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val sum = new ExactSum(1)
        var n = 0L
        var finite = true
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val q = r.getDouble(0)
            if (java.lang.Double.isFinite(q)) sum.add(0, q) else finite = false
            n += 1
          }
        }
        Iterator((sum, n, finite))
      }
      .collect()
    require(parts.forall(_._3), SomData.nonFinite(featuresCol))
    val n = parts.iterator.map(_._2).sum
    if (n == 0) Double.NaN else parts.map(_._1).reduce(_ merge _).values()(0) / n
  }

  /** Topographic error (`xpysom.py:709-746`): share of samples whose two
    * best-matching units are not grid-adjacent — a per-row top-2
    * selection (partial, not a full sort) in the `som_topo_error`
    * expression, then a scalar aggregate. 1x1 maps are undefined (NaN),
    * as in the reference (`xpysom.py:721-724`). A NaN or ±Inf feature
    * fails, as in `fit`.
    */
  def topographicError(df: DataFrame, featuresCol: String = "features"): Double = {
    if (x * y == 1) {
      System.err.println("The topographic error is not defined for a 1-by-1 map.")
      return Double.NaN
    }
    val r = df.select(graft.plans.SomBmuFunctions.som_topo_error(
        features(df, featuresCol), codebook.weights, dim, topo).as("te"))
      .agg(avg("te"), min("te"))
      .head()
    require(r.isNullAt(1) || r.getInt(1) >= 0, SomData.nonFinite(featuresCol))
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Wins per neuron (`activation_response`, `xpysom.py:819-829`) as a
    * DataFrame (bmu_id, bmu_i, bmu_j, n_wins) — a hash aggregate over the
    * expression-based BMU (whole scan + partial agg stay in one codegen
    * stage; no Row round-trip).
    */
  def activationResponse(df: DataFrame, featuresCol: String = "features"): DataFrame =
    assigned(df, featuresCol)
      .groupBy("bmu_id", "bmu_i", "bmu_j")
      .agg(count(lit(1)).as("n_wins"))

  /** Samples grouped by winning neuron (`win_map`, `xpysom.py:831-840`)
    * as (bmu_id, bmu_i, bmu_j, samples array).
    *
    * Scale note: the collected array concentrates a hot neuron's entire
    * sample set in one reducer group — faithful to the reference but the
    * wrong shape past memory scale. `maxPerNeuron` caps the group
    * payload BEFORE collection, ordered by (hash, features) — the
    * feature column itself breaks 32-bit hash collisions, so the
    * selection is a total order up to exact duplicates (which are
    * interchangeable) and reproducible across runs. For unbounded
    * relational access use the (bmu_id, vec_id) form that `transform`
    * already emits — the oracled `som_win_map` query shape.
    */
  def winMap(df: DataFrame, featuresCol: String = "features",
             maxPerNeuron: Int = Int.MaxValue): DataFrame = {
    val tagged = assigned(df, featuresCol)
    val bounded =
      if (maxPerNeuron == Int.MaxValue) tagged
      else {
        require(maxPerNeuron > 0, s"maxPerNeuron must be positive, got $maxPerNeuron")
        // partition by all three group keys (bmu_i/bmu_j are functions of
        // bmu_id) so the aggregation below reuses this exchange instead
        // of shuffling the wide feature vectors a second time
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bmu_id", "bmu_i", "bmu_j")
          .orderBy(hash(col(featuresCol)), col(featuresCol))
        tagged.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= maxPerNeuron).drop("__rn")
      }
    bounded
      .groupBy("bmu_id", "bmu_i", "bmu_j")
      .agg(collect_list(col(featuresCol)).as("samples"))
  }

  /** Label histogram per neuron (`labels_map`, `xpysom.py:842-865`) as
    * (bmu_id, bmu_i, bmu_j, label, n) — a two-level hash aggregate.
    */
  def labelsMap(df: DataFrame, labelCol: String,
                featuresCol: String = "features"): DataFrame =
    assigned(df, featuresCol)
      .groupBy(col("bmu_id"), col("bmu_i"), col("bmu_j"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))

  /** U-matrix (`distance_map`, `xpysom.py:788-817`) — driver-local, the
    * codebook is x*y*dim doubles.
    */
  def distanceMap(): Array[Array[Double]] = codebook.distanceMap(topo)

  /** Euclidean-plane neuron coordinates (`get_euclidean_coordinates` /
    * `convert_map_to_euclidean`, `xpysom.py:291-320`).
    */
  def euclideanCoordinates: Seq[(Int, Int, Double, Double)] =
    for (i <- 0 until x; j <- 0 until y)
      yield (i, j, topo.euclidX(i, j), topo.euclidY(i, j))

  // --------------------------------------------------------------- save

  /** Persist params as JSON + codebook as parquet (the MLWritable-style
    * analogue of the reference's pickle round-trip, `xpysom.py:868-892`).
    */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val c = config
    val json =
      s"""{"x":${c.x},"y":${c.y},"sigma":${c.sigma},"sigmaN":${c.sigmaN},
         |"learningRate":${c.learningRate},"learningRateN":${c.learningRateN},
         |"decay":"${c.decay}","neighborhood":"${c.neighborhood}",
         |"stdCoeff":${c.stdCoeff},"topology":"${c.topology}",
         |"distance":"${c.distance}","normP":${c.normP},
         |"compactSupport":${c.compactSupport},"seed":${c.seed},
         |"batchSize":${c.batchSize},"dim":${codebook.dim}}"""
        .stripMargin.replace("\n", "")
    val neurons = (0 until x * y).map(n => (n, codebook.weights.slice(n * dim, (n + 1) * dim).toSeq))
    neurons.toDF("nid", "w").coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    spark.createDataset(Seq(json)).coalesce(1).write.mode("overwrite").text(s"$path/params")
  }
}

object SomModel {
  def load(spark: SparkSession, path: String): SomModel = {
    val json = spark.read.textFile(s"$path/params").head()
    def str(k: String): String = {
      val m = ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse(sys.error(s"missing $k"))
    }
    def num(k: String): Double = {
      val m = ("\"" + k + "\":(-?[0-9.eE+-]+)").r.findFirstMatchIn(json)
      m.map(_.group(1).toDouble).getOrElse(sys.error(s"missing $k"))
    }
    val cfg = SomConfig(
      x = num("x").toInt, y = num("y").toInt, sigma = num("sigma"),
      sigmaN = num("sigmaN"), learningRate = num("learningRate"),
      learningRateN = num("learningRateN"), decay = str("decay"),
      neighborhood = str("neighborhood"), stdCoeff = num("stdCoeff"),
      topology = str("topology"), distance = str("distance"),
      normP = num("normP"),
      compactSupport = json.contains("\"compactSupport\":true"),
      seed = num("seed").toLong, batchSize = num("batchSize").toInt)
    val dim = num("dim").toInt
    val rows = spark.read.parquet(s"$path/codebook")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
      .map(_._2)
    new SomModel(cfg, Codebook.fromRows(cfg.x, cfg.y, rows.toSeq))
  }

  /** Train-free model over an explicit codebook (for fixed-codebook
    * inference and tests).
    */
  def fromWeights(cfg: SomConfig, rows: Seq[Array[Double]]): SomModel =
    new SomModel(cfg, Codebook.fromRows(cfg.x, cfg.y, rows))
}
