package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded workload generator: a 32-component Gaussian mixture in D = 64
  * float32 dimensions. Each row is a pure function of (seed, stream, id),
  * so a table is identical however Spark partitions its generation, and
  * the same seed always yields the same inputs.
  *
  * Centres are N(0, 1) per dimension; rows add N(0, `Spread`²) noise, so
  * two rows of one component have cosine ≈ 0.8.
  */
object Gen {
  val Dim = 64
  val Components = 32
  val Spread = 0.5

  /** Independent row streams: one per table a workload reads. */
  object Stream {
    val Train = 1L
    val Labelled = 2L
  }

  private def mix(a: Long, b: Long, c: Long): Long = {
    // splitmix64 finaliser over a combined key
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def centres(seed: Long): Array[Array[Float]] = {
    val r = new java.util.SplittableRandom(mix(seed, 0L, -1L))
    Array.fill(Components, Dim)(r.nextGaussian().toFloat)
  }

  /** (label, features) of row `id` in `stream`. */
  def row(seed: Long, stream: Long, id: Long,
          c: Array[Array[Float]]): (Int, Array[Float]) = {
    val r = new java.util.SplittableRandom(mix(seed, stream, id))
    val label = r.nextInt(Components)
    val centre = c(label)
    val v = new Array[Float](Dim)
    var i = 0
    while (i < Dim) { v(i) = (centre(i) + Spread * r.nextGaussian()).toFloat; i += 1 }
    (label, v)
  }

  /** Rows [lo, hi) of `stream` as (id, label, features array<float>). */
  def table(spark: SparkSession, seed: Long, stream: Long, lo: Long,
            hi: Long): DataFrame = {
    import spark.implicits._
    val c = centres(seed)
    spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism).map { id =>
      val (label, v) = row(seed, stream, id, c)
      (id.longValue, label, v)
    }.toDF("id", "label", "features")
  }

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The driver-side copy of rows [lo, hi) — for exact answers computed
    * off the timed path, never handed to the program.
    */
  def local(seed: Long, stream: Long, lo: Long, hi: Long): Array[Array[Float]] = {
    val c = centres(seed)
    Array.tabulate((hi - lo).toInt)(i => row(seed, stream, lo + i, c)._2)
  }
}
