package graft.plans

import graft.SparkSpec
import graft.som.{Hexagonal, Rectangular, SomConfig, SomModel, Topology}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SOM inference kernel against a per-neuron sequential reference
  * kept only here: the BMU under every distance name, the quantization
  * neuron and distance, and the topographic-error top-2 must agree bit
  * for bit on both sides of the k < 16 / k >= 16 loop-order split, for
  * float and double rows, through the kernel entries, the codegen path
  * and the interpreted path.
  */
class SomKernelSpec extends SparkSpec {

  private def dot(x: Array[Double], w: Array[Double], j: Int, dim: Int): Double = {
    var d = 0.0
    for (i <- 0 until dim) d += x(i) * w(j * dim + i)
    d
  }

  private def sumSq(a: Array[Double], off: Int, dim: Int): Double = {
    var s = 0.0
    for (i <- 0 until dim) s += a(off + i) * a(off + i)
    s
  }

  /** One neuron at a time, the activation distance summed in ascending
    * i, strict-< scan.
    */
  private def refBmu(x: Array[Double], w: Array[Double], dim: Int,
                     dist: String, p: Double): Int = {
    val xSq = sumSq(x, 0, dim)
    var best = 0
    var bestV = Double.MaxValue
    for (j <- 0 until w.length / dim) {
      val wSq = sumSq(w, j * dim, dim)
      val d = dist match {
        case "euclidean" | "euclidean_no_opt" => -2.0 * dot(x, w, j, dim) + wSq
        case "cosine" =>
          val denom = math.sqrt(xSq * wSq)
          1.0 - (if (denom == 0.0) 0.0 else dot(x, w, j, dim) / denom)
        case "manhattan" | "manhattan_no_opt" =>
          var s = 0.0
          for (i <- 0 until dim) s += math.abs(x(i) - w(j * dim + i))
          s
        case "norm_p" | "norm_p_no_opt" =>
          var s = 0.0
          for (i <- 0 until dim) s += math.pow(math.abs(x(i) - w(j * dim + i)), p)
          s
      }
      if (d < bestV) { bestV = d; best = j }
    }
    best
  }

  /** Every neuron's `|x|² - 2 dot + |w|²`. */
  private def refD2(x: Array[Double], w: Array[Double], dim: Int): Array[Double] = {
    val xSq = sumSq(x, 0, dim)
    Array.tabulate(w.length / dim)(j => xSq - 2.0 * dot(x, w, j, dim) + sumSq(w, j * dim, dim))
  }

  /** (nearest neuron, its unclamped d², q_dist). */
  private def refNearest(x: Array[Double], w: Array[Double], dim: Int): (Int, Double, Double) = {
    val d2 = refD2(x, w, dim)
    var best = 0
    var bestV = Double.MaxValue
    d2.indices.foreach(j => if (d2(j) < bestV) { bestV = d2(j); best = j })
    (best, bestV, if (bestV > 0) math.sqrt(bestV) else 0.0)
  }

  /** Top-2 by clamped true distance, ties to the first index. */
  private def refTop2(x: Array[Double], w: Array[Double], dim: Int): (Int, Int) = {
    val d = refD2(x, w, dim).map(v => if (v > 0) math.sqrt(v) else 0.0)
    var b1 = -1; var b2 = -1
    var v1 = Double.PositiveInfinity; var v2 = Double.PositiveInfinity
    d.indices.foreach { j =>
      if (d(j) < v1) { v2 = v1; b2 = b1; v1 = d(j); b1 = j }
      else if (d(j) < v2) { v2 = d(j); b2 = j }
    }
    (b1, b2)
  }

  private def refTopoError(x: Array[Double], w: Array[Double], dim: Int,
                           topo: Topology): Int = {
    val (b1, b2) = refTop2(x, w, dim)
    val y = topo.y
    if (topo.adjacent(b1 / y, b1 % y, b2 / y, b2 % y)) 0 else 1
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Values spread over several magnitudes, so a changed summation order
    * shows in the last bits.
    */
  private def values(rnd: scala.util.Random, n: Int): Array[Double] =
    Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(5) - 2))

  /** The row as the kernel sees it and as the reference sees it. */
  private def row(raw: Array[Double], isFloat: Boolean): (ArrayData, Array[Double]) =
    if (isFloat) {
      val f = raw.map(_.toFloat)
      (UnsafeArrayData.fromPrimitiveArray(f), f.map(_.toDouble))
    } else (UnsafeArrayData.fromPrimitiveArray(raw), raw)

  private def withCodegenOnly[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  private val ks = Seq(1, 2, 15, 16, 17, 64, 256)
  // 5 and 64: the sweep's four-dimension passes with and without a tail
  private val dims = Seq(1, 3, 5, 64)
  private val distances = Seq("euclidean", "euclidean_no_opt", "cosine",
    "manhattan", "manhattan_no_opt", "norm_p", "norm_p_no_opt")

  test("bmu == per-neuron reference, every k, dim, element type and distance name") {
    for (k <- ks; dim <- dims; isFloat <- Seq(true, false)) {
      val rnd = new scala.util.Random(k * 1000 + dim * 10 + (if (isFloat) 1 else 0))
      val w = values(rnd, k * dim)
      val wSq = graft.som.Distances.rowSumSq(w, k, dim)
      val cols = KmeansKernel.columns(w, dim)
      val s = new SomKernelScratch(dim, k)
      for (r <- 0 until 20; dist <- distances) {
        val (v, x) = row(values(rnd, dim), isFloat)
        val exp = refBmu(x, w, dim, dist, 3.0)
        val byName = SomBmuKernel.bmu(v, isFloat, w, wSq, dim, dist, 3.0)
        val byCode = SomBmuKernel.bmu(v, isFloat, w, wSq, cols, dim, s,
          SomBmuKernel.code(dist), 3.0)
        assert(byName == exp && byCode == exp,
          s"k=$k dim=$dim float=$isFloat $dist row $r: got $byName/$byCode, expected $exp")
      }
    }
  }

  test("qdist, nearest and top-2 == reference bit for bit, every k, dim and element type") {
    for (k <- ks; dim <- dims; isFloat <- Seq(true, false)) {
      val rnd = new scala.util.Random(k * 31 + dim * 7 + (if (isFloat) 1 else 0))
      val w = values(rnd, k * dim)
      val wSq = graft.som.Distances.rowSumSq(w, k, dim)
      val cols = KmeansKernel.columns(w, dim)
      val s = new SomKernelScratch(dim, k)
      for (r <- 0 until 40) {
        val (v, x) = row(values(rnd, dim), isFloat)
        val what = s"k=$k dim=$dim float=$isFloat row $r"
        val (eBest, eD2, eQ) = refNearest(x, w, dim)
        val q = SomBmuKernel.minDist(v, isFloat, w, wSq, cols, dim, s)
        assert(s.best == eBest && bits(s.bestV) == bits(eD2) && bits(q) == bits(eQ),
          s"$what: got (${s.best}, ${s.bestV}, $q), expected ($eBest, $eD2, $eQ)")
        val nr = SomBmuKernel.nearestRow(v, isFloat, w, wSq, cols, dim, s)
        assert(nr.getInt(0) == eBest && bits(nr.getDouble(1)) == bits(eQ), what)
        SomBmuKernel.top2(v, isFloat, w, wSq, cols, dim, s)
        assert((s.best, s.second) == refTop2(x, w, dim), what)
      }
    }
  }

  test("duplicate neurons: ties go to the lowest id on both loop orders") {
    for (k <- Seq(2, 15, 16, 17, 64); dim <- Seq(1, 3, 64)) {
      val rnd = new scala.util.Random(k + 7 * dim)
      val x = values(rnd, dim)
      val w = values(rnd, k * dim).map(_ + 100.0) // every neuron far away
      // two copies of the nearest neuron, at ids lo < hi
      val (lo, hi) = if (k == 2) (0, 1) else (1, k - 1)
      val near = x.map(_ + 0.25)
      Seq(lo, hi).foreach(j => System.arraycopy(near, 0, w, j * dim, dim))
      val v = UnsafeArrayData.fromPrimitiveArray(x)
      val wSq = graft.som.Distances.rowSumSq(w, k, dim)
      val cols = KmeansKernel.columns(w, dim)
      val s = new SomKernelScratch(dim, k)
      for (dist <- distances) {
        val got = SomBmuKernel.bmu(v, false, w, wSq, dim, dist, 3.0)
        assert(got == refBmu(x, w, dim, dist, 3.0), s"k=$k dim=$dim $dist: $got")
        // by angle the far neurons may be as close as the copies
        if (dist != "cosine") assert(got == lo, s"k=$k dim=$dim $dist: tie went to $got")
      }
      SomBmuKernel.nearest(v, false, w, wSq, cols, dim, s)
      assert(s.best == lo, s"k=$k dim=$dim nearest")
      SomBmuKernel.top2(v, false, w, wSq, cols, dim, s)
      assert((s.best, s.second) == ((lo, hi)), s"k=$k dim=$dim top2")
      // an all-identical table: neuron 0, then neuron 1
      val same = Array.tabulate(k * dim)(i => near(i % dim))
      val sameSq = graft.som.Distances.rowSumSq(same, k, dim)
      val sameCols = KmeansKernel.columns(same, dim)
      SomBmuKernel.top2(v, false, same, sameSq, sameCols, dim, s)
      assert((s.best, s.second) == ((0, 1)), s"k=$k dim=$dim identical")
      assert(SomBmuKernel.bmu(v, false, same, sameSq, dim, "euclidean", 2.0) == 0)
    }
  }

  test("a wrong-length row throws from every entry, on both loop orders") {
    for (k <- Seq(1, 16)) {
      val w = new Array[Double](k * 3)
      val wSq = new Array[Double](k)
      val cols = KmeansKernel.columns(w, 3)
      val s = new SomKernelScratch(3, k)
      val v = UnsafeArrayData.fromPrimitiveArray(Array(1.0f, 2.0f))
      val calls: Seq[() => Any] = Seq(
        () => SomBmuKernel.bmu(v, true, w, wSq, 3, "euclidean", 2.0),
        () => SomBmuKernel.bmu(v, true, w, wSq, cols, 3, s, SomBmuKernel.Manhattan, 2.0),
        () => SomBmuKernel.minDist(v, true, w, wSq, cols, 3, s),
        () => SomBmuKernel.top2(v, true, w, wSq, cols, 3, s))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage == "Received 2 features, expected 3.")
      }
    }
    intercept[IllegalArgumentException](SomBmuKernel.code("chebyshev"))
  }

  test("som_bmu, som_qdist, som_nearest, som_topo_error, som_codebook_row: codegen == interpreted == reference") {
    withCodegenOnly {
      for (k <- Seq(4, 15, 16, 64); dim <- Seq(3, 64);
           elem <- Seq[DataType](FloatType, DoubleType)) {
        val rnd = new scala.util.Random(k * 17 + dim)
        val w = values(rnd, k * dim)
        val topo: Topology = if (k == 16) Hexagonal(4, 4) else Rectangular(1, k)
        val data = Array.fill(30)(values(rnd, dim)).map(r =>
          if (elem == FloatType) r.map(_.toFloat.toDouble) else r)
        val rows = data.zipWithIndex.map { case (r, i) =>
          Row(i.toLong, if (elem == FloatType) r.map(_.toFloat).toSeq else r.toSeq)
        }
        val vType = ArrayType(elem, containsNull = false)
        val schema = StructType(Seq(StructField("id", LongType), StructField("v", vType)))
        // an RDD-backed frame: a local Seq would be folded on the driver
        // by the interpreted path, never reaching the generated code
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 3), schema)
        import SomBmuFunctions._
        val gen = df.select(col("id"),
            som_bmu(col("v"), w, dim, "cosine").as("bmu"),
            som_qdist(col("v"), w, dim).as("qd"),
            som_nearest(col("v"), w, dim).as("near"),
            som_topo_error(col("v"), w, dim, topo).as("te"))
          .withColumn("q", som_codebook_row(col("near.bmu_id"), w, dim))
          .collect().map(r => r.getLong(0).toInt -> r).toMap
        val in = BoundReference(0, vType, nullable = false)
        val exprs = (SomBmu(in, w, dim, "cosine", 2.0), SomQDist(in, w, dim),
          SomNearest(in, w, dim), SomTopoError(in, w, dim, topo))
        data.indices.foreach { i =>
          val arr = InternalRow(
            if (elem == FloatType) UnsafeArrayData.fromPrimitiveArray(data(i).map(_.toFloat))
            else UnsafeArrayData.fromPrimitiveArray(data(i)))
          val x = data(i)
          val (eBest, _, eQ) = refNearest(x, w, dim)
          val eBmu = refBmu(x, w, dim, "cosine", 2.0)
          val eTe = refTopoError(x, w, dim, topo)
          val what = s"k=$k dim=$dim $elem row $i"
          val g = gen(i)
          assert(g.getInt(1) == eBmu && exprs._1.eval(arr) == eBmu, s"bmu $what")
          assert(bits(g.getDouble(2)) == bits(eQ) &&
            bits(exprs._2.eval(arr).asInstanceOf[Double]) == bits(eQ), s"qdist $what")
          val near = exprs._3.eval(arr).asInstanceOf[InternalRow]
          assert(g.getStruct(3).getInt(0) == eBest && near.getInt(0) == eBest &&
            bits(g.getStruct(3).getDouble(1)) == bits(eQ) &&
            bits(near.getDouble(1)) == bits(eQ), s"nearest $what")
          assert(g.getInt(4) == eTe && exprs._4.eval(arr) == eTe, s"topo $what")
          assert(g.getSeq[Double](5) == w.slice(eBest * dim, (eBest + 1) * dim).toSeq,
            s"codebook row $what")
        }
      }
    }
  }

  test("topographic error on rectangular and hexagonal maps == driver-side reference; 1x1 is NaN") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    for (topology <- Seq("rectangular", "hexagonal"); (mx, my) <- Seq((3, 3), (4, 6), (5, 4))) {
      val dim = 5
      val cfg = SomConfig(mx, my, topology = topology)
      val w = values(rnd, mx * my * dim)
      val m = SomModel.fromWeights(cfg, w.grouped(dim).toSeq)
      val data = Seq.fill(200)(values(rnd, dim).map(_.toFloat))
      val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("id", "features").repartition(3)
      val exp = data.map(v => refTopoError(v.map(_.toDouble), w, dim, cfg.topo)).sum / 200.0
      assert(m.topographicError(df) == exp, s"$topology ${mx}x$my")
    }
    val one = SomModel.fromWeights(SomConfig(1, 1), Seq(Array(0.0, 1.0)))
    assert(one.topographicError(Seq(Seq(1f, 2f)).toDF("features")).isNaN)
  }
}
