package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The k-means assignment kernel against a per-centroid sequential
  * reference kept only here: (cid, d2, d2b) must agree bit for bit on
  * both sides of the k < 16 / k >= 16 loop-order split, for float and
  * double rows, through the row entry, the array entry, the codegen
  * path and the interpreted path. Also pins the scale-9 decimal of
  * `VecScale9Kernel.scale9` (the k-means‖ φ term) to
  * `round(x, 9).cast(DECIMAL(38,9))`.
  */
class KmeansKernelSpec extends SparkSpec {

  /** One centroid at a time, d² summed in ascending i, strict-< scan. */
  private def reference(x: Array[Double], w: Array[Double],
                        dim: Int): (Int, Double, Double) = {
    val k = w.length / dim
    var best = 0
    var bestV = Double.MaxValue
    var secondV = Double.MaxValue
    for (j <- 0 until k) {
      var d = 0.0
      for (i <- 0 until dim) { val t = x(i) - w(j * dim + i); d += t * t }
      if (d < bestV) { secondV = bestV; bestV = d; best = j }
      else if (d < secondV) secondV = d
    }
    (best, bestV, if (k < 2) Double.NaN else secondV)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def sameBits(got: (Int, Double, Double), exp: (Int, Double, Double),
                       what: => String): Unit =
    assert(got._1 == exp._1 && bits(got._2) == bits(exp._2) &&
      bits(got._3) == bits(exp._3), s"$what: got $got, expected $exp")

  private def rowOf(r: InternalRow): (Int, Double, Double) =
    (r.getInt(0), r.getDouble(1), r.getDouble(2))

  /** Values spread over several magnitudes, so a changed summation order
    * shows in the last bits.
    */
  private def values(rnd: scala.util.Random, n: Int): Array[Double] =
    Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(5) - 2))

  /** A Janino compile error fails the test instead of falling back to
    * interpreted eval (the CodegenGuardSpec switches).
    */
  private def withCodegenOnly[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  private val ks = Seq(1, 2, 15, 16, 17, 64, 257)
  // 5 and 64: the sweep's four-dimension passes with and without a tail
  private val dims = Seq(1, 3, 5, 64)

  test("row entry == per-centroid reference, bit for bit, every k and dim, float and double") {
    for (k <- ks; dim <- dims; isFloat <- Seq(true, false)) {
      val rnd = new scala.util.Random(k * 1000 + dim * 10 + (if (isFloat) 1 else 0))
      val w = values(rnd, k * dim)
      for (r <- 0 until 40) {
        val raw = values(rnd, dim)
        val (v, x) =
          if (isFloat) {
            val f = raw.map(_.toFloat)
            (UnsafeArrayData.fromPrimitiveArray(f), f.map(_.toDouble))
          } else (UnsafeArrayData.fromPrimitiveArray(raw), raw)
        sameBits(rowOf(KmeansKernel.assign(v, isFloat, w, dim)),
          reference(x, w, dim), s"k=$k dim=$dim float=$isFloat row $r")
      }
    }
  }

  test("array entry == reference on cid and d2 (the driver-local twins' path)") {
    for (k <- ks; dim <- dims) {
      val rnd = new scala.util.Random(k * 31 + dim)
      val w = values(rnd, k * dim)
      val rows = Array.fill(50)(values(rnd, dim))
      val cid = new Array[Int](rows.length)
      val d2 = new Array[Double](rows.length)
      KmeansKernel.assignRows(rows, w, dim, cid, d2)
      rows.indices.foreach { r =>
        val exp = reference(rows(r), w, dim)
        assert(cid(r) == exp._1 && bits(d2(r)) == bits(exp._2),
          s"k=$k dim=$dim row $r: got (${cid(r)}, ${d2(r)}), expected $exp")
      }
    }
  }

  test("duplicate centroids: ties go to the lowest cid on both loop orders") {
    for (k <- Seq(2, 15, 16, 17, 64); dim <- Seq(1, 3, 64)) {
      val rnd = new scala.util.Random(k + 7 * dim)
      val x = values(rnd, dim)
      val w = values(rnd, k * dim).map(_ + 100.0) // every centroid far away
      // two copies of the nearest centroid, at cids lo < hi
      val (lo, hi) = if (k == 2) (0, 1) else (1, k - 1)
      val near = x.map(_ + 0.25)
      Seq(lo, hi).foreach(j => System.arraycopy(near, 0, w, j * dim, dim))
      val got = rowOf(KmeansKernel.assign(
        UnsafeArrayData.fromPrimitiveArray(x), false, w, dim))
      sameBits(got, reference(x, w, dim), s"k=$k dim=$dim")
      assert(got._1 == lo, s"k=$k dim=$dim: tie went to cid ${got._1}")
      assert(got._2 == got._3, "the duplicate is the second-nearest")
      // an all-identical table: cid 0, d2b == d2
      val same = Array.tabulate(k * dim)(i => near(i % dim))
      val all = rowOf(KmeansKernel.assign(
        UnsafeArrayData.fromPrimitiveArray(x), false, same, dim))
      assert(all._1 == 0 && all._2 == all._3, s"k=$k dim=$dim: $all")
    }
  }

  test("k = 1: d2b is NaN; a wrong-length row throws") {
    val one = rowOf(KmeansKernel.assign(
      UnsafeArrayData.fromPrimitiveArray(Array(1.0, 2.0)), false,
      Array(0.0, 0.0), 2))
    assert(one._1 == 0 && one._2 == 5.0 && one._3.isNaN)
    for (k <- Seq(1, 16)) {
      val e = intercept[IllegalArgumentException] {
        KmeansKernel.assign(UnsafeArrayData.fromPrimitiveArray(Array(1.0f, 2.0f)),
          true, new Array[Double](k * 3), 3)
      }
      assert(e.getMessage == "Received 2 features, expected 3.")
      intercept[IllegalArgumentException] {
        KmeansKernel.assignRows(Array(Array(1.0, 2.0)), new Array[Double](k * 3),
          3, new Array[Int](1), new Array[Double](1))
      }
    }
  }

  test("kmeans_assign: codegen == interpreted (nullSafeEval) == reference") {
    withCodegenOnly {
      for (k <- Seq(1, 15, 16, 64); dim <- Seq(3, 64);
           elem <- Seq[DataType](FloatType, DoubleType)) {
        val rnd = new scala.util.Random(k * 17 + dim)
        val w = values(rnd, k * dim)
        val raw = Array.fill(30)(values(rnd, dim))
        val data = raw.map(r =>
          if (elem == FloatType) r.map(_.toFloat.toDouble) else r)
        val rows = data.zipWithIndex.map { case (r, i) =>
          Row(i.toLong, if (elem == FloatType) r.map(_.toFloat).toSeq else r.toSeq)
        }
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("v", ArrayType(elem, containsNull = false))))
        // an RDD-backed frame: a local Seq would be folded on the driver
        // by the interpreted path, never reaching the generated code
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 3),
          schema)
        val gen = df.select(col("id"),
            KmeansFunctions.kmeans_assign(col("v"), w, dim).as("a"))
          .collect().map(r => r.getLong(0).toInt ->
            (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1),
              r.getStruct(1).getDouble(2))).toMap
        val expr = KmeansAssign(
          BoundReference(0, ArrayType(elem, containsNull = false), nullable = false),
          w, dim)
        data.indices.foreach { i =>
          val arr =
            if (elem == FloatType) UnsafeArrayData.fromPrimitiveArray(data(i).map(_.toFloat))
            else UnsafeArrayData.fromPrimitiveArray(data(i))
          val interp = rowOf(expr.eval(InternalRow(arr)).asInstanceOf[InternalRow])
          val exp = reference(data(i), w, dim)
          sameBits(interp, exp, s"interpreted k=$k dim=$dim $elem row $i")
          sameBits(gen(i), exp, s"codegen k=$k dim=$dim $elem row $i")
        }
      }
    }
  }

  test("dec_scale9 == round(x, 9).cast(DECIMAL(38,9)); its double == round(x, 9)") {
    // the k-means‖ φ term is the decimal of scale9's long at scale 9
    val corpus = KmeansKernelSpec.scale9Corpus
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(corpus.map(Row(_)), 4),
        StructType(Seq(StructField("x", DoubleType, nullable = false))))
      .select(col("x"),
        round(col("x"), 9).cast(DecimalType(38, 9)).as("slow"),
        round(col("x"), 9).as("slowD"))
    val got = withCodegenOnly(df.collect())
    assert(got.length == corpus.length)
    got.foreach { r =>
      val x = r.getDouble(0)
      val fast = java.math.BigDecimal.valueOf(VecScale9Kernel.scale9(x), 9)
      assert(fast == r.getDecimal(1), s"x=$x")
      assert(bits(fast.doubleValue) == bits(r.getDouble(2)), s"x=$x")
    }
    intercept[IllegalArgumentException] {
      VecScale9Kernel.scale9(Double.NaN)
    }
  }
}

object KmeansKernelSpec {
  /** Scale-9 rounding corpus: exact ties, near-ties, float-widened
    * values, a uniform sweep and a midpoint-dense sweep.
    */
  val scale9Corpus: Seq[Double] = {
    val tricky = Seq(
      0.0, -0.0, 1.0, -1.0, 0.5e-9, -0.5e-9, 1.5e-9, -1.5e-9, // exact ties
      2.5e-9, 0.1234567895, -0.1234567895, 0.12345678949999,
      1e-10, -1e-10, 4.9999999999e-10, 5.0000000001e-10,
      123.456789123456, -987.654321987654, 1.0f.toDouble, 0.1f.toDouble)
    val rnd = new scala.util.Random(11)
    val fuzz = Seq.fill(20000)(rnd.nextDouble() * 200 - 100) ++
      Seq.fill(20000)((rnd.nextInt(2000001) - 1000000).toDouble / 2e9) // midpoint-dense
    tricky ++ fuzz
  }
}
