package graft.som

import jdk.incubator.vector.DoubleVector
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Port of the reference's distance-kernel differential suite
  * (`test_distances.py`): naive per-pair oracles applied element-wise
  * over exhaustive binary-vector enumerations and seeded fuzz matrices.
  */
class DistancesSpec extends AnyFunSuite {

  // Naive per-pair oracles (`test_distances.py:92-135`).
  private def oEuclidPart(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum - a.map(v => v * v).sum
  private def oEuclidSq(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
  private def oEuclid(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(oEuclidSq(a, b))
  private def oCosine(a: Array[Double], b: Array[Double]): Double = {
    val na = math.sqrt(a.map(v => v * v).sum)
    val nb = math.sqrt(b.map(v => v * v).sum)
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    if (na * nb == 0.0) 1.0 else 1.0 - dot / (na * nb)
  }
  private def oNormP(p: Double)(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.pow(math.abs(x - y), p) }.sum
  private def oManhattan(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.abs(x - y) }.sum

  private def run(dist: Distance, xs: Seq[Array[Double]], ws: Seq[Array[Double]]): Array[Double] = {
    val n = xs.length; val k = ws.length; val d = xs.head.length
    val x = xs.flatten.toArray
    val w = ws.flatten.toArray
    val out = new Array[Double](n * k)
    dist.compute(x, n, w, k, d, null, out)
    out
  }

  private def check(dist: Distance, oracle: (Array[Double], Array[Double]) => Double,
                    xs: Seq[Array[Double]], ws: Seq[Array[Double]], tol: Double = 1e-9): Unit = {
    val got = run(dist, xs, ws)
    for (i <- xs.indices; j <- ws.indices) {
      val exp = oracle(xs(i), ws(j))
      assert(math.abs(got(i * ws.length + j) - exp) <= tol * math.max(1.0, math.abs(exp)),
        s"${dist.name} i=$i j=$j got=${got(i * ws.length + j)} exp=$exp " +
          s"x=${xs(i).mkString(",")} w=${ws(j).mkString(",")}")
    }
  }

  /** All binary vectors of length L (`test_distances.py:37-79`). */
  private def binaryVectors(len: Int): Seq[Array[Double]] =
    (0 until (1 << len)).map(m => Array.tabulate(len)(b => ((m >> b) & 1).toDouble))

  private val kernels: Seq[(Distance, (Array[Double], Array[Double]) => Double)] = Seq(
    Distances.EuclideanPart -> oEuclidPart _,
    Distances.EuclideanSquared -> oEuclidSq _,
    Distances.EuclideanTrue -> oEuclid _,
    Distances.Cosine -> oCosine _,
    Distances.Manhattan -> oManhattan _,
    Distances.NormP(1) -> oNormP(1) _,
    Distances.NormP(2) -> oNormP(2) _,
    Distances.NormP(3) -> oNormP(3) _,
    Distances.NormP(4) -> oNormP(4) _)

  test("exhaustive binary vectors, all kernel/shape combinations") {
    for (len <- 1 to 3; (dist, oracle) <- kernels) {
      val vs = binaryVectors(len)
      check(dist, oracle, vs, vs)                    // full cross
      check(dist, oracle, Seq(vs.head), vs)          // one-vs-all
      check(dist, oracle, vs, Seq(vs.last))          // all-vs-one
    }
  }

  test("seeded fuzz matrices (n x d vs k x d)") {
    val rnd = new Random(0)
    // n 4 and 9 fill whole 4-row tiles and leave one-row tiles; k 32, 37
    // and 69 fill 4-vector cell tiles at 4 and 8 lanes and pad the last
    for (n <- Seq(2, 4, 7, 9); k <- Seq(3, 11, 32, 37, 69); d <- Seq(1, 5, 13, 64);
         (dist, oracle) <- kernels) {
      val xs = Seq.fill(n)(Array.fill(d)(rnd.nextDouble() * 4 - 2))
      val ws = Seq.fill(k)(Array.fill(d)(rnd.nextDouble() * 4 - 2))
      check(dist, oracle, xs, ws, tol = 1e-9)
    }
  }

  /** The scalar form of every value the cross-term kernel writes: the
    * fma chain over the features in ascending order, from 0.0; with `wSq`,
    * one more fma to −2·dot + wSq(j).
    */
  private def scalarRef(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                        wSq: Array[Double]): Array[Double] =
    Array.tabulate(n * k) { at =>
      val (i, j) = (at / k, at % k)
      var s = 0.0
      for (c <- 0 until d) s = Math.fma(x(i * d + c), w(j * d + c), s)
      if (wSq == null) s else Math.fma(-2.0, s, wSq(j))
    }

  /** Values over twelve binary orders of magnitude, so rounding differs
    * between operation orders.
    */
  private def spread(rnd: Random, len: Int): Array[Double] =
    Array.fill(len)(rnd.nextGaussian() * math.pow(2, rnd.nextInt(12) - 6))

  private val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** The cross term and the euclidean partial, with its own |w|² as `wSq`. */
  private def both(x: Array[Double], n: Int, w: Array[Double], k: Int,
                   d: Int): Seq[(String, Array[Double])] = {
    val cross = new Array[Double](n * k)
    Distances.crossTerm(x, n, w, k, d, cross)
    val part = new Array[Double](n * k)
    Distances.EuclideanPart.compute(x, n, w, k, d, null, part)
    Seq("crossTerm" -> cross, "euclidean" -> part)
  }

  test("cross term and euclidean partial: the scalar ascending fma chain, bit for bit") {
    val lanes = DoubleVector.SPECIES_PREFERRED.length()
    val rnd = new Random(5)
    for (k <- 1 to 4 * lanes + 3; d <- Seq(1, 3, 17); n <- Seq(1, 4, 9)) {
      val x = spread(rnd, n * d)
      val w = spread(rnd, k * d)
      val wSq = Distances.rowSumSq(w, k, d)
      val exp = Map("crossTerm" -> scalarRef(x, n, w, k, d, null),
        "euclidean" -> scalarRef(x, n, w, k, d, wSq))
      for ((name, got) <- both(x, n, w, k, d))
        assert(bits(got) == bits(exp(name)), s"$name n=$n k=$k d=$d")
    }
  }

  test("a row's distances are the same bits alone and at every position of any batch") {
    val lanes = DoubleVector.SPECIES_PREFERRED.length()
    val rnd = new Random(17)
    val d = 16
    for (k <- Seq(9, 4 * lanes + 3, 8 * lanes + 1)) {
      val w = spread(rnd, k * d)
      val row = spread(rnd, d)
      val alone = both(row, 1, w, k, d).map { case (name, o) => name -> bits(o) }.toMap
      // the row at each listed position of an m-row batch of other rows
      def check(m: Int, positions: Seq[Int]): Unit = {
        val x = spread(rnd, m * d)
        positions.foreach(p => System.arraycopy(row, 0, x, p * d, d))
        for ((name, o) <- both(x, m, w, k, d); p <- positions)
          assert(bits(o.slice(p * k, (p + 1) * k)) == alone(name),
            s"$name k=$k: row at $p of $m")
      }
      for (m <- Seq(1, 4, 5); p <- 0 until m) check(m, Seq(p))
      for (phase <- 0 until 3) check(2048, (phase until 2048 by 3))
    }
  }

  test("euclidean partial ranks like full squared distance") {
    val rnd = new Random(7)
    val xs = Seq.fill(20)(Array.fill(8)(rnd.nextDouble()))
    val ws = Seq.fill(9)(Array.fill(8)(rnd.nextDouble()))
    val part = run(Distances.EuclideanPart, xs, ws)
    val full = run(Distances.EuclideanSquared, xs, ws)
    val a1 = new Array[Int](20); val a2 = new Array[Int](20)
    Distances.argminRows(part, 20, 9, a1)
    Distances.argminRows(full, 20, 9, a2)
    assert(a1.sameElements(a2))
  }

  test("even-p binomial expansion equals fused generic (`distances.py:77-96`)") {
    val rnd = new Random(3)
    for (p <- Seq(2, 4, 6)) {
      val xs = Seq.fill(5)(Array.fill(6)(rnd.nextDouble() * 2 - 1))
      val ws = Seq.fill(4)(Array.fill(6)(rnd.nextDouble() * 2 - 1))
      val exp = run(Distances.NormP(p), xs, ws)
      val got = Distances.normPEvenExpansion(xs.flatten.toArray, 5, ws.flatten.toArray, 4, 6, p)
      for (i <- exp.indices)
        assert(math.abs(got(i) - exp(i)) <= 1e-8 * math.max(1.0, math.abs(exp(i))))
    }
  }

  test("w_sq cache path matches uncached for cacheable kernels") {
    val rnd = new Random(11)
    val xs = Seq.fill(6)(Array.fill(5)(rnd.nextDouble()))
    val ws = Seq.fill(7)(Array.fill(5)(rnd.nextDouble()))
    for (dist <- Seq(Distances.EuclideanPart, Distances.Cosine)) {
      assert(dist.canCache)
      val x = xs.flatten.toArray; val w = ws.flatten.toArray
      val wSq = Distances.rowSumSq(w, 7, 5)
      val a = new Array[Double](42); val b = new Array[Double](42)
      dist.compute(x, 6, w, 7, 5, null, a)
      dist.compute(x, 6, w, 7, 5, wSq, b)
      assert(a.zip(b).forall { case (u, v) => math.abs(u - v) < 1e-12 })
    }
  }

  test("cosine zero-vector guard gives distance 1 (nan_to_num semantics)") {
    val got = run(Distances.Cosine, Seq(Array(0.0, 0.0)), Seq(Array(1.0, 2.0)))
    assert(got(0) == 1.0)
  }

  test("argmin ties break to first index; top2 ordering") {
    val m = Array(2.0, 1.0, 1.0, 3.0)
    val o = new Array[Int](1)
    Distances.argminRows(m, 1, 4, o)
    assert(o(0) == 1)
  }

  test("registry names and validation (`distances.py:162-175`)") {
    for (n <- Seq("euclidean", "euclidean_no_opt", "manhattan", "manhattan_no_opt",
                  "cosine", "norm_p", "norm_p_no_opt"))
      Distances(n)
    assert(Distances("euclidean").canCache)
    assert(Distances("cosine").canCache)
    assert(!Distances("manhattan").canCache)
    assertThrows[IllegalArgumentException](Distances("nope"))
  }

  test("a JVM without jdk.incubator.vector gets an error naming the flag") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val p = new ProcessBuilder(java, "-Xmx64m", "-cp", System.getProperty("java.class.path"),
      "graft.som.EuclideanOnce").redirectErrorStream(true).start()
    val output = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() != 0)
    assert(output.contains("UnsupportedOperationException") &&
      output.contains("--add-modules=jdk.incubator.vector"), output)
  }
}

/** One euclidean distance call; run by DistancesSpec in a JVM started
  * without `--add-modules=jdk.incubator.vector`.
  */
object EuclideanOnce {
  def main(args: Array[String]): Unit =
    Distances.EuclideanPart.compute(Array(1.0, 2.0), 1, Array(0.0, 1.0), 1, 2, null, new Array[Double](1))
}
