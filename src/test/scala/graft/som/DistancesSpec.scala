package graft.som

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
    for (n <- Seq(2, 7); k <- Seq(3, 11); d <- Seq(5, 13); (dist, oracle) <- kernels) {
      val xs = Seq.fill(n)(Array.fill(d)(rnd.nextDouble() * 4 - 2))
      val ws = Seq.fill(k)(Array.fill(d)(rnd.nextDouble() * 4 - 2))
      check(dist, oracle, xs, ws, tol = 1e-9)
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
}
