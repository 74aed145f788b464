package graft.som

import org.scalatest.funsuite.AnyFunSuite

/** Neighborhood kernels checked against independent naive formulas at
  * every grid center (the reference compares every center against
  * MiniSom, `tests.py:188-246`), plus pinned hexagonal-shift values.
  */
class NeighborhoodsSpec extends AnyFunSuite {

  private def weights(n: Neighborhood, ci: Int, cj: Int, sigma: Double): Array[Double] = {
    val out = new Array[Double](n.x * n.y)
    n.compute(Array(ci), Array(cj), 1, sigma, out)
    out
  }

  private def approx(a: Double, b: Double, tol: Double = 1e-12): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  test("gaussian rect matches closed form at every center (5x5)") {
    val topo = Rectangular(5, 5)
    val g = Neighborhoods.Gaussian(topo, stdCoeff = 0.5, compact = false)
    for (ci <- 0 until 5; cj <- 0 until 5; sigma <- Seq(1.0, 2.5)) {
      val d = 2 * 0.25 * sigma * sigma
      val got = weights(g, ci, cj, sigma)
      for (i <- 0 until 5; j <- 0 until 5) {
        val exp = math.exp(-(i - ci) * (i - ci) / d) * math.exp(-(j - cj) * (j - cj) / d)
        assert(approx(got(i * 5 + j), exp), s"c=($ci,$cj) n=($i,$j)")
      }
    }
  }

  test("gaussian compact support truncates strictly outside (c-sigma, c+sigma)") {
    val topo = Rectangular(5, 5)
    val g = Neighborhoods.Gaussian(topo, 0.5, compact = true)
    val got = weights(g, 2, 2, 1.0)
    for (i <- 0 until 5; j <- 0 until 5) {
      val inside = math.abs(i - 2) < 1 && math.abs(j - 2) < 1 // strict
      if (inside) assert(got(i * 5 + j) > 0) else assert(got(i * 5 + j) == 0.0)
    }
  }

  test("mexican hat rect matches closed form at every center (5x5)") {
    val topo = Rectangular(5, 5)
    val m = Neighborhoods.MexicanHat(topo, 0.5, compact = false)
    for (ci <- 0 until 5; cj <- 0 until 5) {
      val sigma = 1.5
      val d = 2 * 0.25 * sigma * sigma
      val got = weights(m, ci, cj, sigma)
      for (i <- 0 until 5; j <- 0 until 5) {
        val p = (i - ci) * (i - ci) + (j - cj) * (j - cj)
        val exp = math.exp(-p / d) * (1 - 2 / d * p)
        assert(approx(got(i * 5 + j), exp), s"c=($ci,$cj) n=($i,$j)")
      }
    }
  }

  test("mexican hat compact support rejects non-square rect maps (ref broadcast error)") {
    intercept[IllegalArgumentException] {
      Neighborhoods.MexicanHat(Rectangular(4, 6), 0.5, compact = true)
    }
    // square + compact and non-square + non-compact both construct fine
    Neighborhoods.MexicanHat(Rectangular(5, 5), 0.5, compact = true)
    Neighborhoods.MexicanHat(Rectangular(4, 6), 0.5, compact = false)
  }

  test("registry: mexican_hat's square-map check rejects only mexican_hat") {
    val topo = Rectangular(4, 6)
    intercept[IllegalArgumentException] {
      Neighborhoods("mexican_hat", topo, 0.5, compact = true)
    }
    for (name <- Seq("gaussian", "bubble", "triangle"))
      assert(Neighborhoods(name, topo, 0.5, compact = true).name == name)
    SomConfig(4, 6, compactSupport = true).validated
  }

  test("bubble uses strict inequalities and raw indices (`neighborhoods.py:99-112`)") {
    val topo = Rectangular(5, 5)
    val b = Neighborhoods.Bubble(topo)
    val got = weights(b, 2, 2, 1.0)
    for (i <- 0 until 5; j <- 0 until 5) {
      val exp = if (i > 1 && i < 3 && j > 1 && j < 3) 1.0 else 0.0 // only (2,2)
      assert(got(i * 5 + j) == exp)
    }
    // sigma=2: window (0,4) exclusive
    val got2 = weights(b, 2, 2, 2.0)
    for (i <- 0 until 5; j <- 0 until 5) {
      val exp = if (i > 0 && i < 4 && j > 0 && j < 4) 1.0 else 0.0
      assert(got2(i * 5 + j) == exp)
    }
  }

  test("triangle matches max(0, sigma-|c-n|) outer product") {
    val topo = Rectangular(5, 5)
    val t = Neighborhoods.Triangle(topo, compact = false)
    for (ci <- 0 until 5; cj <- 0 until 5) {
      val sigma = 2.0
      val got = weights(t, ci, cj, sigma)
      for (i <- 0 until 5; j <- 0 until 5) {
        val exp = math.max(0.0, sigma - math.abs(ci - i)) * math.max(0.0, sigma - math.abs(cj - j))
        assert(approx(got(i * 5 + j), exp))
      }
    }
  }

  test("hexagonal row shift convention pinned (`xpysom.py:205-206`)") {
    // y=4: _xx rows selected by [::-2] are j=3 and j=1.
    val topo = Hexagonal(3, 4)
    assert(topo.shiftedRow(3) && topo.shiftedRow(1))
    assert(!topo.shiftedRow(2) && !topo.shiftedRow(0))
    assert(topo.euclidX(2, 3) == 1.5 && topo.euclidX(2, 2) == 2.0)
    // y=5: shifted rows are j=4, 2, 0.
    val t5 = Hexagonal(5, 5)
    assert(t5.shiftedRow(4) && t5.shiftedRow(2) && t5.shiftedRow(0))
    assert(!t5.shiftedRow(3) && !t5.shiftedRow(1))
  }

  test("gaussian hex matches generic closed form over shifted coords") {
    val topo = Hexagonal(5, 5)
    val g = Neighborhoods.Gaussian(topo, 0.5, compact = false)
    for (ci <- 0 until 5; cj <- 0 until 5) {
      val sigma = 1.2
      val d = 2 * 0.25 * sigma * sigma
      val cx = topo.euclidX(ci, cj); val cy = cj.toDouble
      val got = weights(g, ci, cj, sigma)
      for (i <- 0 until 5; j <- 0 until 5) {
        val nx = topo.euclidX(i, j); val ny = j.toDouble
        val exp = math.exp(-(nx - cx) * (nx - cx) / d) * math.exp(-(ny - cy) * (ny - cy) / d)
        assert(approx(got(i * 5 + j), exp), s"c=($ci,$cj) n=($i,$j)")
      }
    }
  }

  test("mexican hat hex memoized path is bit-identical to the direct path") {
    // the memo kicks in only for n*k above the table-build cost; drive
    // a batch big enough to cross the threshold on a non-square grid
    // and compare each row against a single-winner (direct-path) call
    val topo = Hexagonal(4, 6)
    for (compact <- Seq(false, true); sigma <- Seq(1.3, 2.0)) {
      val m = Neighborhoods.MexicanHat(topo, 0.5, compact)
      val rnd = new scala.util.Random(7)
      val n = 40 // 40*24 > 8*7*11 — memoized path
      val wi = Array.fill(n)(rnd.nextInt(4))
      val wj = Array.fill(n)(rnd.nextInt(6))
      val out = new Array[Double](n * 24)
      m.compute(wi, wj, n, sigma, out)
      for (s <- 0 until n) {
        val direct = weights(m, wi(s), wj(s), sigma) // n=1 — direct path
        for (q <- 0 until 24)
          assert(out(s * 24 + q) == direct(q),
            s"s=$s winner=(${wi(s)},${wj(s)}) q=$q compact=$compact sigma=$sigma")
      }
    }
  }

  test("mexican hat rect memoized path is bit-identical to the direct path") {
    val topo = Rectangular(4, 6)
    val m = Neighborhoods.MexicanHat(topo, 0.5, compact = false)
    val rnd = new scala.util.Random(11)
    val n = 30 // 30*24 > 2*7*11 — memoized path
    val wi = Array.fill(n)(rnd.nextInt(4))
    val wj = Array.fill(n)(rnd.nextInt(6))
    val out = new Array[Double](n * 24)
    m.compute(wi, wj, n, sigma = 1.4, out)
    for (s <- 0 until n) {
      val direct = weights(m, wi(s), wj(s), 1.4) // n=1 — direct path
      for (q <- 0 until 24)
        assert(out(s * 24 + q) == direct(q), s"s=$s q=$q")
    }
  }

  test("gaussian hex memoized factors are bit-identical to the closed form") {
    val topo = Hexagonal(5, 7)
    for (compact <- Seq(false, true)) {
      val g = Neighborhoods.Gaussian(topo, 0.5, compact)
      val sigma = 1.7
      val d = 2 * 0.25 * sigma * sigma
      for (ci <- 0 until 5; cj <- 0 until 7) {
        val cx = topo.euclidX(ci, cj); val cy = cj.toDouble
        val got = weights(g, ci, cj, sigma)
        for (i <- 0 until 5; j <- 0 until 7) {
          val nx = topo.euclidX(i, j); val ny = j.toDouble
          var ax = math.exp(-(nx - cx) * (nx - cx) / d)
          var ay = math.exp(-(ny - cy) * (ny - cy) / d)
          if (compact) {
            if (!(nx - cx > -sigma && nx - cx < sigma)) ax = 0.0
            if (!(ny - cy > -sigma && ny - cy < sigma)) ay = 0.0
          }
          assert(got(i * 7 + j) == ax * ay, s"c=($ci,$cj) n=($i,$j) compact=$compact")
        }
      }
    }
  }

  test("registry: triangle unavailable under hexagonal (`xpysom.py:271-279`)") {
    Neighborhoods("triangle", Rectangular(3, 3), 0.5, compact = false)
    assertThrows[IllegalArgumentException](
      Neighborhoods("triangle", Hexagonal(3, 3), 0.5, compact = false))
    assertThrows[IllegalArgumentException](
      Neighborhoods("nope", Rectangular(3, 3), 0.5, compact = false))
    for (n <- Seq("gaussian", "mexican_hat", "bubble"))
      Neighborhoods(n, Hexagonal(3, 3), 0.5, compact = false)
  }

  test("batch of winners fills independent rows") {
    val topo = Rectangular(4, 4)
    val g = Neighborhoods.Gaussian(topo, 0.5, compact = false)
    val out = new Array[Double](2 * 16)
    g.compute(Array(0, 3), Array(0, 3), 2, 1.0, out)
    val single0 = weights(g, 0, 0, 1.0)
    val single1 = weights(g, 3, 3, 1.0)
    assert(out.slice(0, 16).sameElements(single0))
    assert(out.slice(16, 32).sameElements(single1))
  }
}
