package graft.som

import org.scalatest.funsuite.AnyFunSuite

/** Pins the epoch update — per-winner (sums, counts) from
  * `partitionUpdate`, then `spread` through the neighbourhood table —
  * to the reference's dense per-row form (`xpysom.py:420-443`): G (n x k)
  * holds each row's neighbourhood weights times eta, den = Σ_s G[s],
  * num = Gᵀ·X. The dense form lives only here, as plain loops.
  */
class SomUpdateSpec extends AnyFunSuite {

  private val eta = 0.37
  private val sig = 1.3

  private def rows(n: Int, dim: Int, seed: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
  }

  private def winners(cfg: SomConfig, w: Array[Double],
                      data: Array[Array[Float]]): Array[Int] = {
    val k = cfg.x * cfg.y
    val dim = w.length / k
    val dist = cfg.distanceFn
    val wSq = if (dist.canCache) Distances.rowSumSq(w, k, dim) else null
    val x = data.flatMap(_.map(_.toDouble))
    val d = new Array[Double](data.length * k)
    dist.compute(x, data.length, w, k, dim, wSq, d)
    val wins = new Array[Int](data.length)
    Distances.argminRows(d, data.length, k, wins)
    wins
  }

  /** Dense reference (num, den) plus per-entry Σ|g·x| and Σ|g|, the
    * scales the summation error is bounded by.
    */
  private def dense(cfg: SomConfig, w: Array[Double], data: Array[Array[Float]])
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val k = cfg.x * cfg.y
    val dim = w.length / k
    val wins = winners(cfg, w, data)
    val n = data.length
    val g = new Array[Double](n * k)
    cfg.neighborhoodFn.compute(wins.map(_ / cfg.y), wins.map(_ % cfg.y), n, sig, g)
    val num = new Array[Double](k * dim)
    val den = new Array[Double](k)
    val absNum = new Array[Double](k * dim)
    val absDen = new Array[Double](k)
    for (s <- 0 until n; j <- 0 until k) {
      val gv = g(s * k + j) * eta
      den(j) += gv
      absDen(j) += math.abs(gv)
      for (c <- 0 until dim) {
        num(j * dim + c) += gv * data(s)(c)
        absNum(j * dim + c) += math.abs(gv * data(s)(c))
      }
    }
    (num, den, absNum, absDen)
  }

  /** The production update over `parts` partitions of `data`. */
  private def update(cfg: SomConfig, w: Array[Double], data: Array[Array[Float]],
                     parts: Int): (Array[Double], Array[Double]) = {
    val k = cfg.x * cfg.y
    val wSq = if (cfg.distanceFn.canCache) Distances.rowSumSq(w, k, w.length / k) else null
    val size = (data.length + parts - 1) / parts
    val partials = (0 until parts).map { p =>
      p -> SomKernels.partitionUpdate(
        data.slice(p * size, (p + 1) * size).iterator, w, wSq, cfg)
    }
    val (sums, counts) = SomKernels.foldDeterministicLocal(
      partials, parts, cfg.treeDepth)(SomKernels.addPartial)
    SomKernels.spread(sums, counts, cfg, eta, sig)
  }

  private def check(cfg: SomConfig, data: Array[Array[Float]], parts: Int = 1,
                    seed: Long = 1L): Unit = {
    val dim = data(0).length
    val w = Codebook.randomUniform(cfg.x, cfg.y, dim, seed).weights
    val (num, den) = update(cfg, w, data, parts)
    val (eNum, eDen, absNum, absDen) = dense(cfg, w, data)
    val what = s"$cfg n=${data.length} parts=$parts"
    for (j <- den.indices) {
      assert(math.abs(den(j) - eDen(j)) <= 1e-9 * absDen(j), s"den($j): $what")
      // the merge's den == 0 guard must see the same zeros
      assert((den(j) == 0.0) == (eDen(j) == 0.0) || cfg.neighborhood == "mexican_hat",
        s"den($j) zero pattern: $what")
    }
    for (e <- num.indices)
      assert(math.abs(num(e) - eNum(e)) <= 1e-9 * absNum(e), s"num($e): $what")
  }

  test("spread == dense Gᵀ·X for every neighbourhood × topology × compactSupport") {
    val data = rows(60, 3, seed = 4)
    // the two combinations the registry rejects: hexagonal triangle,
    // and rectangular compact mexican_hat on a non-square map
    def supported(topology: String, neighborhood: String, compact: Boolean,
                  square: Boolean): Boolean =
      !(topology == "hexagonal" && neighborhood == "triangle") &&
        !(topology == "rectangular" && neighborhood == "mexican_hat" && compact && !square)
    var cases = 0
    for (topology <- Seq("rectangular", "hexagonal");
         neighborhood <- Seq("gaussian", "mexican_hat", "bubble", "triangle");
         compact <- Seq(false, true);
         (x, y) <- Seq((4, 4), (3, 5))) {
      if (supported(topology, neighborhood, compact, x == y)) {
        check(SomConfig(x, y, neighborhood = neighborhood, topology = topology,
          compactSupport = compact), data)
        cases += 1
      }
    }
    assert(cases == 27)
  }

  test("every distance, and multi-partition combines, match the dense form") {
    val data = rows(45, 4, seed = 8)
    for (distance <- Seq("euclidean", "euclidean_no_opt", "cosine", "manhattan", "norm_p"))
      check(SomConfig(3, 4, distance = distance, normP = 3.0), data, parts = 3)
  }

  test("mexican_hat's negative weights and bubble's zeros survive the spread") {
    val data = rows(40, 2, seed = 5)
    val cfgHat = SomConfig(5, 5, neighborhood = "mexican_hat")
    val w = Codebook.randomUniform(5, 5, 2, 1L).weights
    val g = new Array[Double](25)
    cfgHat.neighborhoodFn.compute(Array(2), Array(2), 1, sig, g)
    assert(g.exists(_ < 0), "fixture must exercise negative hat weights")
    check(cfgHat, data)
    val cfgBubble = SomConfig(5, 5, neighborhood = "bubble")
    check(cfgBubble, data)
    // three rows: the bubble windows leave most neurons at den == 0
    val sparse = data.take(3)
    check(cfgBubble, sparse)
    val (_, den) = update(cfgBubble, w, sparse, 1)
    assert(den.contains(0.0), "fixture must exercise bubble's zero weights")
  }

  test("empty Voronoi cells and empty partitions") {
    // 5 rows on 36 neurons: at least 31 empty cells
    val few = rows(5, 3, seed = 2)
    check(SomConfig(6, 6, sigma = 0.8, neighborhood = "bubble"), few)
    check(SomConfig(6, 6), few, parts = 3)
    // 5 rows over 8 partitions: three partitions hold no row
    check(SomConfig(6, 6), few, parts = 8)
    // every row on one winner: a single occupied cell
    val same = Array.fill(9)(Array(0.25f, -0.5f, 0.75f))
    check(SomConfig(4, 4, compactSupport = true), same)
    val cfg = SomConfig(4, 4)
    val w = Codebook.randomUniform(4, 4, 3, 1L).weights
    val (sums, counts) = SomKernels.partitionUpdate(Iterator.empty, w, null, cfg)
    assert(sums.forall(_ == 0.0) && counts.forall(_ == 0.0))
    val (num, den) = SomKernels.spread(sums, counts, cfg, eta, sig)
    assert(num.forall(_ == 0.0) && den.forall(_ == 0.0))
  }

  test("row counts that are not a multiple of batchSize, and blocked spreads") {
    val data = rows(53, 3, seed = 6)
    // batchSize 7: 8 sub-batches, the last one of 4 rows; more than 7
    // occupied cells, so the spread runs in several blocks too
    for (neighborhood <- Seq("gaussian", "mexican_hat"))
      check(SomConfig(5, 6, batchSize = 7, neighborhood = neighborhood), data)
    check(SomConfig(5, 6, batchSize = 7, topology = "hexagonal"), data, parts = 2)
    val cfg = SomConfig(5, 6, batchSize = 7)
    val w = Codebook.randomUniform(5, 6, 3, 1L).weights
    val k = 30
    val (_, counts) = SomKernels.partitionUpdate(data.iterator, w,
      Distances.rowSumSq(w, k, 3), cfg)
    assert(counts.sum == 53.0)
    assert(counts.count(_ > 0) > cfg.batchSize)
  }

  test("a dim-mismatch row still throws") {
    val cfg = SomConfig(3, 3, batchSize = 4)
    val w = Codebook.randomUniform(3, 3, 3, 1L).weights
    val data = rows(6, 3, seed = 1) :+ Array(1f, 2f)
    val ex = intercept[IllegalArgumentException] {
      SomKernels.partitionUpdate(data.iterator, w, Distances.rowSumSq(w, 9, 3), cfg)
    }
    assert(ex.getMessage.contains("Received 2 features, expected 3."))
  }
}
