package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.plans.{KmeansKernel, SomBmuKernel}
import graft.som.{Codebook, Distances, Som, SomConfig}

/** Per-layer replays for the traced run: the `som` and `plans` kernels
  * timed through their public entry points at a workload's shapes, on
  * the driver, off the timed path.
  */
object Layers {
  private val Reps = 3

  private def medianOf(reps: Int)(f: => Double): Double =
    Stats.median(Seq.fill(reps)(f))

  /** Computed floating-point operations per row of one euclidean +
    * gaussian epoch: the distance cross term (2·k·dim), the accumulation
    * gemm (2·k·dim), and argmin, neighbourhood, scaling and `den`
    * accumulation (about 5·k).
    */
  def epochFlopsPerRow(k: Int, dim: Int): Double = 4.0 * k * dim + 5.0 * k

  /** One partition's epoch at the training shapes. `som.kernel.epoch_s`
    * is `Som.fitMatrix` for one epoch over `rows`; distance, argmin and
    * neighbourhood are replayed batch by batch through their public
    * kernels; `accum_s` is the rest of the epoch (gemm and accumulation).
    */
  def somKernels(cfg: SomConfig, cb: Codebook, rows: Array[Array[Float]],
                 epochs: Int): Map[String, Double] = {
    val k = cfg.x * cfg.y
    val dim = cb.dim
    val bs = cfg.batchSize
    val dist = cfg.distanceFn
    val neigh = cfg.neighborhoodFn
    val sig = cfg.decayFn(cfg.sigma0, cfg.sigmaN, 0, epochs)
    val w = cb.weights
    val wSq = if (dist.canCache) cb.rowSumSq() else null
    val xBuf = new Array[Double](bs * dim)
    val dBuf = new Array[Double](bs * k)
    val gBuf = new Array[Double](bs * k)
    val wins = new Array[Int](bs)
    val winI = new Array[Int](bs)
    val winJ = new Array[Int](bs)
    def replay(): (Double, Double, Double) = {
      var tDist = 0L; var tArg = 0L; var tNeigh = 0L
      var off = 0
      while (off < rows.length) {
        val n = math.min(bs, rows.length - off)
        var s = 0
        while (s < n) {
          val row = rows(off + s)
          var c = 0
          while (c < dim) { xBuf(s * dim + c) = row(c); c += 1 }
          s += 1
        }
        val t0 = System.nanoTime()
        dist.compute(xBuf, n, w, k, dim, wSq, dBuf)
        val t1 = System.nanoTime()
        Distances.argminRows(dBuf, n, k, wins)
        val t2 = System.nanoTime()
        s = 0
        while (s < n) { winI(s) = wins(s) / cfg.y; winJ(s) = wins(s) % cfg.y; s += 1 }
        val t3 = System.nanoTime()
        neigh.compute(winI, winJ, n, sig, gBuf)
        val t4 = System.nanoTime()
        tDist += t1 - t0; tArg += t2 - t1; tNeigh += t4 - t3
        off += n
      }
      (tDist / 1e9, tArg / 1e9, tNeigh / 1e9)
    }
    val som = new Som(cfg)
    val parts = Seq.fill(Reps)(replay())
    val epochS = medianOf(Reps) {
      val t0 = System.nanoTime()
      som.fitMatrix(rows, numEpochs = 1, init = cb)
      (System.nanoTime() - t0) / 1e9
    }
    val distS = Stats.median(parts.map(_._1))
    val argS = Stats.median(parts.map(_._2))
    val neighS = Stats.median(parts.map(_._3))
    Map(
      "som.kernel.distance_s" -> distS,
      "som.kernel.argmin_s" -> argS,
      "som.kernel.neighborhood_s" -> neighS,
      "som.kernel.epoch_s" -> epochS,
      "som.kernel.accum_s" -> math.max(0.0, epochS - distS - argS - neighS),
      "som.kernel.gflops" -> rows.length * epochFlopsPerRow(k, dim) / epochS / 1e9)
  }

  private def arrays(rows: Array[Array[Float]]): Array[UnsafeArrayData] =
    rows.map(r => UnsafeArrayData.fromPrimitiveArray(r))

  /** `SomBmuKernel.bmu` (euclidean) per row against a `k × dim` table. */
  def somBmuNsPerRow(w: Array[Double], dim: Int, rows: Array[Array[Float]]): Double = {
    val data = arrays(rows)
    val wSq = Distances.rowSumSq(w, w.length / dim, dim)
    var sink = 0L
    val ns = medianOf(Reps) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < data.length) {
        sink += SomBmuKernel.bmu(data(i), true, w, wSq, dim, "euclidean", 2.0)
        i += 1
      }
      (System.nanoTime() - t0).toDouble / data.length
    }
    require(sink >= 0)
    ns
  }

  /** `KmeansKernel.assign` per row against a `k × dim` table. */
  def kmeansAssignNsPerRow(w: Array[Double], dim: Int, rows: Array[Array[Float]]): Double = {
    val data = arrays(rows)
    var sink = 0L
    val ns = medianOf(Reps) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < data.length) {
        sink += KmeansKernel.assign(data(i), true, w, dim).getInt(0)
        i += 1
      }
      (System.nanoTime() - t0).toDouble / data.length
    }
    require(sink >= 0)
    ns
  }

  /** Both `plans` kernels against one table. */
  def plansKernels(w: Array[Double], dim: Int, rows: Array[Array[Float]]): Map[String, Double] =
    Map("plans.som_bmu.ns_per_row" -> somBmuNsPerRow(w, dim, rows),
      "plans.kmeans_assign.ns_per_row" -> kmeansAssignNsPerRow(w, dim, rows))
}
