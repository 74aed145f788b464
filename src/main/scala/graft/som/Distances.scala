package graft.som

import dev.ludovic.netlib.blas.BLAS

/** Batched sample-vs-codebook distance kernels.
  *
  * Each kernel fills a row-major (n x k) matrix `out` with the distance of
  * every sample (rows of `x`, n x d row-major) to every codebook row
  * (`w`, k x d row-major). Registry and name set mirror the reference
  * (`distances.py:160-191`): euclidean (partial, rank-invariant),
  * euclidean_no_opt, manhattan, manhattan_no_opt, cosine, norm_p,
  * norm_p_no_opt. Math is double precision (the reference computes in
  * float32 — `xpysom.py:485` — and compares with ~1e-7 tolerance; double
  * is strictly tighter and lets the DuckDB oracle match exactly).
  */
sealed abstract class Distance(val name: String, val canCache: Boolean) extends Serializable {
  def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
              wSq: Array[Double], out: Array[Double]): Unit

  protected def wSqOrCompute(w: Array[Double], k: Int, d: Int, wSq: Array[Double]): Array[Double] =
    if (wSq != null) wSq else Distances.rowSumSq(w, k, d)
}

object Distances {
  private[som] lazy val blas: BLAS = BLAS.getInstance()

  /** Per-row sum of squares: wSq(j) = sum_d w(j,d)^2 (`distances.py:21`). */
  def rowSumSq(m: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var s = 0.0
      var c = 0
      val base = r * cols
      while (c < cols) { val v = m(base + c); s += v * v; c += 1 }
      out(r) = s
      r += 1
    }
    out
  }

  /** out (row-major n x k) = x (n x d) * w^T (d x k), via column-major
    * dgemm on the transposed view.
    */
  def crossTerm(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                out: Array[Double]): Unit =
    blas.dgemm("T", "N", k, n, d, 1.0, w, d, x, d, 0.0, out, k)

  /** `distances.py:11-23` — ‖x−w‖² minus the x² term (rank-invariant). */
  case object EuclideanPart extends Distance("euclidean", canCache = true) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      val wsq = wSqOrCompute(w, k, d, wSq)
      crossTerm(x, n, w, k, d, out)
      var i = 0
      while (i < n * k) { out(i) = -2.0 * out(i) + wsq(i % k); i += 1 }
    }
  }

  /** `distances.py:25-31` — full squared L2. */
  case object EuclideanSquared extends Distance("euclidean_no_opt", canCache = false) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      EuclideanPart.compute(x, n, w, k, d, wSq, out)
      val xSq = rowSumSq(x, n, d)
      var i = 0
      while (i < n) {
        val base = i * k
        var j = 0
        while (j < k) { out(base + j) += xSq(i); j += 1 }
        i += 1
      }
    }
  }

  /** `distances.py:33-43` — true L2; negative fp residue clamps to 0
    * (replaces the reference's nan_to_num on sqrt of negatives).
    */
  case object EuclideanTrue extends Distance("euclidean_true", canCache = false) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      EuclideanSquared.compute(x, n, w, k, d, wSq, out)
      var i = 0
      while (i < n * k) { out(i) = if (out(i) > 0) math.sqrt(out(i)) else 0.0; i += 1 }
    }
  }

  /** `distances.py:45-59` — 1 − cos; zero-norm pairs get similarity 0
    * (nan_to_num), hence distance 1.
    */
  case object Cosine extends Distance("cosine", canCache = true) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      val wsq = wSqOrCompute(w, k, d, wSq)
      crossTerm(x, n, w, k, d, out)
      val xSq = rowSumSq(x, n, d)
      var i = 0
      while (i < n) {
        val base = i * k
        var j = 0
        while (j < k) {
          val denom = math.sqrt(xSq(i) * wsq(j))
          val sim = if (denom == 0.0) 0.0 else out(base + j) / denom
          out(base + j) = 1.0 - sim
          j += 1
        }
        i += 1
      }
    }
  }

  /** `distances.py:61-75,98-107` — Σ|x−w|^p, no p-th root (rank-
    * invariant). Fused loop replaces the reference's 3-D broadcast temp;
    * the even-p binomial-expansion fast path (`distances.py:77-96`)
    * is unnecessary on the JVM — see `normPEvenExpansion` kept for
    * differential testing.
    */
  final case class NormP(p: Double) extends Distance("norm_p", canCache = false) {
    // small integer exponents run as multiply chains — math.pow per
    // element is ~70x slower on the 10k x 256 x 100 bench workload
    private val intP: Int = if (p == math.rint(p) && p >= 1 && p <= 8) p.toInt else -1

    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      var i = 0
      while (i < n) {
        val xb = i * d
        var j = 0
        while (j < k) {
          val wb = j * d
          var s = 0.0
          var c = 0
          if (intP > 0) {
            while (c < d) {
              val a = math.abs(x(xb + c) - w(wb + c))
              var v = a
              var e = 1
              while (e < intP) { v *= a; e += 1 }
              s += v
              c += 1
            }
          } else {
            while (c < d) { s += math.pow(math.abs(x(xb + c) - w(wb + c)), p); c += 1 }
          }
          out(i * k + j) = s
          j += 1
        }
        i += 1
      }
    }
  }

  /** `distances.py:137-158` — L1 (the CUDA kernel's JVM analogue is the
    * same fused loop).
    */
  case object Manhattan extends Distance("manhattan", canCache = false) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit = {
      var i = 0
      while (i < n) {
        val xb = i * d
        var j = 0
        while (j < k) {
          val wb = j * d
          var s = 0.0
          var c = 0
          while (c < d) { s += math.abs(x(xb + c) - w(wb + c)); c += 1 }
          out(i * k + j) = s
          j += 1
        }
        i += 1
      }
    }
  }

  /** Binomial expansion of Σ(x−w)^p for even p into p+1 gemm-shaped terms
    * (`distances.py:77-96`). Kept for differential tests; `NormP` is the
    * production path.
    */
  def normPEvenExpansion(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                         p: Int): Array[Double] = {
    require(p % 2 == 0, "p must be even")
    val acc = new Array[Double](n * k)
    val tmp = new Array[Double](n * k)
    val xe = new Array[Double](n * d)
    val we = new Array[Double](k * d)
    var bin = 1L
    var e = 0
    while (e <= p) {
      var i = 0
      while (i < n * d) { xe(i) = math.pow(x(i), p - e); i += 1 }
      i = 0
      while (i < k * d) { we(i) = math.pow(w(i), e); i += 1 }
      crossTerm(xe, n, we, k, d, tmp)
      val sign = if (e % 2 == 1) -1.0 else 1.0
      i = 0
      while (i < n * k) { acc(i) += sign * bin * tmp(i); i += 1 }
      bin = bin * (p - e) / (e + 1)
      e += 1
    }
    acc
  }

  /** Name registry + validation (`distances.py:162-175`); `norm_p` takes
    * the exponent from kwargs (`xpysom.py:132-135`).
    */
  def apply(name: String, p: Double = 2.0): Distance = name match {
    case "euclidean"        => EuclideanPart
    case "euclidean_no_opt" => EuclideanSquared
    case "manhattan"        => Manhattan
    case "manhattan_no_opt" => Manhattan
    case "cosine"           => Cosine
    case "norm_p"           => NormP(p)
    case "norm_p_no_opt"    => NormP(p)
    case other =>
      throw new IllegalArgumentException(
        s"$other not supported. Distances available: euclidean, euclidean_no_opt, " +
          "manhattan, manhattan_no_opt, cosine, norm_p, norm_p_no_opt")
  }

  /** First-index argmin per row (numpy argmin tie-break, `xpysom.py:416`). */
  def argminRows(m: Array[Double], n: Int, k: Int, out: Array[Int]): Unit = {
    var i = 0
    while (i < n) {
      val base = i * k
      var best = 0
      var bestV = m(base)
      var j = 1
      while (j < k) {
        val v = m(base + j)
        if (v < bestV) { bestV = v; best = j }
        j += 1
      }
      out(i) = best
      i += 1
    }
  }
}
