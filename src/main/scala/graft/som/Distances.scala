package graft.som

import jdk.incubator.vector.DoubleVector

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
  *
  * Every value a kernel writes for a row is a fixed sequence of
  * operations on that row and the codebook alone: it does not depend
  * on the other rows of the batch, the row's place in it, the batch
  * size, the CPU's vector width or any library — which the SOM's
  * partition-invariant training relies on.
  */
sealed abstract class Distance(val name: String, val canCache: Boolean) extends Serializable {
  def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
              wSq: Array[Double], out: Array[Double]): Unit

  protected def wSqOrCompute(w: Array[Double], k: Int, d: Int, wSq: Array[Double]): Array[Double] =
    if (wSq != null) wSq else Distances.rowSumSq(w, k, d)
}

object Distances {
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

  /** out (row-major n x k) = x (n x d) * w^T (d x k): the dot product of
    * row i and codebook row j is the `Math.fma` chain over the features
    * in ascending order, from 0.0 — the same operations, hence the same
    * bits, wherever the row sits in any batch ([[Tiled]]).
    */
  def crossTerm(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                out: Array[Double]): Unit =
    tiled(x, n, w, k, d, null, out)

  /** Whether this JVM resolved `jdk.incubator.vector`, which [[Tiled]]
    * is written on. Checked here, in a class that does not link against
    * it, so a JVM started without the module fails with a message that
    * names the flag instead of a `NoClassDefFoundError`.
    */
  private lazy val vectorApi: Boolean =
    ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent

  private def tiled(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                    wSq: Array[Double], out: Array[Double]): Unit = {
    if (!vectorApi)
      throw new UnsupportedOperationException("graft's distance kernels run on the " +
        "Vector API: start the JVM with --add-modules=jdk.incubator.vector")
    Tiled.run(x, n, w, k, d, wSq, out)
  }

  /** `distances.py:11-23` — ‖x−w‖² minus the x² term (rank-invariant):
    * −2·x·w + ‖w‖², one fma per value on top of the cross term.
    */
  case object EuclideanPart extends Distance("euclidean", canCache = true) {
    def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                wSq: Array[Double], out: Array[Double]): Unit =
      tiled(x, n, w, k, d, wSqOrCompute(w, k, d, wSq), out)
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

/** The body of [[Distances.crossTerm]]: the one place that links
  * against `jdk.incubator.vector`.
  */
private[som] object Tiled {
  /** The cross term x·wᵀ, register-tiled over `DoubleVector`s: a tile is
    * 4 rows x 4 vectors of cells (16 accumulators), reading the d x kp
    * transpose of `w` built here (1/n of the work), its cells zero-padded
    * to kp, a multiple of the tile's 4·lanes. Each lane holds one
    * (row, cell) dot product as the ascending-feature fma chain from 0.0.
    * Every row and cell runs through the one tile: the last rows of a
    * batch that does not fill 4 run zero-padded, and a tile holding
    * padding writes into `block`, whose real rows and cells are copied
    * out — so neither the tile edge nor the lane width changes a bit.
    * A map of k cells costs as much as one of kp: fewer than 4·lanes
    * cells (16 at 4 lanes, 32 at 8) fill one tile with padding.
    * With `wSq`, each dot product then takes one more fma to
    * fma(−2, dot, wSq(j)), the partial squared euclidean distance.
    */
  def run(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
          wSq: Array[Double], out: Array[Double]): Unit = {
    val width = 4 * DoubleVector.SPECIES_PREFERRED.length()
    val kp = (k + width - 1) / width * width
    val wt = new Array[Double](d * kp)
    var j = 0
    while (j < k) {
      var c = 0
      while (c < d) { wt(c * kp + j) = w(j * d + c); c += 1 }
      j += 1
    }
    val wSqP = if (wSq == null) null else java.util.Arrays.copyOf(wSq, kp)
    val xRows = new Array[Double](4 * d)
    val block = new Array[Double](4 * kp)
    var i = 0
    while (i < n) {
      val rows = math.min(4, n - i)
      if (rows < 4) System.arraycopy(x, i * d, xRows, 0, rows * d)
      val xs = if (rows < 4) xRows else x
      val x0 = if (rows < 4) 0 else i * d
      val direct = rows == 4 && kp == k
      val to = if (direct) out else block
      val o0 = if (direct) i * k else 0
      j = 0
      while (j < kp) { tile4(xs, x0, wt, kp, d, j, wSqP, to, o0); j += width }
      if (!direct) {
        var r = 0
        while (r < rows) { System.arraycopy(block, r * kp, out, (i + r) * k, k); r += 1 }
      }
      i += 4
    }
  }

  /** The 4 rows from x(x0) x cells j until j + 4·lanes of [[run]],
    * written from out(o0 + j) with row stride kp.
    */
  private def tile4(x: Array[Double], x0: Int, wt: Array[Double], kp: Int, d: Int, j: Int,
                    wSq: Array[Double], out: Array[Double], o0: Int): Unit = {
    val S = DoubleVector.SPECIES_PREFERRED
    val L = S.length()
    var a00 = DoubleVector.zero(S); var a01 = a00; var a02 = a00; var a03 = a00
    var a10 = a00; var a11 = a00; var a12 = a00; var a13 = a00
    var a20 = a00; var a21 = a00; var a22 = a00; var a23 = a00
    var a30 = a00; var a31 = a00; var a32 = a00; var a33 = a00
    var c = 0
    while (c < d) {
      val o = c * kp + j
      val w0 = DoubleVector.fromArray(S, wt, o)
      val w1 = DoubleVector.fromArray(S, wt, o + L)
      val w2 = DoubleVector.fromArray(S, wt, o + 2 * L)
      val w3 = DoubleVector.fromArray(S, wt, o + 3 * L)
      var b = DoubleVector.broadcast(S, x(x0 + c))
      a00 = b.fma(w0, a00); a01 = b.fma(w1, a01); a02 = b.fma(w2, a02); a03 = b.fma(w3, a03)
      b = DoubleVector.broadcast(S, x(x0 + d + c))
      a10 = b.fma(w0, a10); a11 = b.fma(w1, a11); a12 = b.fma(w2, a12); a13 = b.fma(w3, a13)
      b = DoubleVector.broadcast(S, x(x0 + 2 * d + c))
      a20 = b.fma(w0, a20); a21 = b.fma(w1, a21); a22 = b.fma(w2, a22); a23 = b.fma(w3, a23)
      b = DoubleVector.broadcast(S, x(x0 + 3 * d + c))
      a30 = b.fma(w0, a30); a31 = b.fma(w1, a31); a32 = b.fma(w2, a32); a33 = b.fma(w3, a33)
      c += 1
    }
    var o = o0 + j
    a00.intoArray(out, o); a01.intoArray(out, o + L); a02.intoArray(out, o + 2 * L); a03.intoArray(out, o + 3 * L)
    o += kp
    a10.intoArray(out, o); a11.intoArray(out, o + L); a12.intoArray(out, o + 2 * L); a13.intoArray(out, o + 3 * L)
    o += kp
    a20.intoArray(out, o); a21.intoArray(out, o + L); a22.intoArray(out, o + 2 * L); a23.intoArray(out, o + 3 * L)
    o += kp
    a30.intoArray(out, o); a31.intoArray(out, o + L); a32.intoArray(out, o + 2 * L); a33.intoArray(out, o + 3 * L)
    if (wSq != null) euclidean(wSq, j, out, o0 + j, kp)
  }

  /** out = fma(−2, out, wSq(cell)) over 4 rows (stride kp) from out(o)
    * and cells j until j + 4·lanes: a tile's
    * dot products turned into partial squared euclidean distances while
    * the tile is still in cache. A separate step because the JIT keeps
    * vectors unboxed only while no call takes them as arguments.
    */
  private def euclidean(wSq: Array[Double], j: Int, out: Array[Double],
                        o: Int, kp: Int): Unit = {
    val S = DoubleVector.SPECIES_PREFERRED
    val width = 4 * S.length()
    val m2 = DoubleVector.broadcast(S, -2.0)
    var r = 0
    while (r < 4) {
      var v = 0
      while (v < width) {
        val at = o + r * kp + v
        m2.fma(DoubleVector.fromArray(S, out, at), DoubleVector.fromArray(S, wSq, j + v))
          .intoArray(out, at)
        v += S.length()
      }
      r += 1
    }
  }
}
