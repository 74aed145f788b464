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
  * size, the CPU's vector width or any library. The SOM's
  * partition-invariant training relies on it, and so does serving: every
  * SOM query runs these kernels on a one-row batch
  * (`graft.plans.SomBmuKernel`), so a served winner is the winner the
  * training epoch gave that row.
  */
sealed abstract class Distance(val name: String, val canCache: Boolean) extends Serializable {
  /** The distance from each of the `n` rows of `x` (n x d, row-major) to
    * every cell of `cb` into `out` (n x k, row-major). The tile's block
    * is the caller's ([[PreparedCodebook.block]]), so a call allocates
    * nothing.
    */
  def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
              out: Array[Double]): Unit

  /** [[compute]] against `w` (k x d, row-major) prepared for this call
    * alone; `wSq` is its [[Distances.rowSumSq]] or null.
    */
  final def compute(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                    wSq: Array[Double], out: Array[Double]): Unit = {
    val cb = new PreparedCodebook(w, k, d, wSq)
    compute(x, n, cb, cb.block(), out)
  }
}

/** A codebook ready for the distance kernels: `w` (k x d, row-major),
  * and the d x kp transpose [[Tiled]] reads and the per-cell ‖w‖²
  * (`wSq`, computed when `wSq0` is null), cells zero-padded to kp, a
  * multiple of the tile's 4·lanes. Read-only once built, so any number
  * of threads and calls share one. kp follows the lane count of the JVM
  * that runs the tile, so the padded arrays are built there, on first
  * use after deserialization.
  */
final class PreparedCodebook(val w: Array[Double], val k: Int, val d: Int,
                             wSq0: Array[Double]) extends Serializable {
  @transient lazy val kp: Int = {
    val width = Distances.tileWidth
    (k + width - 1) / width * width
  }

  @transient lazy val wt: Array[Double] = {
    val t = new Array[Double](d * kp)
    var j = 0
    while (j < k) {
      var c = 0
      while (c < d) { t(c * kp + j) = w(j * d + c); c += 1 }
      j += 1
    }
    t
  }

  @transient lazy val wSq: Array[Double] =
    java.util.Arrays.copyOf(if (wSq0 != null) wSq0 else Distances.rowSumSq(w, k, d), kp)

  /** A 4 x kp block for one caller's tiles, which write there when the
    * cells are padded. Never shared between threads.
    */
  def block(): Array[Double] = new Array[Double](4 * kp)
}

object Distances {
  /** Per-row sum of squares: wSq(j) = sum_d w(j,d)^2 (`distances.py:21`). */
  def rowSumSq(m: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) { out(r) = sumSq(m, r * cols, cols); r += 1 }
    out
  }

  /** Σ m(i)² over m(from until from + len), added in ascending i. */
  private def sumSq(m: Array[Double], from: Int, len: Int): Double = {
    var s = 0.0
    var c = from
    while (c < from + len) { val v = m(c); s += v * v; c += 1 }
    s
  }

  /** out (row-major n x k) = x (n x d) * w^T (d x k): the dot product of
    * row i and codebook row j is the `Math.fma` chain over the features
    * in ascending order, from 0.0 — the same operations, hence the same
    * bits, wherever the row sits in any batch ([[Tiled]]).
    */
  def crossTerm(x: Array[Double], n: Int, w: Array[Double], k: Int, d: Int,
                out: Array[Double]): Unit = {
    val cb = new PreparedCodebook(w, k, d, null)
    Tiled.run(x, n, cb, cb.block(), null, out)
  }

  /** Whether this JVM resolved `jdk.incubator.vector`, which [[Tiled]]
    * is written on. Checked here, in a class that does not link against
    * it, so a JVM started without the module fails with a message that
    * names the flag instead of a `NoClassDefFoundError`.
    */
  private lazy val vectorApi: Boolean =
    ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent

  /** Cells per tile: 4 vectors of this JVM's lanes. Every codebook reads
    * it before its first tile, so a JVM without the vector module fails
    * here.
    */
  private[som] def tileWidth: Int = {
    if (!vectorApi)
      throw new UnsupportedOperationException("graft's distance kernels run on the " +
        "Vector API: start the JVM with --add-modules=jdk.incubator.vector")
    Tiled.width
  }

  /** `distances.py:11-23` — ‖x−w‖² minus the x² term (rank-invariant):
    * −2·x·w + ‖w‖², one fma per value on top of the cross term.
    */
  case object EuclideanPart extends Distance("euclidean", canCache = true) {
    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit =
      Tiled.run(x, n, cb, block, cb.wSq, out)
  }

  /** `distances.py:25-31` — full squared L2: the partial, then + ‖x‖². */
  case object EuclideanSquared extends Distance("euclidean_no_opt", canCache = false) {
    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit = {
      EuclideanPart.compute(x, n, cb, block, out)
      val (k, d) = (cb.k, cb.d)
      var i = 0
      while (i < n) {
        val xSq = sumSq(x, i * d, d)
        val base = i * k
        var j = 0
        while (j < k) { out(base + j) += xSq; j += 1 }
        i += 1
      }
    }
  }

  /** `distances.py:33-43` — true L2; negative fp residue clamps to 0
    * (replaces the reference's nan_to_num on sqrt of negatives).
    */
  case object EuclideanTrue extends Distance("euclidean_true", canCache = false) {
    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit = {
      EuclideanSquared.compute(x, n, cb, block, out)
      var i = 0
      while (i < n * cb.k) { out(i) = if (out(i) > 0) math.sqrt(out(i)) else 0.0; i += 1 }
    }
  }

  /** `distances.py:45-59` — 1 − cos; zero-norm pairs get similarity 0
    * (nan_to_num), hence distance 1.
    */
  case object Cosine extends Distance("cosine", canCache = true) {
    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit = {
      val (k, d, wsq) = (cb.k, cb.d, cb.wSq)
      Tiled.run(x, n, cb, block, null, out)
      var i = 0
      while (i < n) {
        val xSq = sumSq(x, i * d, d)
        val base = i * k
        var j = 0
        while (j < k) {
          val denom = math.sqrt(xSq * wsq(j))
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

    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit = {
      val (w, k, d) = (cb.w, cb.k, cb.d)
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
    def compute(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
                out: Array[Double]): Unit = {
      val (w, k, d) = (cb.w, cb.k, cb.d)
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

  /** First-index argmin of m(base until base + k): a strict `<` scan from
    * cell 0 (numpy argmin tie-break, `xpysom.py:416`), so a NaN at cell 0
    * wins and a later NaN never does.
    */
  def argmin(m: Array[Double], base: Int, k: Int): Int = {
    var best = 0
    var bestV = m(base)
    var j = 1
    while (j < k) {
      val v = m(base + j)
      if (v < bestV) { bestV = v; best = j }
      j += 1
    }
    best
  }

  /** [[argmin]] of each of the n rows of m (n x k, row-major) into out. */
  def argminRows(m: Array[Double], n: Int, k: Int, out: Array[Int]): Unit = {
    var i = 0
    while (i < n) { out(i) = argmin(m, i * k, k); i += 1 }
  }
}

/** The body of the dot-product kernels: the one place that links
  * against `jdk.incubator.vector`.
  */
private[som] object Tiled {
  /** Cells per tile: 4 vectors of the preferred species. */
  def width: Int = 4 * DoubleVector.SPECIES_PREFERRED.length()

  /** The cross term x·wᵀ, register-tiled over `DoubleVector`s: a tile is
    * 4 rows x 4 vectors of cells (16 accumulators), reading the codebook's
    * d x kp transpose ([[PreparedCodebook]]). Each lane holds one
    * (row, cell) dot product as the ascending-feature fma chain from 0.0.
    * The rows a batch leaves over after its 4-row tiles — a served row is
    * one — run one at a time through [[tile1]], the same lanes for one
    * row. Cells are zero-padded to kp: when kp > k a tile writes into
    * `block`, whose real cells are copied out — so neither the tile
    * edge nor the lane width changes a bit. A map of k cells costs as
    * much as one of kp: fewer than 4·lanes cells (16 at 4 lanes, 32 at 8)
    * fill one tile with padding. With `wSq` (kp long), each dot product
    * then takes one more fma to fma(−2, dot, wSq(j)), the partial squared
    * euclidean distance.
    */
  def run(x: Array[Double], n: Int, cb: PreparedCodebook, block: Array[Double],
          wSq: Array[Double], out: Array[Double]): Unit = {
    val (k, d, kp, wt) = (cb.k, cb.d, cb.kp, cb.wt)
    val width = this.width
    val direct = kp == k
    val to = if (direct) out else block
    var i = 0
    while (i < n) {
      val rows = if (n - i >= 4) 4 else 1
      val o0 = if (direct) i * k else 0
      var j = 0
      if (rows == 4) while (j < kp) { tile4(x, i * d, wt, kp, d, j, wSq, to, o0); j += width }
      else while (j < kp) { tile1(x, i * d, wt, kp, d, j, wSq, to, o0); j += width }
      if (!direct) {
        var r = 0
        while (r < rows) { System.arraycopy(to, r * kp, out, (i + r) * k, k); r += 1 }
      }
      i += rows
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
    if (wSq != null) euclidean(wSq, j, out, o0 + j, kp, 4)
  }

  /** [[tile4]] for the one row at x(x0): its 4 lanes-wide accumulators
    * run the same fma chains, so the row gets the same bits.
    */
  private def tile1(x: Array[Double], x0: Int, wt: Array[Double], kp: Int, d: Int, j: Int,
                    wSq: Array[Double], out: Array[Double], o0: Int): Unit = {
    val S = DoubleVector.SPECIES_PREFERRED
    val L = S.length()
    var a0 = DoubleVector.zero(S); var a1 = a0; var a2 = a0; var a3 = a0
    var c = 0
    while (c < d) {
      val o = c * kp + j
      val b = DoubleVector.broadcast(S, x(x0 + c))
      a0 = b.fma(DoubleVector.fromArray(S, wt, o), a0)
      a1 = b.fma(DoubleVector.fromArray(S, wt, o + L), a1)
      a2 = b.fma(DoubleVector.fromArray(S, wt, o + 2 * L), a2)
      a3 = b.fma(DoubleVector.fromArray(S, wt, o + 3 * L), a3)
      c += 1
    }
    val o = o0 + j
    a0.intoArray(out, o); a1.intoArray(out, o + L); a2.intoArray(out, o + 2 * L); a3.intoArray(out, o + 3 * L)
    if (wSq != null) euclidean(wSq, j, out, o, kp, 1)
  }

  /** out = fma(−2, out, wSq(cell)) over `rows` rows (stride kp) from out(o)
    * and cells j until j + 4·lanes: a tile's
    * dot products turned into partial squared euclidean distances while
    * the tile is still in cache. A separate step because the JIT keeps
    * vectors unboxed only while no call takes them as arguments.
    */
  private def euclidean(wSq: Array[Double], j: Int, out: Array[Double],
                        o: Int, kp: Int, rows: Int): Unit = {
    val S = DoubleVector.SPECIES_PREFERRED
    val width = 4 * S.length()
    val m2 = DoubleVector.broadcast(S, -2.0)
    var r = 0
    while (r < rows) {
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
