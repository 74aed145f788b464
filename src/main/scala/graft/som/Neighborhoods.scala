package graft.som

/** Neighborhood weighting kernels: for a batch of winner coordinates and a
  * spread sigma, produce per-sample weight grids over all x*y neurons
  * (flat id = i*y + j).
  *
  * Semantics from the reference `neighborhoods.py`:
  *  - rect kernels are separable outer products over grid indices
  *    (`neighborhoods.py:14-33,57-74,99-130`);
  *  - hexagonal gaussian/mexican-hat use the shifted euclidean coordinates
  *    (`neighborhoods.py:35-55,76-97`, shift `xpysom.py:205-206`);
  *  - bubble uses raw grid indices even under hexagonal topology
  *    (registry, `xpysom.py:277-278`);
  *  - triangle is rect-only (absent from the hex registry,
  *    `xpysom.py:271-279`);
  *  - compact support truncates strictly outside (c−σ, c+σ)
  *    (`neighborhoods.py:29-31`).
  */
sealed abstract class Neighborhood(val name: String) extends Serializable {
  def topo: Topology
  final def x: Int = topo.x
  final def y: Int = topo.y

  /** Fill `out` (row-major n x (x*y)) with weights; winner s at
    * (winI(s), winJ(s)).
    */
  def compute(winI: Array[Int], winJ: Array[Int], n: Int, sigma: Double,
              out: Array[Double]): Unit
}

object Neighborhoods {

  /** gaussian_rect `neighborhoods.py:14-33` / gaussian_generic
    * `neighborhoods.py:35-55` (selected by topology, `xpysom.py:260-276`).
    */
  final case class Gaussian(topo: Topology, stdCoeff: Double, compact: Boolean)
      extends Neighborhood("gaussian") {
    def compute(winI: Array[Int], winJ: Array[Int], n: Int, sigma: Double,
                out: Array[Double]): Unit = {
      val d = 2.0 * stdCoeff * stdCoeff * sigma * sigma
      val k = x * y
      val ax = new Array[Double](x)
      val ay = new Array[Double](y)
      topo match {
        case _: Rectangular =>
          var s = 0
          while (s < n) {
            val cx = winI(s).toDouble
            val cy = winJ(s).toDouble
            var i = 0
            while (i < x) {
              var v = math.exp(-(i - cx) * (i - cx) / d)
              if (compact && !(i > cx - sigma && i < cx + sigma)) v = 0.0
              ax(i) = v; i += 1
            }
            var j = 0
            while (j < y) {
              var v = math.exp(-(j - cy) * (j - cy) / d)
              if (compact && !(j > cy - sigma && j < cy + sigma)) v = 0.0
              ay(j) = v; j += 1
            }
            val base = s * k
            i = 0
            while (i < x) {
              var jj = 0
              while (jj < y) { out(base + i * y + jj) = ax(i) * ay(jj); jj += 1 }
              i += 1
            }
            s += 1
          }
        case _ =>
          // Hexagonal coordinates are exact multiples of 0.5 (euclidX =
          // i or i-0.5, euclidY = j), so every axis difference nx-cx is
          // EXACT and depends only on (i_n - i_b) and the two rows'
          // parity shifts; ny-cy depends only on j_n - j_b. Memoize the
          // per-axis factors: (2x-1)*4 + (2y-1) exps per call instead
          // of 2*n*k — bit-identical values (exp of identical inputs),
          // ~10x on the 64x64/N=10k neighborhood bench.
          val ax4 = Array.ofDim[Double](4, 2 * x - 1) // [sb*2+sn][di + x-1]
          var sb = 0
          while (sb <= 1) {
            var sn = 0
            while (sn <= 1) {
              val row = ax4(sb * 2 + sn)
              var di = -(x - 1)
              while (di <= x - 1) {
                val dx = di - 0.5 * sn + 0.5 * sb // nx - cx, exact
                var v = math.exp(-dx * dx / d)
                if (compact && !(dx > -sigma && dx < sigma)) v = 0.0
                row(di + x - 1) = v
                di += 1
              }
              sn += 1
            }
            sb += 1
          }
          val ayA = new Array[Double](2 * y - 1)
          var dj = -(y - 1)
          while (dj <= y - 1) {
            val dy = dj.toDouble
            var v = math.exp(-dy * dy / d)
            if (compact && !(dy > -sigma && dy < sigma)) v = 0.0
            ayA(dj + y - 1) = v
            dj += 1
          }
          val snA = new Array[Int](y) // row parity shift per column index j
          var jj = 0
          while (jj < y) { snA(jj) = if (topo.shiftedRow(jj)) 1 else 0; jj += 1 }
          var s = 0
          while (s < n) {
            val ib = winI(s); val jb = winJ(s)
            val sbW = snA(jb)
            val base = s * k
            var i = 0
            while (i < x) {
              val diIdx = i - ib + x - 1
              val a0 = ax4(sbW * 2)(diIdx)
              val a1 = ax4(sbW * 2 + 1)(diIdx)
              val rowBase = base + i * y
              var j = 0
              while (j < y) {
                val axv = if (snA(j) == 0) a0 else a1
                out(rowBase + j) = axv * ayA(j - jb + y - 1)
                j += 1
              }
              i += 1
            }
            s += 1
          }
      }
    }
  }

  /** mexican_hat_rect `neighborhoods.py:57-74` / mexican_hat_generic
    * `neighborhoods.py:76-97`. Note the reference's rect compact-support
    * path multiplies px by BOTH the x- and y-window indicators evaluated
    * at the same index (`neighborhoods.py:70-71`) — only well-defined for
    * square maps; replicated as such.
    */
  final case class MexicanHat(topo: Topology, stdCoeff: Double, compact: Boolean)
      extends Neighborhood("mexican_hat") {
    // the reference's rect compact-support broadcast (neighborhoods.py:70-71)
    // raises a shape error on non-square maps; fail loudly like it does
    // rather than silently skipping the y-window coupling
    if (compact && topo.isInstanceOf[Rectangular] && topo.x != topo.y)
      throw new IllegalArgumentException(
        "mexican_hat with compact_support requires a square map on " +
          s"rectangular topology (got ${topo.x}x${topo.y}); the reference " +
          "broadcast fails on non-square maps")

    def compute(winI: Array[Int], winJ: Array[Int], n: Int, sigma: Double,
                out: Array[Double]): Unit = {
      val d = 2.0 * stdCoeff * stdCoeff * sigma * sigma
      val k = x * y
      topo match {
        case _: Rectangular
            if !compact && n.toLong * k > 2L * (2 * x - 1) * (2 * y - 1) =>
          // integer rect coordinates: the hat depends only on
          // (i - ci, j - cj) — one (2x-1)x(2y-1) table of exps per call
          // instead of n*k. Compact support stays on the direct path:
          // its reference semantics couple the x-window to BOTH ci and
          // cj (the square-map broadcast quirk), which is not a pure
          // difference. Bit-identical: exp of identical integer-exact
          // inputs.
          val w = 2 * y - 1
          val tab = new Array[Double]((2 * x - 1) * w)
          var di = -(x - 1)
          while (di <= x - 1) {
            var dj = -(y - 1)
            while (dj <= y - 1) {
              val p = (di * di + dj * dj).toDouble
              tab((di + x - 1) * w + (dj + y - 1)) =
                math.exp(-p / d) * (1.0 - 2.0 / d * p)
              dj += 1
            }
            di += 1
          }
          var s = 0
          while (s < n) {
            val ib = winI(s); val jb = winJ(s)
            val base = s * k
            var i = 0
            while (i < x) {
              val diBase = (i - ib + x - 1) * w - jb + y - 1
              val rowBase = base + i * y
              var j = 0
              while (j < y) { out(rowBase + j) = tab(diBase + j); j += 1 }
              i += 1
            }
            s += 1
          }
        case _: Rectangular =>
          val px = new Array[Double](x)
          val py = new Array[Double](y)
          var s = 0
          while (s < n) {
            val cx = winI(s).toDouble
            val cy = winJ(s).toDouble
            var i = 0
            while (i < x) {
              var v = (i - cx) * (i - cx)
              if (compact) {
                if (!(i > cx - sigma && i < cx + sigma)) v = 0.0
                if (x == y && !(i > cy - sigma && i < cy + sigma)) v = 0.0
              }
              px(i) = v; i += 1
            }
            var j = 0
            while (j < y) { py(j) = (j - cy) * (j - cy); j += 1 }
            val base = s * k
            i = 0
            while (i < x) {
              var jj = 0
              while (jj < y) {
                val p = px(i) + py(jj)
                out(base + i * y + jj) = math.exp(-p / d) * (1.0 - 2.0 / d * p)
                jj += 1
              }
              i += 1
            }
            s += 1
          }
        case _ if n.toLong * k > 8L * (2 * x - 1) * (2 * y - 1) =>
          // memoized hex path (see Gaussian): coordinates are exact
          // multiples of 0.5, so the kernel value depends only on
          // (i_n - i_b, j_n - j_b, row parities). The hat is not
          // separable, so the table is 2D per parity pair:
          // 4*(2x-1)*(2y-1) exps per call instead of n*k (the guard
          // keeps tiny batches on the direct path below).
          val w = 2 * y - 1
          val tab = Array.ofDim[Double](4, (2 * x - 1) * w)
          var sb = 0
          while (sb <= 1) {
            var sn = 0
            while (sn <= 1) {
              val row = tab(sb * 2 + sn)
              var di = -(x - 1)
              while (di <= x - 1) {
                val dx = di - 0.5 * sn + 0.5 * sb
                var dj = -(y - 1)
                while (dj <= y - 1) {
                  val dy = dj.toDouble
                  var pxv = dx * dx
                  if (compact) {
                    if (!(dx > -sigma && dx < sigma)) pxv = 0.0
                    if (!(dy > -sigma && dy < sigma)) pxv = 0.0
                  }
                  val p = pxv + dy * dy
                  row((di + x - 1) * w + (dj + y - 1)) =
                    math.exp(-p / d) * (1.0 - 2.0 / d * p)
                  dj += 1
                }
                di += 1
              }
              sn += 1
            }
            sb += 1
          }
          val snA = new Array[Int](y)
          var jj = 0
          while (jj < y) { snA(jj) = if (topo.shiftedRow(jj)) 1 else 0; jj += 1 }
          var s = 0
          while (s < n) {
            val ib = winI(s); val jb = winJ(s)
            val sbW = snA(jb)
            val base = s * k
            var i = 0
            while (i < x) {
              val diBase = (i - ib + x - 1) * w - jb + y - 1
              val r0 = tab(sbW * 2)
              val r1 = tab(sbW * 2 + 1)
              val rowBase = base + i * y
              var j = 0
              while (j < y) {
                val row = if (snA(j) == 0) r0 else r1
                out(rowBase + j) = row(diBase + j)
                j += 1
              }
              i += 1
            }
            s += 1
          }
        case _ =>
          val ex = new Array[Double](k)
          val ey = new Array[Double](k)
          var pp = 0
          while (pp < k) {
            ex(pp) = topo.euclidX(pp / y, pp % y); ey(pp) = topo.euclidY(pp / y, pp % y)
            pp += 1
          }
          var s = 0
          while (s < n) {
            val cx = ex(winI(s) * y + winJ(s))
            val cy = ey(winI(s) * y + winJ(s))
            val base = s * k
            var q = 0
            while (q < k) {
              val nx = ex(q)
              val ny = ey(q)
              var pxv = (nx - cx) * (nx - cx)
              if (compact) {
                if (!(nx > cx - sigma && nx < cx + sigma)) pxv = 0.0
                if (!(ny > cy - sigma && ny < cy + sigma)) pxv = 0.0
              }
              val p = pxv + (ny - cy) * (ny - cy)
              out(base + q) = math.exp(-p / d) * (1.0 - 2.0 / d * p)
              q += 1
            }
            s += 1
          }
      }
    }
  }

  /** bubble `neighborhoods.py:99-112` — strict indicator window on raw
    * grid indices under BOTH topologies (`xpysom.py:266-267,277-278`).
    */
  final case class Bubble(topo: Topology) extends Neighborhood("bubble") {
    def compute(winI: Array[Int], winJ: Array[Int], n: Int, sigma: Double,
                out: Array[Double]): Unit = {
      val k = x * y
      var s = 0
      while (s < n) {
        val cx = winI(s).toDouble
        val cy = winJ(s).toDouble
        val base = s * k
        var i = 0
        while (i < x) {
          val axv = i > cx - sigma && i < cx + sigma
          var j = 0
          while (j < y) {
            val ayv = j > cy - sigma && j < cy + sigma
            out(base + i * y + j) = if (axv && ayv) 1.0 else 0.0
            j += 1
          }
          i += 1
        }
        s += 1
      }
    }
  }

  /** triangle `neighborhoods.py:114-130` — rect indices only. */
  final case class Triangle(topo: Topology, compact: Boolean)
      extends Neighborhood("triangle") {
    def compute(winI: Array[Int], winJ: Array[Int], n: Int, sigma: Double,
                out: Array[Double]): Unit = {
      val k = x * y
      val tx = new Array[Double](x)
      val ty = new Array[Double](y)
      var s = 0
      while (s < n) {
        val cx = winI(s).toDouble
        val cy = winJ(s).toDouble
        var i = 0
        while (i < x) {
          var v = sigma - math.abs(cx - i)
          if (v < 0) v = 0.0
          if (compact && !(i > cx - sigma && i < cx + sigma)) v = 0.0
          tx(i) = v; i += 1
        }
        var j = 0
        while (j < y) {
          var v = sigma - math.abs(cy - j)
          if (v < 0) v = 0.0
          if (compact && !(j > cy - sigma && j < cy + sigma)) v = 0.0
          ty(j) = v; j += 1
        }
        val base = s * k
        i = 0
        while (i < x) {
          var jj = 0
          while (jj < y) { out(base + i * y + jj) = tx(i) * ty(jj); jj += 1 }
          i += 1
        }
        s += 1
      }
    }
  }

  /** Per-topology registry (`xpysom.py:255-283`): triangle is unavailable
    * under hexagonal topology (and the reference warns before failing,
    * `xpysom.py:207-209`). Only the selected kernel is constructed, so
    * mexican_hat's square-map check does not reject other kernels.
    */
  def apply(name: String, topo: Topology, stdCoeff: Double, compact: Boolean): Neighborhood = {
    val available: Map[String, () => Neighborhood] = topo match {
      case _: Rectangular => Map(
        "gaussian" -> (() => Gaussian(topo, stdCoeff, compact)),
        "mexican_hat" -> (() => MexicanHat(topo, stdCoeff, compact)),
        "bubble" -> (() => Bubble(topo)),
        "triangle" -> (() => Triangle(topo, compact)))
      case _: Hexagonal => Map(
        "gaussian" -> (() => Gaussian(topo, stdCoeff, compact)),
        "mexican_hat" -> (() => MexicanHat(topo, stdCoeff, compact)),
        "bubble" -> (() => Bubble(topo)))
    }
    available.getOrElse(name, throw new IllegalArgumentException(
      s"$name not supported. Functions available: ${available.keys.mkString(", ")}"))()
  }
}
