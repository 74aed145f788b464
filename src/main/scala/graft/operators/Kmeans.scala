package graft.operators

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{HashKernels, KmeansFunctions, KmeansKernel, VecScale9Kernel, VecSumCount}

/** Distributed Lloyd's k-means over an embedding column — the standard
  * coarse quantizer / corpus-clustering primitive (IVF cells, SemDeDup
  * buckets, data-mixing domains). Complements the SOM trainer: same
  * role, no neighborhood smoothing, the clustering everyone reaches
  * for first.
  *
  * Scale shape (per iteration, over a cached slim `(id, vec)`
  * projection):
  *  - assignment is the [[graft.plans.KmeansAssign]] codegen kernel —
  *    the centroid table rides in the expression (broadcast-sized:
  *    k x dim doubles), no join, no shuffle;
  *  - the update is the [[graft.plans.VecSumCount]] partial aggregate
  *    over pre-scaled long vectors ([[graft.plans.VecScale9]], computed
  *    once before the loop): every partition reduces to <= k buffers of
  *    (dim + 1) longs BEFORE the exchange, so the shuffle is
  *    centroid-table-shaped, never data-shaped, and iterations pay no
  *    per-element decimal work;
  *  - k x dim (sum, count) rows collect to the driver (bounded by
  *    construction), which forms the next centroid table.
  * At 100 TB the standard deployment trains on a sampled fraction and
  * runs ONE full assignment pass — both are these same two kernels.
  *
  * Determinism (the correctness contract):
  *  - init is content-keyed: the k rows with the smallest
  *    `(md5(salt:id), id)` seed the centroids — partitioning-invariant
  *    and engine-portable (DuckDB/Python spell the same md5);
  *  - per-dimension update sums round each element to 9 decimals and
  *    accumulate exactly as scale-9 longs (the same values a
  *    DECIMAL(28,9) sum produces) — order-independent; the driver
  *    divides by the exact count at scale 9 HALF_UP;
  *  - assignment distance accumulates `(x_i - w_i)^2` per centroid in
  *    ascending i (at k >= 16 the kernel's loop runs across centroids,
  *    but each centroid's sum keeps that order) with ties to the lowest
  *    cid, so an independent implementation
  *    (`tools/gen_kmeans_oracle.py`) reproduces every argmin
  *    bit-for-bit;
  *  - the k-means‖ φ terms and selection threshold round d² to 9
  *    decimals with `VecScale9Kernel.scale9` — the DECIMAL(38,9) value
  *    `round(d², 9)` casts to, and the one the oracle uses;
  *  - one loop runs over two row sources ([[Rows]]): the cached slim
  *    frame, or (at most [[localFitMaxRows]] rows) the same rows
  *    collected, where each step calls the distributed kernel's own
  *    entry — so both give the same bits by construction.
  */
object Kmeans {

  /** Driver-side model: row-major `k x dim` centroid matrix. */
  final case class Model(centroids: Array[Array[Double]]) {
    require(centroids.nonEmpty, "kmeans model needs at least one centroid")
    val dim: Int = centroids(0).length
    require(centroids.forall(_.length == dim),
      "kmeans centroids must share one dimensionality")
    def k: Int = centroids.length
    def flat: Array[Double] = {
      val out = new Array[Double](k * dim)
      var j = 0
      while (j < k) {
        System.arraycopy(centroids(j), 0, out, j * dim, dim); j += 1
      }
      out
    }
  }

  private def slim(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))

  /** The rows a k-means loop runs over. Lloyd's, farthest-first and the
    * k-means‖ rounds are each written once, against this, and it comes
    * in two forms:
    *  - [[Distributed]]: the slim `(__id, __v[, __vl])` frame; every
    *    step is a Spark job over the codegen kernels;
    *  - [[Local]]: the same rows collected and id-sorted; every step
    *    calls the same kernels' own entries on the driver
    *    ([[KmeansKernel.assignRows]], `VecScale9Kernel.scaleArray`, the
    *    [[graft.plans.VecSumCount]] buffer add, `md5PrefixLong`, and
    *    `DigestUtils.md5Hex`, the call Spark's `md5` makes).
    * So both forms give the same bits by construction.
    */
  private sealed trait Rows {
    /** Up to `n` (id, vector) rows in `(md5(salt:id), id)` order, ids
      * in `skip` left out.
      */
    def seeded(n: Int, salt: String,
               skip: Set[Long] = Set.empty): Array[(Long, Array[Double])]
    /** The vector farthest from the set `picked` (largest min d², ties to
      * the lowest id). Called with one growing set per init.
      */
    def farthest(picked: Seq[Array[Double]], dim: Int): Array[Double]
    /** These rows for a loop whose aggregates have `keySpace` reduce
      * keys ([[LoopSession]]).
      */
    def onLoop(keySpace: Int): Rows
    /** Lloyd's update sums under the table `flat`: (cid, exact scale-9
      * per-dimension sums, count) for every cluster with members.
      */
    def clusterSums(flat: Array[Double], dim: Int): Seq[(Int, Array[Long], Long)]
    /** The k-means‖ running state, started against the one-row table
      * `seed`.
      */
    def running(seed: Array[Double], dim: Int): Running
  }

  /** Per row, the min d² to the k-means‖ candidates so far and that
    * candidate's index; `phi` is Σ round9(min d²), exact.
    */
  private trait Running {
    def phi: Double
    /** Round `r`'s draws, (id, vector) by ascending id: the rows with
      * `u < ell · round9(min d²) / phi`, `u` the md5-uniform
      * `(md5_prefix_long("salt|sc<r>:id", 13) + 0.5) / 2^52`.
      */
    def draw(r: Int, salt: String, ell: Int): Array[(Long, Array[Double])]
    /** Folds the candidates `newFlat`, indexed from `baseIdx`, into the
      * running min (strict <, so ties keep the lower index) and
      * updates `phi`.
      */
    def merge(newFlat: Array[Double], baseIdx: Int): Unit
    /** Rows per candidate index; releases the state. */
    def weights(nCand: Int): Int => Long
  }

  private final class Distributed(data: DataFrame) extends Rows {
    private def rows(df: DataFrame): Array[(Long, Array[Double])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    def seeded(n: Int, salt: String, skip: Set[Long]): Array[(Long, Array[Double])] = {
      val vecs = data.select(col("__id"), col("__v"))
      // a TakeOrderedAndProject: per-partition top-n, n rows collected
      rows((if (skip.isEmpty) vecs else vecs.where(!col("__id").isin(skip.toSeq: _*)))
        .withColumn("__h", md5(concat_ws(":", lit(salt), col("__id"))))
        .orderBy(col("__h"), col("__id"))
        .limit(n))
    }

    // the min distance to the set IS the assignment kernel's d2
    def farthest(picked: Seq[Array[Double]], dim: Int): Array[Double] = {
      val next = data
        .select(col("__id"), col("__v"),
          KmeansFunctions.kmeans_assign(col("__v"), Model(picked.toArray).flat, dim)
            .getField("d2").as("d2"))
        .orderBy(col("d2").desc, col("__id").asc)
        .limit(1).collect()
      require(next.nonEmpty, s"kmeans farthest init needs >= 1 vector")
      next(0).getSeq[Double](1).toArray
    }

    def onLoop(keySpace: Int): Rows =
      new Distributed(LoopSession.rebase(data, keySpace))

    def clusterSums(flat: Array[Double], dim: Int): Seq[(Int, Array[Long], Long)] =
      sumsOf(data, flat, dim)

    def running(seed: Array[Double], dim: Int): Running = new Running {
      private val mem = StorageLevel.MEMORY_AND_DISK
      // round9(md2) as DECIMAL(38,9) straight from scale9: the value
      // round(md2, 9).cast(DECIMAL(38,9)) spells through two decimal
      // strings per row
      private val md29 = KmeansFunctions.dec_scale9(col("__md2"))
      // φ (exact order-independent sum of the scale-9 running-min grid)
      // doubles as the persist's materializing action: ONE pass both
      // caches the new state and returns the next round's threshold
      // denominator
      private def phiOf(df: DataFrame): Double = {
        val phiRow = df.select(sum(md29).as("phi")).collect()(0)
        if (phiRow.isNullAt(0)) 0.0 else phiRow.getDecimal(0).doubleValue()
      }
      // (__id, __v, __md2, __cid); Materialize.once pins the assign
      // struct to one evaluation, as both merge branches read it
      private var state = Materialize.once(data, "__na",
          KmeansFunctions.kmeans_assign(col("__v"), seed, dim))
        .select(col("__id"), col("__v"), col("__na.d2").as("__md2"),
          lit(0).as("__cid"))
        .persist(mem)
      // φ only changes with the state, so it is carried between rounds:
      // a round without new candidates costs no job
      var phi: Double = phiOf(state)

      def draw(r: Int, salt: String, ell: Int): Array[(Long, Array[Double])] = {
        // fused md5-prefix kernel — same bits as the
        // conv(substring(md5(..),1,13),16,10) spelling the oracle replays
        val u = (graft.plans.GraftFunctions.md5_prefix_long(
            concat_ws(":", lit(s"$salt|sc$r"), col("__id")), 13)
          .cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
        // collected unsorted and sorted on the driver: an orderBy would
        // add a range-partitioning exchange for ~ell rows
        rows(state.where(u < lit(ell.toDouble) * md29.cast("double") / lit(phi))
            .select(col("__id"), col("__v")))
          .sortBy(_._1)
      }

      def merge(newFlat: Array[Double], baseIdx: Int): Unit = {
        val next = Materialize.once(state, "__na",
            KmeansFunctions.kmeans_assign(col("__v"), newFlat, dim))
          .select(col("__id"), col("__v"),
            when(col("__na.d2") < col("__md2"), col("__na.d2"))
              .otherwise(col("__md2")).as("__md2"),
            when(col("__na.d2") < col("__md2"), col("__na.cid") + lit(baseIdx))
              .otherwise(col("__cid")).as("__cid"))
          .persist(mem)
        phi = phiOf(next) // materializes the persist AND updates φ
        state.unpersist(blocking = false)
        state = next
      }

      // the key space is nCand cids, so the exchange is sized to that,
      // not to the φ rounds' single partition
      def weights(nCand: Int): Int => Long = {
        val w = LoopSession.rebase(state, nCand)
          .groupBy("__cid").agg(count(lit(1)).as("n"))
          .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
        state.unpersist(blocking = false)
        j => w.getOrElse(j, 0L)
      }
    }
  }

  private final class Local(ids: Array[Long], xs: Array[Array[Double]]) extends Rows {
    private val n = ids.length
    private def md5Uniform(s: String): Double =
      (HashKernels.md5PrefixLong(UTF8String.fromString(s), 13).toDouble + 0.5) /
        4503599627370496.0 // 2^52

    def seeded(count: Int, salt: String, skip: Set[Long]): Array[(Long, Array[Double])] =
      (0 until n).filterNot(i => skip.contains(ids(i)))
        .map(i => (DigestUtils.md5Hex(s"$salt:${ids(i)}"), i))
        .sortBy { case (h, i) => (h, ids(i)) }
        .take(count).map { case (_, i) => (ids(i), xs(i)) }.toArray

    // running min d² over the centroids folded in so far
    private var minD2: Array[Double] = _
    private var folded = 0

    def farthest(picked: Seq[Array[Double]], dim: Int): Array[Double] = {
      val cid = new Array[Int](n)
      val d2 = new Array[Double](n)
      KmeansKernel.assignRows(xs, Model(picked.drop(folded).toArray).flat, dim, cid, d2)
      if (minD2 == null) minD2 = d2
      else {
        var i = 0
        while (i < n) { if (d2(i) < minD2(i)) minD2(i) = d2(i); i += 1 }
      }
      folded = picked.length
      // ids ascend, so strict > keeps the lowest id on ties
      var bi = 0
      var i = 1
      while (i < n) { if (minD2(i) > minD2(bi)) bi = i; i += 1 }
      xs(bi)
    }

    def onLoop(keySpace: Int): Rows = this

    // per-element scale-9 longs, computed once (the cached `__vl` column)
    private lazy val scaled = xs.map(x =>
      VecScale9Kernel.scaleArray(ArrayData.toArrayData(x), isFloat = false))

    def clusterSums(flat: Array[Double], dim: Int): Seq[(Int, Array[Long], Long)] = {
      val cid = new Array[Int](n)
      KmeansKernel.assignRows(xs, flat, dim, cid, new Array[Double](n))
      val bufs = Array.fill(flat.length / dim)(new Array[Long](dim + 1))
      var r = 0
      while (r < n) { VecSumCount.add(bufs(cid(r)), scaled(r), dim); r += 1 }
      bufs.indices.filter(j => bufs(j)(dim) > 0)
        .map(j => (j, bufs(j).take(dim), bufs(j)(dim)))
    }

    def running(seed: Array[Double], dim: Int): Running = new Running {
      private val md2 = new Array[Double](n)
      private val cid = new Array[Int](n)
      KmeansKernel.assignRows(xs, seed, dim, cid, md2)
      private val newCid = new Array[Int](n)
      private val newD2 = new Array[Double](n)
      private def md29(i: Int): Long = VecScale9Kernel.scale9(md2(i))
      // Σ round9(md2) exact at scale 9 (the DECIMAL(38,9) sum), then the
      // same Decimal -> double conversion
      private def phiOf(): Double = {
        var s = java.math.BigInteger.ZERO
        var i = 0
        while (i < n) { s = s.add(java.math.BigInteger.valueOf(md29(i))); i += 1 }
        new java.math.BigDecimal(s, 9).doubleValue
      }
      var phi: Double = phiOf()

      def draw(r: Int, salt: String, ell: Int): Array[(Long, Array[Double])] =
        (0 until n).filter { i =>
          md5Uniform(s"$salt|sc$r:${ids(i)}") <
            ell.toDouble * java.math.BigDecimal.valueOf(md29(i), 9).doubleValue / phi
        }.map(i => (ids(i), xs(i))).toArray

      def merge(newFlat: Array[Double], baseIdx: Int): Unit = {
        KmeansKernel.assignRows(xs, newFlat, dim, newCid, newD2)
        var i = 0
        while (i < n) {
          if (newD2(i) < md2(i)) { md2(i) = newD2(i); cid(i) = newCid(i) + baseIdx }
          i += 1
        }
        phi = phiOf()
      }

      def weights(nCand: Int): Int => Long = {
        val w = new Array[Long](nCand)
        cid.foreach(j => w(j) += 1L)
        j => w(j)
      }
    }
  }

  /** Lloyd's update sums over a slim frame carrying `__vl`, one
    * [[graft.plans.VecSumCount]] aggregate under the table `flat`.
    */
  private def sumsOf(data: DataFrame, flat: Array[Double],
                     dim: Int): Seq[(Int, Array[Long], Long)] =
    data.select(KmeansFunctions.kmeans_assign(col("__v"), flat, dim)
        .getField("cid").as("cid"), col("__vl"))
      .groupBy("cid")
      .agg(KmeansFunctions.vec_sum_count(col("__vl"), dim).as("sc"))
      .select(col("cid"), col("sc.sums"), col("sc.n"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))

  /** The source for `data` (slim columns): collected when it has at most
    * `localMaxRows` rows, else the frame itself. ONE CollectLimit probe
    * over a constant projection decides, so a large input ships at most
    * `localMaxRows + 1` ints to the driver, never its vectors.
    */
  private def rowsOf(data: DataFrame, localMaxRows: Long): Rows = {
    val small = localMaxRows > 0 && {
      val lim = (localMaxRows + 1).min(Int.MaxValue.toLong).toInt
      data.select(lit(1).as("__one")).limit(lim).count() <= localMaxRows
    }
    if (!small) new Distributed(data)
    else {
      val rows = data.select(col("__id"), col("__v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      new Local(rows.map(_._1), rows.map(_._2))
    }
  }

  /** The `k` seeded rows, failing when there are fewer. */
  private def seededInit(rows: Rows, k: Int,
                         salt: String): Array[(Long, Array[Double])] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    val picked = rows.seeded(k, salt)
    require(picked.length == k,
      s"kmeans init needs >= $k non-null vectors, found ${picked.length}")
    picked
  }

  /** Content-keyed seeded init: the k vectors with the smallest
    * `(md5(salt:id), id)` — a deterministic pseudo-random sample that
    * is partitioning-invariant and needs no stateful RNG. Runs as a
    * TakeOrderedAndProject (per-partition top-k, k rows collected).
    */
  def initCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
                    salt: String = "km"): Array[Array[Double]] =
    seededInit(new Distributed(slim(df, vecCol, idCol)), k, salt).map(_._2)

  /** Farthest-first runs k-1 SEQUENTIAL full scans — fine in the
    * coarse-quantizer regime it exists for, a scale-killer at the
    * k≥4096 sizes real IVF deployments use. The guard forces large-k
    * callers onto [[initScalableCentroids]] (O(rounds) scans).
    */
  val farthestMaxK = 512

  /** Farthest-first traversal (Gonzalez k-center) init: seed with the
    * md5-smallest row, then repeatedly add the vector FARTHEST from the
    * chosen set (max over rows of min squared distance to the set, ties
    * to the lowest id). Better-spread seeds than the hashed sample —
    * the quality option when k is small and clusters matter more than
    * init cost. k-1 extra scans, each a TakeOrdered top-1 (per-
    * partition max, k-1 jobs over the cached projection); the min-
    * distance-to-set IS the assignment kernel's `d2`, so no new kernel.
    * Deterministic and independently replayable like the hashed init.
    */
  def initFarthestCentroids(df: DataFrame, vecCol: String, idCol: String,
                            k: Int, salt: String = "km"): Array[Array[Double]] =
    farthestFirst(new Distributed(slim(df, vecCol, idCol)), k, salt)

  private def farthestFirst(rows: Rows, k: Int,
                            salt: String): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(k <= farthestMaxK,
      s"farthest-first init runs k-1 sequential full scans and is capped " +
        s"at k <= $farthestMaxK; use initMethod='scalable' " +
        s"(k-means||-style, O(rounds) scans) for k = $k")
    val picked = scala.collection.mutable.ArrayBuffer(seededInit(rows, 1, salt)(0)._2)
    val dim = picked(0).length
    while (picked.length < k) picked += rows.farthest(picked.toSeq, dim)
    picked.toArray
  }

  /** k-means||-style scalable init (Bahmani et al., VLDB 2012,
    * "Scalable K-Means++"): oversample candidates in O(`rounds`)
    * passes — each row enters the candidate set with probability
    * `min(1, oversample * d²(x, C) / φ)` where φ = Σ d²(x, C) — then
    * weight the ~rounds*oversample candidates by the corpus population
    * they capture and reduce them to k centers with a driver-local
    * weighted greedy (max weight·d² to the chosen set — the
    * deterministic surrogate of the paper's weighted k-means++
    * recluster). The large-k init: O(rounds) scans regardless of k,
    * vs farthest-first's k-1.
    *
    * Scale shape: each row carries a RUNNING (min d², nearest-candidate)
    * pair, merged per round against only that round's NEW candidates —
    * so round r costs n x |new_r| x dim distance work, not
    * n x |cumulative_r| x dim, and the per-candidate weights fall out
    * of the final running state with NO extra assignment pass (IEEE min
    * is associative and the kernel breaks ties to the lowest candidate
    * index, so the running merge — strict < keeps the earlier, lower
    * index — is bit-identical to a one-shot argmin over the full set).
    * At k=4096/d=64/2M rows that is ~5x less distance work than the
    * naive recompute-per-round form, and the state it persists per row
    * is one double + one int.
    *
    * Inputs of at most [[localFitMaxRows]] rows run the same rounds over
    * the collected rows (one probe job, then one collect).
    *
    * Determinism (independently replayed by tools/gen_kmeans_oracle.py):
    *  - the "coin flip" for (row, round) is the md5-uniform
    *    `(int(md5('salt|sc<r>:' + id)[:13hex]) + 0.5) / 2^52` — the
    *    [[Sampling.sampleByWeight]] draw, partitioning-invariant;
    *  - d² is the assignment kernel's sequential IEEE loop, rounded to
    *    9 decimals HALF_UP by [[graft.plans.VecScale9Kernel.scale9]] (the
    *    `dec_scale9` expression: the same DECIMAL(38,9) value as
    *    `round(d², 9)` cast to decimal, without the decimal-string
    *    route); φ is the EXACT DECIMAL(38,9) sum of those (order-
    *    independent); the threshold is the double `oversample*d²9/φ`
    *    with d²9 that decimal's double value;
    *  - seed = hash-init row; greedy ties break on the lowest id;
    *    if fewer than k candidates survive (degenerate corpora), the
    *    remainder pads from the hash-init order under salt + "|pad",
    *    skipping already-chosen ids.
    */
  def initScalableCentroids(df: DataFrame, vecCol: String, idCol: String,
                            k: Int, salt: String = "km", rounds: Int = 5,
                            oversample: Int = -1): Array[Array[Double]] =
    initScalableCentroids(rowsOf(slim(df, vecCol, idCol), localFitMaxRows),
      k, salt, rounds, oversample)

  // keeps the public name so the rounds' Spark jobs carry it in their
  // call sites, also when `fit` runs them
  private def initScalableCentroids(rows: Rows, k: Int, salt: String,
                                    rounds: Int,
                                    oversample: Int): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(rounds > 0, s"scalable init needs rounds > 0, got $rounds")
    val ell = if (oversample > 0) oversample else 2 * k
    // every per-round action is either a no-exchange collect (selection
    // filter, TakeOrdered seed/pad) or an aggregate whose reduce side is
    // tiny at any corpus scale (φ = one DECIMAL per map task) — run them
    // with AQE's per-stage barrier off and a single reduce partition
    // (LoopSession doc; saves 2 jobs/round)
    val loop = rows.onLoop(1)
    val (firstId, first) = seededInit(loop, 1, salt)(0)
    val dim = first.length
    // (id, vec) candidates in selection order; ids seen for dedup
    val cand = scala.collection.mutable.ArrayBuffer((firstId, first))
    val seen = scala.collection.mutable.HashSet(firstId)
    val state = loop.running(first, dim)
    var r = 0
    while (r < rounds) {
      if (state.phi > 0.0) {
        val picked = state.draw(r, salt, ell)
        require(picked.length <= 64 * ell,
          s"scalable init round $r selected ${picked.length} candidates " +
            s"(expected ~$ell) — pathological d² skew; raise rounds or " +
            s"check the data")
        val baseIdx = cand.length
        picked.foreach { case (id, v) => if (seen.add(id)) cand += ((id, v)) }
        if (cand.length > baseIdx)
          state.merge(Model(cand.drop(baseIdx).map(_._2).toArray).flat, baseIdx)
      }
      r += 1
    }
    reduceWeightedCandidates(cand.toIndexedSeq, state.weights(cand.length),
      k, dim, (chosenIds, need) => loop.seeded(need, s"$salt|pad", chosenIds).toSeq)
  }

  /** Tail of the scalable init: the driver-local weighted greedy over
    * the oversampled candidates, then the hash-ordered pad for
    * degenerate corpora. `pad(chosenIds, need)` returns up to `need`
    * (id, vector) rows in `(md5(salt|pad:id), id)` order, excluding
    * `chosenIds`.
    *
    * Greedy: heaviest seed (ties -> lowest id), then repeatedly the
    * candidate maximizing weight * d² to the chosen set. Incremental
    * min-distance tracking keeps the whole reduction at
    * O(k * candidates * dim) over a candidate set bounded by
    * rounds * 64 * ell — corpus-size-independent.
    */
  private def reduceWeightedCandidates(
      cand: IndexedSeq[(Long, Array[Double])], weightOf: Int => Long,
      k: Int, dim: Int,
      pad: (Set[Long], Int) => Seq[(Long, Array[Double])]): Array[Array[Double]] = {
    val nC = cand.length
    val ids = cand.map(_._1).toArray
    val vecs = cand.map(_._2).toArray
    val ws = Array.tabulate(nC)(j => weightOf(j).toDouble)
    val minD2 = Array.fill(nC)(Double.MaxValue)
    val chosen = new Array[Boolean](nC)
    var seedIdx = 0
    var j = 1
    while (j < nC) {
      if (ws(j) > ws(seedIdx) ||
          (ws(j) == ws(seedIdx) && ids(j) < ids(seedIdx))) seedIdx = j
      j += 1
    }
    val pickedIdx = scala.collection.mutable.ArrayBuffer[Int]()
    // each i is independent (reads vecs, writes only minD2(i)) and the
    // per-i arithmetic is the unchanged sequential IEEE dim loop, so
    // splitting the range across cores is bit-identical; serial below
    // the threshold where fork-join overhead beats the win. This keeps
    // the O(k·candidates·dim) greedy from going single-threaded-hours
    // at IVF-scale k (the round-10 verdict note)
    def updateMinRange(cIdx: Int, lo: Int, hi: Int): Unit = {
      val c = vecs(cIdx)
      var i = lo
      while (i < hi) {
        if (!chosen(i)) {
          val v = vecs(i)
          var s = 0.0; var d = 0
          while (d < dim) { val t = v(d) - c(d); s += t * t; d += 1 }
          if (s < minD2(i)) minD2(i) = s
        }
        i += 1
      }
    }
    def updateMin(cIdx: Int): Unit =
      if (nC.toLong * dim < (1 << 18)) updateMinRange(cIdx, 0, nC)
      else {
        val cores = Runtime.getRuntime.availableProcessors()
        val chunk = math.max(1, (nC + cores - 1) / cores)
        java.util.stream.IntStream.range(0, (nC + chunk - 1) / chunk)
          .parallel()
          .forEach(b => updateMinRange(cIdx, b * chunk,
            math.min(nC, (b + 1) * chunk)))
      }
    chosen(seedIdx) = true; pickedIdx += seedIdx; updateMin(seedIdx)
    while (pickedIdx.length < k && pickedIdx.length < nC) {
      var bi = -1; var bs = -1.0
      var i = 0
      while (i < nC) {
        if (!chosen(i)) {
          val s = ws(i) * minD2(i)
          if (s > bs || (s == bs && (bi < 0 || ids(i) < ids(bi)))) {
            bs = s; bi = i
          }
        }
        i += 1
      }
      chosen(bi) = true; pickedIdx += bi; updateMin(bi)
    }
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
    pickedIdx.foreach(i => picked += ((ids(i), vecs(i))))
    if (picked.length < k) {
      // degenerate corpus: pad from the hash-init order, skipping chosen
      val chosenIds = picked.map(_._1).toSet
      pad(chosenIds, k - picked.length).foreach(p => picked += p)
    }
    require(picked.length == k,
      s"scalable init needs >= $k distinct non-null vectors, " +
        s"found ${picked.length}")
    picked.map(_._2).toArray
  }

  /** At or below this row count [[fit]] collects the slim projection
    * once and runs init + iterations over the collected rows — the
    * [[graft.som.Som]] `localFitThreshold` pattern. A 2,000-row
    * coarse-quantizer fit paid ~1 + iters Spark jobs of pure scheduler
    * overhead (~50 ms each). It is the same loop over the other form
    * of [[Rows]], so the bits are the same (`KmeansSpec` pins
    * local == forced-distributed across all three init methods, and the
    * `kmeans_train_distributed` query keeps the distributed loop
    * oracle-gated at every SF). 65,536 x 64-dim rows collect to
    * ≤ ~34 MB — driver-trivial; pass 0 to force the distributed loop.
    */
  val localFitMaxRows = 65536L

  /** `iters` Lloyd's iterations from the seeded init (`initMethod` =
    * "hash" for the md5-keyed sample, "farthest" for Gonzalez
    * farthest-first traversal — k <= [[farthestMaxK]] — or "scalable"
    * for the k-means||-style large-k init). Empty clusters keep their
    * previous centroid (the standard convention; the guard mirrors
    * `_merge_updates`' zero-denominator rule).
    *
    * Inputs of at most `localMaxRows` rows run init and iterations over
    * the collected rows (see [[localFitMaxRows]]).
    */
  def fit(df: DataFrame, vecCol: String, idCol: String, k: Int, iters: Int,
          salt: String = "km", initMethod: String = "hash",
          localMaxRows: Long = localFitMaxRows): Model = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(iters >= 0, s"kmeans needs iters >= 0, got $iters")
    require(initMethod == "hash" || initMethod == "farthest" ||
        initMethod == "scalable",
      s"initMethod must be 'hash', 'farthest' or 'scalable', got '$initMethod'")
    // the update sums each element's scale-9 decimal value (exact,
    // order-independent). Those per-element roundings never change
    // across iterations, so they are computed ONCE here (`vec_scale9`
    // longs cached next to the doubles); each iteration then pays one
    // codegen assignment scan + a plain-long-addition aggregate whose
    // state is k buffers of (dim + 1) longs per partition.
    val data = slim(df, vecCol, idCol)
      .withColumn("__vl", KmeansFunctions.vec_scale9(col("__v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = rowsOf(data, localMaxRows)
      val c = (initMethod match {
        case "farthest" => farthestFirst(rows, k, salt)
        case "scalable" => initScalableCentroids(rows, k, salt, 5, -1)
        case _ => seededInit(rows, k, salt).map(_._2)
      }).map(_.clone()) // updated in place below
      val dim = c(0).length
      // the per-iteration aggregate's reduce side is k buffers of
      // (dim+1) longs — constant at any corpus scale. Run the loop on
      // a child session with AQE off (its stage barrier costs one
      // extra job per iteration and has nothing to adapt: the key
      // space is ≤ k integers) and the exchange sized to that key
      // space, never above the caller's default (LoopSession doc)
      val loop = rows.onLoop(k)
      var it = 0
      while (it < iters) {
        loop.clusterSums(Model(c).flat, dim).foreach { case (cid, s, n) =>
          var d = 0
          while (d < dim) { c(cid)(d) = VecScale9Kernel.mean9(s(d), n); d += 1 }
        }
        it += 1
      }
      Model(c)
    } finally { data.unpersist(); () }
  }

  /** One assignment-and-reduce pass: per cluster, the exact scale-9
    * per-dimension sums and member count of `df` under `model`'s
    * centroids — the building block of one Lloyd's iteration, exposed
    * for incremental (micro-batch) training. Collects ≤ k rows.
    */
  def assignSums(df: DataFrame, vecCol: String, idCol: String,
                 model: Model): Seq[(Int, Array[Long], Long)] =
    sumsOf(slim(df, vecCol, idCol)
        .withColumn("__vl", KmeansFunctions.vec_scale9(col("__v"))),
      model.flat, model.dim)

  /** One assignment pass: (vec_id, cid, d2) for every non-null vector —
    * a single codegen scan, no shuffle.
    */
  def assign(df: DataFrame, vecCol: String, idCol: String,
             model: Model): DataFrame =
    slim(df, vecCol, idCol)
      .select(col("__id").as("vec_id"),
        KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim).as("a"))
      .select(col("vec_id"), col("a.cid").cast("long").as("cid"),
        col("a.d2").as("d2"))

  /** The trained-centroid table in oracle-friendly long form:
    * (cid, dim, w, n) with n = final cluster population (one extra
    * assignment pass, aggregated to k rows).
    */
  def centroidsDf(df: DataFrame, vecCol: String, idCol: String,
                  model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = for (j <- 0 until model.k; d <- 0 until model.dim)
      yield (j.toLong, d.toLong, model.centroids(j)(d))
    val cdf = rows.toDF("cid", "dim", "w")
    val sizes = assign(df, vecCol, idCol, model)
      .groupBy("cid").agg(count(lit(1)).as("n"))
    cdf.join(sizes, Seq("cid"), "left")
      .select(col("cid"), col("dim"), col("w"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-cluster quality metrics in ONE assignment scan: population,
    * mean simplified silhouette — `(b - a) / max(a, b)` with `a` the
    * distance to the own centroid and `b` to the SECOND-nearest (the
    * standard O(n·k) surrogate for the O(n²) pairwise silhouette; both
    * distances fall out of the same argmin pass via the kernel's `d2b`
    * slot) — and mean own-centroid distance. Per-row terms round to 9
    * decimals and sum as DECIMAL(28,9), so the means are exact and
    * order-independent; a row equidistant at 0 from two centroids
    * scores 0 by convention.
    */
  def qualityDf(df: DataFrame, vecCol: String, idCol: String,
                model: Model): DataFrame = {
    require(model.k >= 2, "silhouette needs k >= 2 centroids")
    import org.apache.spark.sql.types.DecimalType
    val scored = slim(df, vecCol, idCol)
      .select(KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
        .as("a"))
      .select(col("a.cid").cast("long").as("cid"),
        sqrt(col("a.d2")).as("ad"), sqrt(col("a.d2b")).as("bd"))
      .select(col("cid"),
        round(when(greatest(col("ad"), col("bd")) === 0.0, 0.0)
          .otherwise((col("bd") - col("ad")) / greatest(col("ad"), col("bd"))), 9)
          .cast(DecimalType(28, 9)).as("s"),
        round(col("ad"), 9).cast(DecimalType(28, 9)).as("adr"))
    scored.groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(col("s")).as("ssum"),
        sum(col("adr")).as("asum"))
      .select(col("cid"), col("n"),
        round(col("ssum").cast("double") / col("n"), 6).as("silhouette"),
        round(col("asum").cast("double") / col("n"), 6).as("avg_dist"))
  }

  /** Cluster-balanced sampling: a fixed-size, content-keyed sample PER
    * EMBEDDING CLUSTER — the SemDeDup/DataComp-style selection that
    * flattens a corpus's semantic density (oversampled topics
    * contribute the same n rows as rare ones). One assignment scan
    * feeds the bounded-heap `topn_smallest` aggregate (k groups, ≤
    * `perCell` pairs of state per group per partition — no window, no
    * corpus shuffle); the sample key is `(md5(salt:id), id)`, so the
    * selection is deterministic, partitioning-invariant and
    * independently replayable. Returns (cid, vec_id), ≤ k × perCell
    * rows.
    */
  def balancedSample(df: DataFrame, vecCol: String, idCol: String,
                     model: Model, perCell: Int,
                     salt: String = "bs"): DataFrame = {
    require(perCell > 0, s"balancedSample needs perCell > 0, got $perCell")
    slim(df, vecCol, idCol)
      .select(KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
        .getField("cid").cast("long").as("cid"),
        md5(concat_ws(":", lit(salt), col("__id"))).as("__h"), col("__id"))
      .groupBy("cid")
      .agg(graft.plans.TopNFunctions.topn_smallest(col("__h"), col("__id"),
        perCell).as("picked"))
      .select(col("cid"), explode(col("picked")).as("p"))
      .select(col("cid"), col("p.id").as("vec_id"))
  }

  /** IVF ANN with a k-means coarse quantizer: assign the corpus to its
    * nearest centroid, probe only the `nProbe` cells whose centroids
    * are closest to each query, cosine-rank inside them. The sibling of
    * [[Similarity.somTopK]] with the standard quantizer; the repeated-
    * query deployment writes the assigned corpus out partitioned by
    * `cid` once ([[Similarity.writeAssignedIndex]] shape) so the probe
    * filter becomes a static partition filter.
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              queries: Seq[(Long, Array[Double])], k: Int,
              kClusters: Int, iters: Int, nProbe: Int,
              salt: String = "km"): DataFrame = {
    val model = fit(df, vecCol, idCol, kClusters, iters, salt)
    // assignment inline, ONE scan — the persisted-index deployment
    // replaces this with a pruned read. The cell is bound once: the
    // probed-cell isin would otherwise be pushed below the assigning
    // projection and run kmeans_assign again per row
    topKAssigned(Materialize.once(withCell(df, vecCol, idCol, model), "cid",
      col("cid")), model, "vec", "vec_id", queries, k, nProbe)
  }

  /** The corpus beside its cell, (vec_id, vec, cid), in one scan. */
  private def withCell(df: DataFrame, vecCol: String, idCol: String,
                       model: Model): DataFrame =
    slim(df, vecCol, idCol)
      .select(col("__id").as("vec_id"), col("__v").as("vec"),
        KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
          .getField("cid").cast("long").as("cid"))

  /** Persist the assigned corpus partitioned by cell — the build half
    * of the repeated-query IVF deployment (the k-means sibling of
    * [[Similarity.writeAssignedIndex]]): serving reads back through
    * [[topKAssigned]] and the probe `isin` becomes a STATIC partition
    * filter, so only the probed cells' directories are ever listed.
    */
  def writeAssignedIndex(df: DataFrame, vecCol: String, idCol: String,
                         model: Model, path: String,
                         filesPerCell: Int = Similarity.defaultFilesPerCell): Unit = {
    // cell-clustered shuffle before the partitioned write: bounds the
    // layout to ≤ k x filesPerCell files instead of tasks x cells (see
    // Similarity.clusterByCell)
    Similarity.clusterByCell(withCell(df, vecCol, idCol, model), "cid",
      xxhash64(col("vec_id")), filesPerCell)
      .write.partitionBy("cid").parquet(path)
  }

  /** Serve a query batch over a pre-assigned corpus — `assigned` is
    * either the inline assignment ([[ivfTopK]]) or a
    * [[writeAssignedIndex]] read-back (columns `idCol`, `vecCol`,
    * `cid`); with the latter the probed-cell `isin` prunes partitions
    * statically, so per-batch cost tracks the probed fraction, not the
    * corpus.
    */
  def topKAssigned(assigned: DataFrame, model: Model, vecCol: String,
                   idCol: String, queries: Seq[(Long, Array[Double])],
                   k: Int, nProbe: Int): DataFrame =
    Similarity.cellTopK(assigned, "cid", model.flat, model.dim, vecCol,
      idCol, queries, k, nProbe)
}
