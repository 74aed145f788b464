package graft.operators

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Parts
import graft.plans.{HashKernels, KmeansFunctions, KmeansKernel, KmeansScratch, VecScale9Kernel,
  VecSumCount}

/** Distributed Lloyd's k-means over an embedding column — the standard
  * coarse quantizer / corpus-clustering primitive (IVF cells, SemDeDup
  * buckets, data-mixing domains). Complements the SOM trainer: same
  * role, no neighborhood smoothing, the clustering everyone reaches
  * for first.
  *
  * Scale shape: the slim `(id, vec)` projection is read ONCE into one
  * cached [[Block]] per input partition (ids, vectors as doubles, and
  * their scale-9 longs: ~1.1 KB per 64-dim row), so one partition's
  * block must fit in a task's memory. Every step of the loop — the
  * seeded init, farthest-first, the k-means‖ rounds, Lloyd's update —
  * is one block kernel mapped over the cached blocks and a merge of
  * the per-block results on the driver: the reference's
  * map-over-Dask-blocks-and-sum shape (`xpysom.py:545-558`), one Spark
  * job per step with no codegen and no query planning. No rows are
  * shuffled; from six partitions on, the fold ([[graft.Parts]]`.reduce`)
  * adds one level that exchanges per-partition buffers.
  *  - assignment is [[graft.plans.KmeansKernel.assignRows]], the entry
  *    of the kernel the `kmeans_assign` expression calls;
  *  - the update adds each block's pre-scaled longs into k buffers of
  *    (dim + 1) longs ([[graft.plans.VecSumCount.add]]), merged with
  *    `Math.addExact` through the [[graft.Parts]] fold — the result is
  *    centroid-table-shaped at any corpus size, and iterations pay no
  *    per-element decimal work;
  *  - the driver divides the exact sums into the next centroid table.
  * At 100 TB the standard deployment trains on a sampled fraction and
  * runs ONE full assignment pass ([[assign]], the codegen kernel).
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
  *  - every merge of per-block results is exact (long and BigInteger
  *    sums, IEEE min) or lexicographic (`(md5, id)`, `(d², id)`,
  *    ascending id), so neither the partitioning nor the arrival order
  *    of the partials can change a bit;
  *  - one loop runs over two forms of the blocks ([[graft.Parts]]): cached
  *    on the cluster, or on the driver ([[localFitMaxRows]]) — the same
  *    kernels and merges, so both give the same bits by construction.
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

  /** One partition's rows sorted by id (ties keep their input order):
    * the ids, the vectors, and — when the loop sums them — each
    * vector's scale-9 longs ([[VecScale9Kernel.scaleArray]]), computed
    * once, when the block is built. Immutable: the kernels below return
    * new state and never write into a (possibly cached) block.
    */
  private final class Block(val ids: Array[Long], val xs: Array[Array[Double]],
                            val scaled: Array[ArrayData]) extends Serializable {
    def size: Int = ids.length

    /** Up to `n` rows in `(md5(salt:id), id)` order, ids in `skip` left
      * out, each with its md5 hex (the merge key). `md5Hex` is the call
      * Spark's `md5` makes.
      */
    def seeded(n: Int, salt: String,
               skip: Set[Long] = Set.empty): Array[(String, Long, Array[Double])] =
      ids.indices.filterNot(i => skip.contains(ids(i)))
        .map(i => (DigestUtils.md5Hex(s"$salt:${ids(i)}"), i))
        .sortBy { case (h, i) => (h, ids(i)) }
        .take(n).map { case (h, i) => (h, ids(i), xs(i)) }.toArray

    /** Each row's nearest centroid of the table `flat` and its d². */
    def near(flat: Array[Double], dim: Int): Near = {
      val cid = new Array[Int](size)
      val d2 = new Array[Double](size)
      KmeansKernel.assignRows(xs, flat, dim, cid, d2)
      Near(d2, cid)
    }

    /** `s` with the candidates `flat`, indexed from `baseIdx`, folded in:
      * strict <, so ties keep the lower index — the same min and argmin
      * as one assignment over every candidate so far (IEEE min is
      * exact, and the kernel computes each centroid's d² alone).
      */
    def fold(s: Near, flat: Array[Double], dim: Int, baseIdx: Int): Near = {
      val now = near(flat, dim)
      val md2 = s.md2.clone()
      val cid = s.cid.clone()
      var i = 0
      while (i < size) {
        if (now.md2(i) < md2(i)) { md2(i) = now.md2(i); cid(i) = now.cid(i) + baseIdx }
        i += 1
      }
      Near(md2, cid)
    }

    /** The row with the largest min d² under `s`, ties to the lowest id;
      * None for an empty block.
      */
    def farthest(s: Near): Option[(Double, Long, Array[Double])] =
      if (size == 0) None
      else {
        // ids ascend, so strict > keeps the lowest id on ties
        var bi = 0
        var i = 1
        while (i < size) { if (s.md2(i) > s.md2(bi)) bi = i; i += 1 }
        Some((s.md2(bi), ids(bi), xs(bi)))
      }

    /** k-means‖ round `r`'s draws, by ascending id: the rows with
      * `u < ell · round9(min d²) / phi`, `u` the md5-uniform
      * `(md5_prefix_long("salt|sc<r>:id", 13) + 0.5) / 2^52`.
      */
    def draw(s: Near, r: Int, salt: String, ell: Int,
             phi: Double): Array[(Long, Array[Double])] =
      ids.indices.filter { i =>
        val u = (HashKernels.md5PrefixLong(
            UTF8String.fromString(s"$salt|sc$r:${ids(i)}"), 13).toDouble + 0.5) /
          4503599627370496.0 // 2^52
        u < ell.toDouble *
          java.math.BigDecimal.valueOf(VecScale9Kernel.scale9(s.md2(i)), 9).doubleValue / phi
      }.map(i => (ids(i), xs(i))).toArray

    /** Lloyd's update partials under the table `flat`: per cluster, the
      * exact scale-9 per-dimension sums and the member count, as k
      * [[VecSumCount]] buffers of `dim + 1` longs.
      */
    def sums(flat: Array[Double], dim: Int): Array[Array[Long]] = {
      require(scaled != null, "kmeans blocks were built without scale-9 longs")
      val cid = near(flat, dim).cid
      val bufs = Array.fill(flat.length / dim)(new Array[Long](dim + 1))
      var i = 0
      while (i < size) { VecSumCount.add(bufs(cid(i)), scaled(i), dim); i += 1 }
      bufs
    }
  }

  private object Block {
    /** The block of one partition of the slim `(__id, __v)` rows. */
    def apply(rows: Iterator[InternalRow], withSums: Boolean): Block = {
      val ids = scala.collection.mutable.ArrayBuilder.make[Long]
      val xs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      rows.foreach { row =>
        require(!row.isNullAt(0), "kmeans id column has a null")
        ids += row.getLong(0)
        xs += row.getArray(1).toDoubleArray()
      }
      val (is, vs) = (ids.result(), xs.toArray)
      val order = is.indices.sortBy(is(_)).toArray // stable
      new Block(order.map(is(_)), order.map(vs(_)),
        if (withSums) order.map(i =>
          VecScale9Kernel.scaleArray(ArrayData.toArrayData(vs(i)), isFloat = false))
        else null)
    }
  }

  /** Per row of one block, the min d² to the centroids folded in so far
    * and that centroid's index: the running state of farthest-first and
    * the k-means‖ rounds.
    */
  private final case class Near(md2: Array[Double], cid: Array[Int]) {
    /** Σ round9(min d²), exact at scale 9 (the DECIMAL(38,9) sum). */
    def phi9: java.math.BigInteger = {
      var s = java.math.BigInteger.ZERO
      var i = 0
      while (i < md2.length) {
        s = s.add(java.math.BigInteger.valueOf(VecScale9Kernel.scale9(md2(i)))); i += 1
      }
      s
    }

    /** Rows per candidate index. */
    def counts(nCand: Int): Array[Long] = {
      val w = new Array[Long](nCand)
      cid.foreach(j => w(j) += 1L)
      w
    }
  }

  /** The blocks of `df`'s slim projection, one per partition, not cached. */
  private def blockRdd(df: DataFrame, vecCol: String, idCol: String,
                       withSums: Boolean): RDD[Block] =
    slim(df, vecCol, idCol).queryExecution.toRdd
      .mapPartitions(rows => Iterator(Block(rows, withSums)))

  /** The blocks of `df`'s slim projection, not cached; an input without
    * partitions is one empty block.
    */
  private def blocksOf(df: DataFrame, vecCol: String, idCol: String,
                       withSums: Boolean): Parts[Block] =
    Parts.of(blockRdd(df, vecCol, idCol, withSums), Block(Iterator.empty, withSums))

  /** The blocks of `df`'s slim projection, loaded at `maxRows` rows by
    * [[graft.Parts.load]], and the `n` seeded rows ([[seededInit]]) its
    * one job picks. The caller releases the blocks.
    */
  private def load(df: DataFrame, vecCol: String, idCol: String, maxRows: Long,
                   withSums: Boolean, n: Int,
                   salt: String): (Parts[Block], Array[(Long, Array[Double])]) = {
    val (rows, tops) = Parts.load(blockRdd(df, vecCol, idCol, withSums),
      Block(Iterator.empty, withSums), maxRows)(_.size.toLong, _.seeded(n, salt))
    try (rows, seededInit(tops, n))
    catch { case e: Throwable => rows.release(); throw e }
  }

  /** Up to `n` (id, vector) rows in `(md5(salt:id), id)` order: the
    * blocks' own top-n lists ([[Block.seeded]]) merged on `(md5, id)`.
    */
  private def seeded(tops: Seq[Array[(String, Long, Array[Double])]],
                     n: Int): Array[(Long, Array[Double])] =
    tops.flatten.sortBy { case (h, id, _) => (h, id) }
      .take(n).map { case (_, id, v) => (id, v) }.toArray

  /** Element-wise exact sum of two count or sum vectors. */
  private def addExact(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(a.length)(i => Math.addExact(a(i), b(i)))

  /** Lloyd's update sums under the table `flat`: (cid, exact scale-9
    * per-dimension sums, count) for every cluster with members.
    */
  private def clusterSums(rows: Parts[Block], flat: Array[Double],
                          dim: Int): Seq[(Int, Array[Long], Long)] = {
    val bufs = rows.map(_.sums(flat, dim))
      .reduce((a, b) => Array.tabulate(a.length)(j => addExact(a(j), b(j))))
    bufs.indices.filter(j => bufs(j)(dim) > 0)
      .map(j => (j, bufs(j).take(dim), bufs(j)(dim)))
  }

  /** Σ round9(min d²) over every block, as the double of the exact
    * DECIMAL(38,9) sum.
    */
  private def phiOf(state: Parts[Near]): Double =
    new java.math.BigDecimal(
      state.map(_.phi9).collect().foldLeft(java.math.BigInteger.ZERO)(_ add _), 9)
      .doubleValue

  /** The `k` seeded rows of the blocks' top-k lists, failing when there
    * are fewer.
    */
  private def seededInit(tops: Seq[Array[(String, Long, Array[Double])]],
                         k: Int): Array[(Long, Array[Double])] = {
    val picked = seeded(tops, k)
    require(picked.length == k,
      s"kmeans init needs >= $k non-null vectors, found ${picked.length}")
    picked
  }

  /** Content-keyed seeded init: the k vectors with the smallest
    * `(md5(salt:id), id)` — a deterministic pseudo-random sample that
    * is partitioning-invariant and needs no stateful RNG. One job: each
    * block's top k, merged on the driver.
    */
  def initCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
                    salt: String = "km"): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    val rows = blocksOf(df, vecCol, idCol, withSums = false)
    seededInit(rows.map(_.seeded(k, salt)).collect(), k).map(_._2)
  }

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
    * init cost. On the cluster, k-1 extra jobs over the cached blocks,
    * each folding the newest pick into a per-row running min d² (the
    * assignment kernel's `d2`) and returning each block's farthest row;
    * inputs of at most [[localFitMaxRows]] rows run them on the driver.
    * Deterministic and independently replayable like the hashed init.
    */
  def initFarthestCentroids(df: DataFrame, vecCol: String, idCol: String,
                            k: Int, salt: String = "km"): Array[Array[Double]] = {
    checkFarthest(k)
    val (rows, first) = load(df, vecCol, idCol, localFitMaxRows, withSums = false, 1, salt)
    try farthestFirst(rows, first(0)._2, k) finally rows.release()
  }

  private def checkFarthest(k: Int): Unit = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(k <= farthestMaxK,
      s"farthest-first init runs k-1 sequential full scans and is capped " +
        s"at k <= $farthestMaxK; use initMethod='scalable' " +
        s"(k-means||-style, O(rounds) scans) for k = $k")
  }

  /** Farthest-first from the seed row `first` to `k` centroids. */
  private def farthestFirst(rows: Parts[Block], first: Array[Double],
                            k: Int): Array[Array[Double]] = {
    val dim = first.length
    val picked = scala.collection.mutable.ArrayBuffer(first)
    var state = rows.map(_.near(first, dim)).persist()
    // the state `state` was folded from; released once `state` is cached
    var prev: Parts[Near] = null
    try {
      while (picked.length < k) {
        // the driver max of the per-block maxima; this job also caches
        // `state`
        val next = rows.zip(state)(_ farthest _).collect().flatten
          .reduceOption { (a, b) =>
            if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a
          }
        require(next.nonEmpty, s"kmeans farthest init needs >= 1 vector")
        if (prev != null) { prev.release(); prev = null }
        val far = next.get._3
        picked += far
        if (picked.length < k) {
          prev = state
          state = rows.zip(state)(_.fold(_, far, dim, 0)).persist()
        }
      }
    } finally {
      state.release()
      if (prev != null) prev.release()
    }
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
    * pair in a cached per-block state, merged per round against only
    * that round's NEW candidates — so round r costs n x |new_r| x dim
    * distance work, not n x |cumulative_r| x dim, and the per-candidate
    * weights fall out of the final running state with NO extra
    * assignment pass (IEEE min is associative and the kernel breaks ties
    * to the lowest candidate index, so the running merge — strict <
    * keeps the earlier, lower index — is bit-identical to a one-shot
    * argmin over the full set). At k=4096/d=64/2M rows that is ~5x less
    * distance work than the naive recompute-per-round form, and the
    * state it keeps per row is one double + one int. Per round: one job
    * draws, one job merges and sums φ; the weights are one more.
    *
    * Inputs of at most [[localFitMaxRows]] rows run the same rounds on
    * the driver.
    *
    * Determinism (independently replayed by tools/gen_kmeans_oracle.py):
    *  - the "coin flip" for (row, round) is the md5-uniform
    *    `(int(md5('salt|sc<r>:' + id)[:13hex]) + 0.5) / 2^52` — the
    *    [[Sampling.sampleByWeight]] draw, partitioning-invariant;
    *  - d² is the assignment kernel's sequential IEEE loop, rounded to
    *    9 decimals HALF_UP by [[graft.plans.VecScale9Kernel.scale9]] (the
    *    same DECIMAL(38,9) value as `round(d², 9)` cast to decimal); φ is
    *    the EXACT sum of those, per block as a `BigInteger` and then over
    *    the blocks (order-independent); the threshold is the double
    *    `oversample*d²9/φ` with d²9 that decimal's double value;
    *  - seed = hash-init row; greedy ties break on the lowest id;
    *    if fewer than k candidates survive (degenerate corpora), the
    *    remainder pads from the hash-init order under salt + "|pad",
    *    skipping already-chosen ids.
    */
  def initScalableCentroids(df: DataFrame, vecCol: String, idCol: String,
                            k: Int, salt: String = "km", rounds: Int = 5,
                            oversample: Int = -1): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(rounds > 0, s"scalable init needs rounds > 0, got $rounds")
    val (rows, first) = load(df, vecCol, idCol, localFitMaxRows, withSums = false, 1, salt)
    try initScalableCentroids(rows, first(0), k, salt, rounds, oversample)
    finally rows.release()
  }

  // keeps the public name so the rounds' Spark jobs carry it in their
  // call sites, also when `fit` runs them
  private def initScalableCentroids(rows: Parts[Block], seed: (Long, Array[Double]),
                                    k: Int, salt: String, rounds: Int,
                                    oversample: Int): Array[Array[Double]] = {
    val ell = if (oversample > 0) oversample else 2 * k
    val (firstId, first) = seed
    val dim = first.length
    // (id, vec) candidates in selection order; ids seen for dedup
    val cand = scala.collection.mutable.ArrayBuffer((firstId, first))
    val seen = scala.collection.mutable.HashSet(firstId)
    var state = rows.map(_.near(first, dim)).persist()
    try {
      // φ (the first job over a state also caches it) only changes with
      // the state, so it is carried between rounds: a round without new
      // candidates costs no job
      var phi = phiOf(state)
      var r = 0
      while (r < rounds) {
        if (phi > 0.0) {
          val (round, cut, s) = (r, phi, state)
          val picked = rows.zip(s)(_.draw(_, round, salt, ell, cut))
            .collect().flatten.sortBy(_._1).toArray
          require(picked.length <= 64 * ell,
            s"scalable init round $r selected ${picked.length} candidates " +
              s"(expected ~$ell) — pathological d² skew; raise rounds or " +
              s"check the data")
          val baseIdx = cand.length
          picked.foreach { case (id, v) => if (seen.add(id)) cand += ((id, v)) }
          if (cand.length > baseIdx) {
            val flat = Model(cand.drop(baseIdx).map(_._2).toArray).flat
            val next = rows.zip(s)(_.fold(_, flat, dim, baseIdx)).persist()
            try phi = phiOf(next) finally { s.release(); state = next }
          }
        }
        r += 1
      }
      val nCand = cand.length
      val weights = state.map(_.counts(nCand)).reduce(addExact)
      reduceWeightedCandidates(cand.toIndexedSeq, weights(_), k, dim,
        (chosenIds, need) =>
          seeded(rows.map(_.seeded(need, s"$salt|pad", chosenIds)).collect(), need).toSeq)
    } finally state.release()
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

  /** Inputs of at most this many rows run init and iterations on the
    * driver, by the rule of [[graft.Parts.load]]. A 2,000-row
    * coarse-quantizer fit paid ~1 + iters Spark jobs of pure scheduler
    * overhead (~50 ms each). It is the same loop over the other form
    * of [[Parts]], so the bits are the same (`KmeansSpec` pins
    * local == forced-distributed across all three init methods, and the
    * `kmeans_train_distributed` query keeps the distributed loop
    * oracle-gated at every SF). 65,536 x 64-dim rows and their scale-9
    * longs are ≤ ~70 MB — driver-trivial; 0 keeps every input on the
    * cluster.
    */
  val localFitMaxRows = 65536L

  /** `iters` Lloyd's iterations from the seeded init (`initMethod` =
    * "hash" for the md5-keyed sample, "farthest" for Gonzalez
    * farthest-first traversal — k <= [[farthestMaxK]] — or "scalable"
    * for the k-means||-style large-k init). Empty clusters keep their
    * previous centroid (the standard convention; the guard mirrors
    * `_merge_updates`' zero-denominator rule).
    *
    * Inputs of at most `localMaxRows` rows run init and iterations on
    * the driver ([[localFitMaxRows]]). The job that reads the input also
    * draws the seeded init.
    */
  def fit(df: DataFrame, vecCol: String, idCol: String, k: Int, iters: Int,
          salt: String = "km", initMethod: String = "hash",
          localMaxRows: Long = localFitMaxRows): Model = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(iters >= 0, s"kmeans needs iters >= 0, got $iters")
    require(initMethod == "hash" || initMethod == "farthest" ||
        initMethod == "scalable",
      s"initMethod must be 'hash', 'farthest' or 'scalable', got '$initMethod'")
    if (initMethod == "farthest") checkFarthest(k)
    // the update sums each element's scale-9 decimal value (exact,
    // order-independent). Those per-element roundings never change
    // across iterations, so the blocks carry them, computed once; each
    // iteration then pays one assignment pass + plain long additions
    // into k buffers of (dim + 1) longs per block
    val (rows, seeds) = load(df, vecCol, idCol, localMaxRows, withSums = true,
      if (initMethod == "hash") k else 1, salt)
    try {
      val c = (initMethod match {
        case "farthest" => farthestFirst(rows, seeds(0)._2, k)
        case "scalable" => initScalableCentroids(rows, seeds(0), k, salt, 5, -1)
        case _ => seeds.map(_._2)
      }).map(_.clone()) // updated in place below
      val dim = c(0).length
      var it = 0
      while (it < iters) {
        clusterSums(rows, Model(c).flat, dim).foreach { case (cid, s, n) =>
          var d = 0
          while (d < dim) { c(cid)(d) = VecScale9Kernel.mean9(s(d), n); d += 1 }
        }
        it += 1
      }
      Model(c)
    } finally rows.release()
  }

  /** One assignment-and-reduce pass: per cluster, the exact scale-9
    * per-dimension sums and member count of `df` under `model`'s
    * centroids — the building block of one Lloyd's iteration, exposed
    * for incremental (micro-batch) training. One job over uncached
    * blocks; ≤ k buffers reach the driver.
    */
  def assignSums(df: DataFrame, vecCol: String, idCol: String,
                 model: Model): Seq[(Int, Array[Long], Long)] =
    clusterSums(blocksOf(df, vecCol, idCol, withSums = true), model.flat, model.dim)

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
                   k: Int, nProbe: Int): DataFrame = {
    val (w, dim) = (model.flat, model.dim)
    val cols = KmeansKernel.columns(w, dim)
    val s = new KmeansScratch(dim, w.length / dim)
    // a query's d² to every centroid, `kmeans_assign`'s bits: the probe
    // ranks cells as the build assigned rows to them
    Similarity.cellTopK(assigned, "cid", { q =>
      require(q.length == dim, s"Received ${q.length} features, expected $dim.")
      KmeansKernel.nearest(q, w, cols, dim, s)
      s.acc.clone()
    }, vecCol, idCol, queries, k, nProbe)
  }
}
