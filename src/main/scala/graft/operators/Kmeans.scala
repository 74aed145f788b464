package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.{KmeansFunctions, KmeansKernel}

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
  *    `round(d², 9)` casts to, and the one the driver-local twin and
  *    the oracle use.
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
    /** Nearest centroid ids for one query vector — same sequential
      * loop and lowest-cid tie-break as the distributed kernel.
      * Driver-local: the centroid table is at most a few thousand
      * doubles.
      */
    def nearest(q: Array[Double], n: Int): Seq[Int] = {
      require(q.length == dim, s"Received ${q.length} features, expected $dim.")
      (0 until k).map { j =>
        var s = 0.0
        var i = 0
        while (i < dim) { val t = q(i) - centroids(j)(i); s += t * t; i += 1 }
        (j, s)
      }.sortBy(t => (t._2, t._1)).take(n).map(_._1)
    }
  }

  private def slim(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))

  /** Content-keyed seeded init: the k vectors with the smallest
    * `(md5(salt:id), id)` — a deterministic pseudo-random sample that
    * is partitioning-invariant and needs no stateful RNG. Runs as a
    * TakeOrderedAndProject (per-partition top-k, k rows collected).
    */
  def initCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
                    salt: String = "km"): Array[Array[Double]] = {
    seededInitRows(slim(df, vecCol, idCol), k, salt).map(_._2)
  }

  /** The ONE spelling of the seeded selection, returning (id, vector)
    * pairs — [[initCentroids]] keeps the vectors, the scalable init
    * also needs the ids for candidate bookkeeping. One definition so
    * the two callers (and the Python oracle's replay of this ordering)
    * can never drift.
    */
  private def seededInitRows(data: DataFrame, k: Int,
                             salt: String): Array[(Long, Array[Double])] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    val rows = data
      .withColumn("__h", md5(concat_ws(":", lit(salt), col("__id"))))
      .orderBy(col("__h"), col("__id"))
      .limit(k)
      .collect()
    require(rows.length == k,
      s"kmeans init needs >= $k non-null vectors, found ${rows.length}")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  }

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
  /** Farthest-first runs k-1 SEQUENTIAL full scans — fine in the
    * coarse-quantizer regime it exists for, a scale-killer at the
    * k≥4096 sizes real IVF deployments use. The guard forces large-k
    * callers onto [[initScalableCentroids]] (O(rounds) scans).
    */
  val farthestMaxK = 512

  def initFarthestCentroids(df: DataFrame, vecCol: String, idCol: String,
                            k: Int, salt: String = "km"): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(k <= farthestMaxK,
      s"farthest-first init runs k-1 sequential full scans and is capped " +
        s"at k <= $farthestMaxK; use initMethod='scalable' " +
        s"(k-means||-style, O(rounds) scans) for k = $k")
    val data = slim(df, vecCol, idCol)
    val first = initCentroids(data, "__v", "__id", 1, salt)
    val picked = scala.collection.mutable.ArrayBuffer[Array[Double]](first(0))
    val dim = first(0).length
    while (picked.length < k) {
      val flat = Model(picked.toArray).flat
      val next = data
        .select(col("__id"), col("__v"),
          KmeansFunctions.kmeans_assign(col("__v"), flat, dim)
            .getField("d2").as("d2"))
        .orderBy(col("d2").desc, col("__id").asc)
        .limit(1).collect()
      require(next.nonEmpty, s"kmeans farthest init needs >= 1 vector")
      picked += next(0).getSeq[Double](1).toArray
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
                            oversample: Int = -1,
                            localMaxRows: Long = localFitMaxRows): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(rounds > 0, s"scalable init needs rounds > 0, got $rounds")
    val ell = if (oversample > 0) oversample else 2 * k
    val data = slim(df, vecCol, idCol)
    // small-input dispatch (the [[fit]] pattern): ONE constant-projection
    // CollectLimit probe, then the driver-local bit-identical twin — the
    // distributed loop's ~2 jobs/round of scheduler overhead dwarfs the
    // arithmetic at coarse-quantizer scale. Pass localMaxRows = 0 to
    // force the distributed rounds (the kmeans_scalable_init_distributed
    // oracle twin does).
    if (localMaxRows > 0) {
      val lim = (localMaxRows + 1).min(Int.MaxValue.toLong).toInt
      if (data.select(lit(1).as("__one")).limit(lim).count() <= localMaxRows) {
        val rows = data.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        return initScalableLocal(rows, k, salt, rounds, oversample)
      }
    }
    // distributed rounds: every per-round action below is either a
    // no-exchange collect (selection filter, TakeOrdered seed/pad) or
    // an aggregate whose reduce side is tiny at any corpus scale (φ =
    // one DECIMAL per map task; the weight counts = ≤ |candidates|
    // (cid, n) pairs) — run them with AQE's per-stage barrier off and
    // a single reduce partition (LoopSession doc; saves 2 jobs/round);
    // the keyed weight count re-bases to its own key space below
    val dataL = LoopSession.rebase(data, 1)
    // ONE seed job returning (id, vector) via the shared seeded
    // selection — the old form ran initCentroids AND a second job just
    // to recover the seed's id
    val (firstId, firstVec) = seededInitRows(dataL, 1, salt)(0)
    val first = Array(firstVec)
    val dim = first(0).length
    // (id, vec) candidates in selection order; ids seen for dedup
    val cand = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
    val seen = scala.collection.mutable.HashSet[Long]()
    cand += ((firstId, first(0))); seen += firstId
    // running state: (__id, __v, __md2 = min d² to candidates so far,
    // __cid = that argmin's candidate index). Initialized against the
    // seed; each round merges ONLY the round's new candidates in
    // (Materialize.once pins the assign struct to one evaluation —
    // both merge branches read it)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def merged(prev: DataFrame, newFlat: Array[Double],
               baseIdx: Int): DataFrame =
      Materialize.once(prev, "__na",
          KmeansFunctions.kmeans_assign(col("__v"), newFlat, dim))
        .select(col("__id"), col("__v"),
          when(col("__na.d2") < col("__md2"), col("__na.d2"))
            .otherwise(col("__md2")).as("__md2"),
          when(col("__na.d2") < col("__md2"), col("__na.cid") + lit(baseIdx))
            .otherwise(col("__cid")).as("__cid"))
    // round9(md2) as DECIMAL(38,9) straight from scale9: the value
    // round(md2, 9).cast(DECIMAL(38,9)) spells through two decimal
    // strings per row
    val md29 = KmeansFunctions.dec_scale9(col("__md2"))
    // φ (exact order-independent sum of the scale-9 running-min grid)
    // doubles as the persist's materializing action: ONE pass both
    // caches the new state and returns the next round's threshold
    // denominator — the old shape paid a count() to materialize PLUS a
    // separate φ scan at the top of every round (2 extra passes over
    // the full corpus per round at probe scale)
    def phiOf(df: DataFrame): Double = {
      val phiRow = df.select(sum(md29).as("phi")).collect()(0)
      if (phiRow.isNullAt(0)) 0.0 else phiRow.getDecimal(0).doubleValue()
    }
    var state = Materialize.once(dataL, "__na",
        KmeansFunctions.kmeans_assign(col("__v"),
          Model(Array(first(0))).flat, dim))
      .select(col("__id"), col("__v"), col("__na.d2").as("__md2"),
        lit(0).as("__cid"))
      .persist(mem)
    // φ only changes when the state changes, so it is carried between
    // rounds instead of recomputed — a no-new-candidates round now costs
    // zero jobs where it used to re-scan for an identical φ
    var phi = phiOf(state)
    var r = 0
    while (r < rounds) {
      if (phi > 0.0) {
        // fused md5-prefix kernel — same bits as the
        // conv(substring(md5(..),1,13),16,10) spelling the oracle replays
        val u = (graft.plans.GraftFunctions.md5_prefix_long(
            concat_ws(":", lit(s"$salt|sc$r"), col("__id")), 13)
          .cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
        // collect unsorted and sort driver-side: the old orderBy forced
        // a range-partitioning Exchange (plus its sampling pass) over
        // the filtered rows just to fix the ~ell-row iteration order
        val picked = state
          .where(u < lit(ell.toDouble) * md29.cast("double") / lit(phi))
          .select(col("__id"), col("__v"))
          .collect()
          .sortBy(_.getLong(0))
        require(picked.length <= 64 * ell,
          s"scalable init round $r selected ${picked.length} candidates " +
            s"(expected ~$ell) — pathological d² skew; raise rounds or " +
            s"check the data")
        val baseIdx = cand.length
        picked.foreach { row =>
          val id = row.getLong(0)
          if (!seen.contains(id)) {
            seen += id
            cand += ((id, row.getSeq[Double](1).toArray))
          }
        }
        if (cand.length > baseIdx) {
          val newFlat =
            Model(cand.slice(baseIdx, cand.length).map(_._2).toArray).flat
          val next = merged(state, newFlat, baseIdx).persist(mem)
          phi = phiOf(next) // materializes the persist AND updates φ
          state.unpersist(blocking = false)
          state = next
        }
      }
      r += 1
    }
    // per-candidate population weights: already in the running state —
    // no extra assignment pass. The key space is |cand| cids, so the
    // exchange is sized to that, not to the φ rounds' single partition
    val wRows = LoopSession.rebase(state, cand.length)
      .groupBy("__cid").agg(count(lit(1)).as("n"))
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    state.unpersist(blocking = false)
    reduceWeightedCandidates(cand.toIndexedSeq, j => wRows.getOrElse(j, 0L),
      k, dim,
      (chosenIds, need) => dataL
        .where(!col("__id").isin(chosenIds.toSeq: _*))
        .withColumn("__h", md5(concat_ws(":", lit(s"$salt|pad"), col("__id"))))
        .orderBy(col("__h"), col("__id"))
        .limit(need)
        .collect()
        .map(row => (row.getLong(0), row.getSeq[Double](1).toArray)).toSeq)
  }

  /** Shared tail of the scalable init (both dispatch arms): the
    * driver-local weighted greedy over the oversampled candidates, then
    * the hash-ordered pad for degenerate corpora. `pad(chosenIds, need)`
    * returns `need` (id, vector) rows in `(md5(salt|pad:id), id)` order,
    * excluding `chosenIds` — the distributed arm runs it as a
    * TakeOrdered query, the local twin as an in-memory sort.
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

  /** Driver-local twin of [[initScalableCentroids]] over collected
    * (id, vector) rows, id-ascending — BIT-IDENTICAL by construction
    * (the [[fitLocal]] argument, applied to the init): the seed pass
    * and every round's merge run the `kmeans_assign` kernel itself
    * through its array entry [[graft.plans.KmeansKernel.assignRows]]
    * (same d² bits, same strict-< argmin with ties to the lowest
    * candidate index), the same `VecScale9Kernel.scale9` per-value
    * rounding (the distributed φ's `dec_scale9`) whose exact
    * long sums make φ order-independent (summing on the driver cannot
    * change a bit), the same md5-hex draw
    * (`parseLong(md5hex.take(13), 16)` == the fused
    * `md5_prefix_long(..., 13)` kernel == the
    * `conv(substring(md5(..),1,13),16,10)` spelling the Python oracle
    * replays), the same double-arithmetic selection predicate
    * `u < ell * round9(md2) / φ` with the same evaluation order, and
    * the same (md5, id)-ordered seed and pad. `KmeansSpec` pins
    * local == forced-distributed equality, and the
    * `kmeans_scalable_init_distributed` query keeps the distributed
    * rounds oracle-gated at every SF.
    */
  private[operators] def initScalableLocal(rows: Array[(Long, Array[Double])],
      k: Int, salt: String, rounds: Int,
      oversample: Int): Array[Array[Double]] = {
    require(k > 0, s"kmeans needs k > 0, got $k")
    require(rounds > 0, s"scalable init needs rounds > 0, got $rounds")
    // the message the distributed arm's 1-row seed job raises on empty
    require(rows.nonEmpty, "kmeans init needs >= 1 non-null vectors, found 0")
    val ell = if (oversample > 0) oversample else 2 * k
    val n = rows.length
    val dim = rows(0)._2.length
    // the kernel's dimension guard, up front so no init work runs first
    rows.foreach(r => if (r._2.length != dim)
      throw new IllegalArgumentException(
        s"Received ${r._2.length} features, expected $dim."))
    val xs = rows.map(_._2)
    // seed: the (md5(salt:id), id)-smallest row (seededInitRows' order;
    // md5 hex is ASCII so String compareTo == the UTF8String sort)
    var seedI = 0
    var seedH = md5Hex(s"$salt:${rows(0)._1}")
    var i = 1
    while (i < n) {
      val h = md5Hex(s"$salt:${rows(i)._1}")
      if (h.compareTo(seedH) < 0 ||
          (h == seedH && rows(i)._1 < rows(seedI)._1)) {
        seedH = h; seedI = i
      }
      i += 1
    }
    val seedVec = rows(seedI)._2
    val cand = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
    val seen = scala.collection.mutable.HashSet[Long]()
    cand += ((rows(seedI)._1, seedVec)); seen += rows(seedI)._1
    // running state: min d² to the candidate set + that argmin's index
    // (the seed pass: the one-centroid table, cid 0 everywhere)
    val md2 = new Array[Double](n)
    val cid = new Array[Int](n)
    KmeansKernel.assignRows(xs, seedVec, dim, cid, md2)
    // one round's merge: argmin over only its new candidates
    val newCid = new Array[Int](n)
    val newD2 = new Array[Double](n)
    import graft.plans.VecScale9Kernel.scale9
    // φ = Σ round9(md2) summed exactly at scale 9 (the DECIMAL(38,9)
    // sum), then the same Decimal -> double conversion
    def phiOf(): Double = {
      var s = java.math.BigInteger.ZERO
      var j = 0
      while (j < n) {
        s = s.add(java.math.BigInteger.valueOf(scale9(md2(j)))); j += 1
      }
      new java.math.BigDecimal(s, 9).doubleValue
    }
    var phi = phiOf()
    var r = 0
    while (r < rounds) {
      if (phi > 0.0) {
        // same per-row draw and threshold as the distributed filter:
        // u = (md5_prefix_long("salt|scR:id", 13) + 0.5) / 2^52,
        // keep when u < ell * round9(md2) / φ
        val selIdx = scala.collection.mutable.ArrayBuffer[Int]()
        i = 0
        while (i < n) {
          val u = (java.lang.Long.parseLong(
              md5Hex(s"$salt|sc$r:${rows(i)._1}").substring(0, 13), 16)
            .toDouble + 0.5) / 4503599627370496.0 // 2^52
          val md29 = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(scale9(md2(i))), 9).doubleValue
          if (u < ell.toDouble * md29 / phi) selIdx += i
          i += 1
        }
        require(selIdx.length <= 64 * ell,
          s"scalable init round $r selected ${selIdx.length} candidates " +
            s"(expected ~$ell) — pathological d² skew; raise rounds or " +
            s"check the data")
        val baseIdx = cand.length
        // rows are id-ascending, so this IS the sorted-collect order
        selIdx.foreach { idx =>
          val id = rows(idx)._1
          if (!seen.contains(id)) { seen += id; cand += ((id, rows(idx)._2)) }
        }
        if (cand.length > baseIdx) {
          // merge ONLY the round's new candidates: the kernel's argmin
          // (strict <, ties to lowest index), then the strict-< running
          // min — exactly the `merged` frame
          KmeansKernel.assignRows(xs,
            Model(cand.slice(baseIdx, cand.length).map(_._2).toArray).flat,
            dim, newCid, newD2)
          i = 0
          while (i < n) {
            if (newD2(i) < md2(i)) { md2(i) = newD2(i); cid(i) = newCid(i) + baseIdx }
            i += 1
          }
          phi = phiOf()
        }
      }
      r += 1
    }
    // per-candidate population weights from the final state
    val wCounts = new Array[Long](cand.length)
    i = 0
    while (i < n) { wCounts(cid(i)) += 1L; i += 1 }
    reduceWeightedCandidates(cand.toIndexedSeq, j => wCounts(j), k, dim,
      (chosenIds, need) => rows.iterator
        .filter(t => !chosenIds.contains(t._1))
        .map(t => (md5Hex(s"$salt|pad:${t._1}"), t._1, t._2))
        .toArray
        .sortBy(t => (t._1, t._2))
        .take(need)
        .map(t => (t._2, t._3)).toSeq)
  }

  /** At or below this row count [[fit]] collects the slim projection
    * once and runs init + iterations driver-local — the [[graft.som.Som]]
    * `localFitThreshold` pattern. A 2,000-row coarse-quantizer fit paid
    * ~1 + iters Spark jobs of pure scheduler overhead (~50 ms each);
    * the local twin is BIT-IDENTICAL by construction: its assignment
    * passes, farthest-first included, run the distributed kernel itself
    * ([[graft.plans.KmeansKernel.assignRows]], the array entry of
    * [[graft.plans.KmeansKernel.assign]]),
    * the same `VecScale9Kernel.scale9` per-element rounding, exact
    * order-independent long sums, the same scale-9 HALF_UP division,
    * and the same md5-hex init ordering (`KmeansSpec` pins
    * local == forced-distributed across all three init methods, and the
    * `kmeans_train_distributed` query keeps the distributed loop
    * oracle-gated at every SF). 65,536 x 64-dim rows collect to
    * ≤ ~34 MB — driver-trivial; pass 0 to force the distributed loop.
    */
  val localFitMaxRows = 65536L

  /** Spark's `md5()` spelling (lowercase hex over UTF-8 bytes) for the
    * local init's content-keyed ordering.
    */
  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** Driver-local Lloyd's over collected rows — the exact twin of the
    * distributed loop (see [[localFitMaxRows]]). `rows` must be sorted
    * by id ascending (ties in the farthest-init argmax and the hash
    * init resolve on id like the distributed orderBys).
    */
  private def fitLocal(rows: Array[(Long, Array[Double])], k: Int,
                       iters: Int, salt: String, initMethod: String,
                       scalableInit: Option[Array[Array[Double]]]): Model = {
    require(rows.length >= k,
      s"kmeans init needs >= $k non-null vectors, found ${rows.length}")
    val dim = rows(0)._2.length
    val n = rows.length
    // the kernel's dimension guard, up front so no init work runs first
    rows.foreach(r => if (r._2.length != dim)
      throw new IllegalArgumentException(
        s"Received ${r._2.length} features, expected $dim."))
    val xs = rows.map(_._2)
    // per-row kernel output, reused by every pass
    val cid = new Array[Int](n)
    val d2 = new Array[Double](n)
    val c: Array[Array[Double]] = initMethod match {
      case "scalable" => scalableInit.get
      case "hash" =>
        rows.map { case (id, v) => (md5Hex(s"$salt:$id"), id, v) }
          .sortBy(t => (t._1, t._2)).take(k).map(_._3.clone())
      case "farthest" =>
        require(k <= farthestMaxK,
          s"farthest-first init runs k-1 sequential full scans and is capped " +
            s"at k <= $farthestMaxK; use initMethod='scalable' " +
            s"(k-means||-style, O(rounds) scans) for k = $k")
        val seed = rows.map { case (id, v) => (md5Hex(s"$salt:$id"), id, v) }
          .minBy(t => (t._1, t._2))._3
        val picked = scala.collection.mutable.ArrayBuffer[Array[Double]](seed.clone())
        // running min-d2 to the picked set: IEEE min via strict < — the
        // same VALUE the kernel's full-set argmin produces
        val minD2 = new Array[Double](n)
        KmeansKernel.assignRows(xs, seed, dim, cid, minD2)
        while (picked.length < k) {
          var bi = 0; var bv = minD2(0)
          var i = 1
          while (i < n) { // rows are id-ascending: strict > keeps the lowest id on ties
            if (minD2(i) > bv) { bv = minD2(i); bi = i }
            i += 1
          }
          val nxt = rows(bi)._2
          picked += nxt.clone()
          KmeansKernel.assignRows(xs, nxt, dim, cid, d2)
          i = 0
          while (i < n) {
            if (d2(i) < minD2(i)) minD2(i) = d2(i)
            i += 1
          }
        }
        picked.toArray
      case other => throw new IllegalArgumentException(
        s"initMethod must be 'hash', 'farthest' or 'scalable', got '$other'")
    }
    // per-element scale-9 longs computed once (the cached __vl column)
    val vl = rows.map(_._2.map(graft.plans.VecScale9Kernel.scale9))
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Long](k, dim)
      val counts = new Array[Long](k)
      KmeansKernel.assignRows(xs, Model(c).flat, dim, cid, d2)
      var r = 0
      while (r < n) {
        val best = cid(r)
        counts(best) += 1
        val l = vl(r)
        var d = 0
        while (d < dim) { sums(best)(d) += l(d); d += 1 }
        r += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) { // empty clusters keep their previous centroid
          var d = 0
          while (d < dim) {
            c(j)(d) = java.math.BigDecimal.valueOf(sums(j)(d), 9)
              .divide(java.math.BigDecimal.valueOf(counts(j)), 9,
                java.math.RoundingMode.HALF_UP).doubleValue
            d += 1
          }
        }
        j += 1
      }
      it += 1
    }
    Model(c)
  }

  /** `iters` Lloyd's iterations from the seeded init (`initMethod` =
    * "hash" for the md5-keyed sample, "farthest" for Gonzalez
    * farthest-first traversal — k <= [[farthestMaxK]] — or "scalable"
    * for the k-means||-style large-k init). Empty clusters keep their
    * previous centroid (the standard convention; the guard mirrors
    * `_merge_updates`' zero-denominator rule).
    *
    * Inputs of at most `localMaxRows` rows dispatch to the driver-local
    * twin ([[fitLocal]] — identical bits, see [[localFitMaxRows]]);
    * the k-means|| init always runs distributed (its O(rounds) scans
    * are the point of that path) with only the iteration loop going
    * local.
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
      // ONE tiny CollectLimit probe decides the dispatch: a constant
      // projection, so a LARGE input ships ≤ localMaxRows + 1 ints to
      // the driver (never 65k vectors) and proceeds distributed; a
      // small input pays one more cheap job to collect the real rows
      val small = localMaxRows > 0 && {
        val lim = (localMaxRows + 1).min(Int.MaxValue.toLong).toInt
        data.select(lit(1).as("__one")).limit(lim).count() <= localMaxRows
      }
      if (small) {
        val rows = data.select(col("__id"), col("__v")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        val scalableInit =
          if (initMethod == "scalable")
            // the rows are already collected (id-ascending) — run the
            // init's driver-local twin directly, zero further jobs
            // (defaults mirror initScalableCentroids' rounds/oversample)
            Some(initScalableLocal(rows, k, salt, rounds = 5, oversample = -1))
          else None
        fitLocal(rows, k, iters, salt, initMethod, scalableInit)
      } else {
        val c = initMethod match {
          case "farthest" => initFarthestCentroids(data, "__v", "__id", k, salt)
          // localMaxRows = 0: this branch is either genuinely above the
          // threshold or a forced-distributed caller — skip the probe
          // job and keep the distributed rounds in both cases
          case "scalable" =>
            initScalableCentroids(data, "__v", "__id", k, salt,
              localMaxRows = 0L)
          case _ => initCentroids(data, "__v", "__id", k, salt)
        }
        val dim = c(0).length
        // the per-iteration aggregate's reduce side is k buffers of
        // (dim+1) longs — constant at any corpus scale. Run the loop on
        // a child session with AQE off (its stage barrier costs one
        // extra job per iteration and has nothing to adapt: the key
        // space is ≤ k integers) and the exchange sized to that key
        // space, never above the caller's default (LoopSession doc)
        val dataLoop = LoopSession.rebase(data, k)
        var it = 0
        while (it < iters) {
          val flat = Model(c).flat
          val sums = dataLoop
            .select(KmeansFunctions.kmeans_assign(col("__v"), flat, dim)
              .getField("cid").as("cid"), col("__vl"))
            .groupBy("cid")
            .agg(KmeansFunctions.vec_sum_count(col("__vl"), dim).as("sc"))
            .select(col("cid"), col("sc.sums"), col("sc.n"))
            .collect()
          sums.foreach { r =>
            val cid = r.getInt(0)
            val s = r.getSeq[Long](1)
            val nn = r.getLong(2)
            var d = 0
            while (d < dim) {
              // BigDecimal(unscaled, 9) / n at scale 9 HALF_UP — the same
              // numbers the DECIMAL(28,9)-sum spelling produced
              c(cid)(d) = java.math.BigDecimal.valueOf(s(d), 9)
                .divide(java.math.BigDecimal.valueOf(nn), 9,
                  java.math.RoundingMode.HALF_UP).doubleValue
              d += 1
            }
          }
          it += 1
        }
        Model(c)
      }
    } finally { data.unpersist(); () }
  }

  /** One assignment-and-reduce pass: per cluster, the exact scale-9
    * per-dimension sums and member count of `df` under `model`'s
    * centroids — the building block of one Lloyd's iteration, exposed
    * for incremental (micro-batch) training. Collects ≤ k rows.
    */
  def assignSums(df: DataFrame, vecCol: String, idCol: String,
                 model: Model): Seq[(Int, Array[Long], Long)] =
    slim(df, vecCol, idCol)
      .select(KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
        .getField("cid").as("cid"),
        KmeansFunctions.vec_scale9(col("__v")).as("__vl"))
      .groupBy("cid")
      .agg(KmeansFunctions.vec_sum_count(col("__vl"), model.dim).as("sc"))
      .select(col("cid"), col("sc.sums"), col("sc.n"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))

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
    // assignment inline, ONE scan (vector kept alongside its cell) —
    // the persisted-index deployment replaces this with a pruned read
    val assigned = slim(df, vecCol, idCol)
      .select(col("__id").as("vec_id"), col("__v").as("vec"),
        KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
          .getField("cid").cast("long").as("cid"))
    topKAssigned(assigned, model, "vec", "vec_id", queries, k, nProbe)
  }

  /** Persist the assigned corpus partitioned by cell — the build half
    * of the repeated-query IVF deployment (the k-means sibling of
    * [[Similarity.writeAssignedIndex]]): serving reads back through
    * [[topKAssigned]] and the probe `isin` becomes a STATIC partition
    * filter, so only the probed cells' directories are ever listed.
    */
  def writeAssignedIndex(df: DataFrame, vecCol: String, idCol: String,
                         model: Model, path: String,
                         filesPerCell: Int = Similarity.defaultFilesPerCell): Unit = {
    require(filesPerCell > 0,
      s"filesPerCell must be positive, got $filesPerCell")
    // cell-clustered shuffle before the partitioned write: bounds the
    // layout to ≤ k x filesPerCell files instead of tasks x cells (see
    // Similarity.clusterByCell — same rationale, measured 5x on the
    // write + fewer files for every future pruned serve); the
    // content-derived salt keeps hot cells spread over filesPerCell
    // tasks and task retries deterministic
    slim(df, vecCol, idCol)
      .select(col("__id").as("vec_id"), col("__v").as("vec"),
        KmeansFunctions.kmeans_assign(col("__v"), model.flat, model.dim)
          .getField("cid").cast("long").as("cid"))
      .repartition(col("cid"), pmod(xxhash64(col("vec_id")), lit(filesPerCell)))
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
    require(k > 0, s"topKAssigned needs k > 0, got $k")
    require(nProbe > 0, s"topKAssigned needs nProbe > 0, got $nProbe")
    require(queries.nonEmpty, "topKAssigned needs at least one query")
    val spark = assigned.sparkSession
    val probe = queries.flatMap { case (qid, q) =>
      model.nearest(q, nProbe).map(c => (qid, c.toLong))
    }
    val probeDf = spark.createDataFrame(probe).toDF("qid", "cid")
    val qDf = spark.createDataFrame(
      queries.map { case (qid, v) => (qid, v.toSeq) }).toDF("qid", "qv")
    val probedCells = probe.map(_._2).distinct
    // bounded-heap top-k on (-sim, nid): ascending heap order ==
    // (sim desc, nid asc). A per-qid row_number window would funnel
    // each query's ENTIRE probed-cell candidate set through one task;
    // the aggregate reduces every partition to <= k pairs per query
    // BEFORE the exchange (the BM25/DSIR selection shape).
    assigned.where(col("cid").isin(probedCells: _*))
      .join(broadcast(probeDf), "cid")
      .join(broadcast(qDf), "qid")
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).cast("long").as("nid"),
        graft.plans.VecFunctions.vec_cosine(col(vecCol), col("qv")).as("sim"))
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("p.id").as("nid"), round(negate(col("p.s")), 6).as("sim"))
  }
}
