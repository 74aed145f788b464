package graft.som

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** SOM estimator configuration. Defaults mirror the reference constructor
  * (`xpysom.py:73-82`): sigma=0 ⇒ min(x,y)/2 (`xpysom.py:178-181`),
  * sigmaN=1, lr=0.5→0.01, exponential decay, gaussian neighborhood,
  * std_coeff=0.5, rectangular topology, partial-euclidean activation
  * distance.
  */
final case class SomConfig(
    x: Int,
    y: Int,
    sigma: Double = 0.0,
    sigmaN: Double = 1.0,
    learningRate: Double = 0.5,
    learningRateN: Double = 0.01,
    decay: String = "exponential",
    neighborhood: String = "gaussian",
    stdCoeff: Double = 0.5,
    topology: String = "rectangular",
    distance: String = "euclidean",
    normP: Double = 2.0,
    compactSupport: Boolean = false,
    seed: Long = 0L,
    /** Rows per in-partition sub-batch — the analogue of the reference's
      * `n_parallel` mini-batch (`xpysom.py:140-144,242-251`): bounds the
      * transient (batch x neurons) activation-distance matrix, NOT the
      * parallelism (partitions are the unit of parallelism here). The
      * update itself keeps only per-winner sums (k x dim), whatever the
      * batch size; the per-epoch neighbourhood spread builds its table
      * at most `batchSize` winners at a time.
      */
    batchSize: Int = 2048,
    /** Inputs whose total value count (rows x dim) is at or under this
      * threshold train DRIVER-LOCALLY: one fused Spark job collects the
      * partitions (with their ids), then every epoch runs on the driver
      * with the SAME kernels and the SAME combine topology — results
      * are bit-identical to the distributed path, but the
      * 1-job-per-epoch scheduling floor (which dwarfs the arithmetic on
      * tiny inputs: r8 measured 0.5 s for 10 epochs over 2,000 rows vs
      * 0.027 s in-core) disappears. The analogue of the reference's
      * in-core path (`xpysom.py:560-575`). 0 disables the fast path.
      * Execution knob only — not part of the saved model params.
      */
    localFitThreshold: Long = 2000000L,
    /** Tree depth for the per-epoch deterministic (sums, counts) combine;
      * 2 keeps driver fan-in bounded at cluster scale (the reference's
      * dask path does a flat single-node sum, `xpysom.py:545-558`).
      */
    treeDepth: Int = 2) {

  def sigma0: Double = if (sigma == 0) math.min(x, y) / 2.0 else sigma

  def topo: Topology = Topology(topology, x, y)
  def decayFn: Decay = Decay(decay)
  def distanceFn: Distance = Distances(distance, normP)
  def neighborhoodFn: Neighborhood =
    Neighborhoods(neighborhood, topo, stdCoeff, compactSupport)

  /** Validation at construction, mirroring `xpysom.py:164-165,196-231`. */
  def validated: SomConfig = {
    if (sigma >= x || sigma >= y)
      System.err.println("Warning: sigma is too high for the dimension of the map.")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(localFitThreshold >= 0,
      s"localFitThreshold must be >= 0, got $localFitThreshold")
    require(treeDepth >= 1, s"treeDepth must be >= 1, got $treeDepth")
    topo; decayFn; distanceFn; neighborhoodFn
    this
  }
}

/** Batch-SOM trainer: one Spark job per epoch — broadcast the codebook,
  * per-partition batched pass (distances → winners → per-winner row sums
  * and counts), deterministic elementwise tree combine of
  * (sums, counts), then on the driver the neighbourhood spread
  * num = Hᵀ·sums, den = Hᵀ·counts through the k x k neighbourhood table
  * H and the guarded-division merge. The reference applies the
  * neighbourhood per row, as an n x k weight matrix G with num = Gᵀ·X
  * (`xpysom.py:420-443`); since every row of G is its winner's row of H,
  * summing rows per winner first (Kohonen's Voronoi-set batch map) gives
  * the same sums for n·dim additions instead of an n·k·dim gemm.
  * Dataflow per `xpysom.py:458-594` re-expressed as the idiomatic MLlib
  * broadcast+aggregate pattern; the per-partition sub-batching replaces
  * the reference's `n_parallel` chunking (`xpysom.py:560-575`) and the
  * tree combine replaces dask's delayed flat sum (`xpysom.py:545-558`).
  */
final class Som(val config: SomConfig) extends Serializable {
  config.validated

  /** Train epochs [iterBeg, iterEnd) of a `numEpochs`-epoch schedule
    * (`xpysom.py:458-476`): the decay functions are evaluated at the
    * absolute epoch index over `numEpochs`, so
    * `fit(…, 10, iterEnd = 5)` followed by
    * `fit(…, 10, init = m.codebook, iterBeg = 5)` is bit-identical to a
    * single `fit(…, 10)` — the checkpoint/resume contract. `iterEnd = -1`
    * (default) means `numEpochs`. `init` overrides the default seeded
    * uniform-normalized initialization (`xpysom.py:188-190`).
    */
  def fit(df: DataFrame, featuresCol: String = "features", numEpochs: Int,
          init: Codebook = null, verbose: Boolean = false,
          iterBeg: Int = 0, iterEnd: Int = -1): SomModel = {
    require(numEpochs >= 1, s"numEpochs must be >= 1, got $numEpochs")
    val end = if (iterEnd < 0) numEpochs else iterEnd
    require(iterBeg >= 0 && iterBeg <= end && end <= numEpochs,
      s"need 0 <= iterBeg ($iterBeg) <= iterEnd ($end) <= numEpochs ($numEpochs)")
    // float32 vectors: half the cache footprint of double, and exactly
    // the reference's training dtype (`xpysom.py:485,510`); all math
    // still runs in double inside the kernels
    // tiny-input fast path, tried BEFORE any RDD conversion: ONE job
    // over the same physical plan `toFloatVectors` would execute either
    // collects the whole input (with partition ids — bit-identity with
    // the distributed path depends on replaying the same partition
    // structure) or proves it is too big. Probing the DataFrame
    // directly (internal rows, no Dataset encoder) halves the
    // fixed-cost floor vs converting to the vector RDD first.
    val probed = Som.collectIfSmallDf(df, featuresCol, config.localFitThreshold)
    probed match {
      case Some((chunks, numParts)) =>
        val dim = chunks.iterator.flatMap(_._2.iterator).next().length
        val cb0 = Option(init).getOrElse(
          Codebook.randomUniform(config.x, config.y, dim, config.seed))
        require(cb0.dim == dim, s"Received $dim features, expected ${cb0.dim}.")
        require(cb0.x == config.x && cb0.y == config.y,
          s"init codebook grid ${cb0.x}x${cb0.y} does not match config ${config.x}x${config.y}")
        val model = new SomModel(config,
          fitLocalChunks(chunks, numParts, cb0, numEpochs, verbose, iterBeg, end))
        if (verbose)
          println(s"\n quantization error: ${model.quantizationError(df, featuresCol)}")
        return model
      case None => ()
    }
    val data = SomData.toFloatVectors(df, featuresCol)
    data.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = data.take(1)
      require(first.nonEmpty, "cannot fit a SOM on an empty dataset")
      val dim = first.head.length
      val cb0 = Option(init).getOrElse(
        Codebook.randomUniform(config.x, config.y, dim, config.seed))
      require(cb0.dim == dim, s"Received $dim features, expected ${cb0.dim}.")
      require(cb0.x == config.x && cb0.y == config.y,
        s"init codebook grid ${cb0.x}x${cb0.y} does not match config ${config.x}x${config.y}")
      val model = new SomModel(config,
        fitFrom(data, cb0, numEpochs, verbose, iterBeg, end))
      // end-of-train QE print (`xpysom.py:591-592`)
      if (verbose)
        println(s"\n quantization error: ${model.quantizationError(df, featuresCol)}")
      model
    } finally data.unpersist(blocking = false)
  }

  /** In-core training on an already-materialized matrix — the direct
    * analogue of the reference's own API, which trains on in-memory
    * arrays (`xpysom.py:560-575` processes them in `n_parallel`
    * batches on one node). Zero Spark jobs: the epoch loop is
    * [[fitLocalChunks]] over one chunk, the same kernels the cluster
    * path runs. Use this when the data already lives on the driver
    * (notebook-scale exploration, per-group sub-SOMs inside a larger
    * job); `fit` remains the entry point for anything DataFrame-shaped
    * and dispatches to this regime automatically under
    * `localFitThreshold`.
    */
  def fitMatrix(data: Array[Array[Float]], numEpochs: Int,
                init: Codebook = null, verbose: Boolean = false,
                iterBeg: Int = 0, iterEnd: Int = -1): SomModel = {
    require(numEpochs >= 1, s"numEpochs must be >= 1, got $numEpochs")
    require(data.nonEmpty, "cannot fit a SOM on an empty dataset")
    val end = if (iterEnd < 0) numEpochs else iterEnd
    require(iterBeg >= 0 && iterBeg <= end && end <= numEpochs,
      s"need 0 <= iterBeg ($iterBeg) <= iterEnd ($end) <= numEpochs ($numEpochs)")
    val dim = data(0).length
    data.foreach(v => require(v.length == dim,
      s"Received ${v.length} features, expected $dim."))
    val cb0 = Option(init).getOrElse(
      Codebook.randomUniform(config.x, config.y, dim, config.seed))
    require(cb0.dim == dim, s"Received $dim features, expected ${cb0.dim}.")
    require(cb0.x == config.x && cb0.y == config.y,
      s"init codebook grid ${cb0.x}x${cb0.y} does not match config ${config.x}x${config.y}")
    new SomModel(config,
      fitLocalChunks(Array((0, data)), 1, cb0, numEpochs, verbose, iterBeg, end))
  }

  /** Driver-local epoch loop over the collected partition chunks: the
    * SAME `partitionUpdate` kernel per original partition, the SAME
    * combine topology (`foldDeterministicLocal` replays
    * `reduceDeterministic` exactly), the SAME `spread` and guarded merge
    * — so the trained codebook is bit-identical to what the distributed
    * path would produce on the same RDD (`SomLocalFitSpec` pins it),
    * with zero Spark jobs per epoch.
    */
  private def fitLocalChunks(chunks: Array[(Int, Array[Array[Float]])],
                             numPartitions: Int, init: Codebook,
                             numEpochs: Int, verbose: Boolean,
                             iterBeg: Int, iterEnd: Int): Codebook = {
    val cfg = config
    var cb = init
    var t = iterBeg
    val begin = System.nanoTime()
    while (t < iterEnd) {
      val eta = cfg.decayFn(cfg.learningRate, cfg.learningRateN, t, numEpochs)
      val sig = cfg.decayFn(cfg.sigma0, cfg.sigmaN, t, numEpochs)
      val wSq = if (cfg.distanceFn.canCache) cb.rowSumSq() else null
      val w = cb.weights
      val partials = chunks.toSeq.map { case (pid, rows) =>
        pid -> SomKernels.partitionUpdate(rows.iterator, w, wSq, cfg)
      }
      val (sums, counts) = SomKernels.foldDeterministicLocal(
        partials, numPartitions, cfg.treeDepth)(SomKernels.addPartial)
      val (num, den) = SomKernels.spread(sums, counts, cfg, eta, sig)
      cb = cb.merged(num, den)
      if (verbose) println(Som.progressLine(t - iterBeg, iterEnd - iterBeg,
        numEpochs, (System.nanoTime() - begin) / 1e9))
      t += 1
    }
    cb
  }

  /** Epoch loop over an already-materialized vector RDD: epochs
    * [iterBeg, iterEnd) of the `numEpochs` decay schedule.
    */
  private[graft] def fitFrom(data: RDD[Array[Float]], init: Codebook,
                             numEpochs: Int, verbose: Boolean = false,
                             iterBeg: Int = 0, iterEnd: Int = -1): Codebook = {
    val end = if (iterEnd < 0) numEpochs else iterEnd
    var cb = init
    var t = iterBeg
    val begin = System.nanoTime()
    while (t < end) {
      cb = epoch(data, cb, t, numEpochs)
      if (verbose) println(Som.progressLine(t - iterBeg, end - iterBeg,
        numEpochs, (System.nanoTime() - begin) / 1e9))
      t += 1
    }
    cb
  }

  /** One training epoch (one Spark job): broadcast codebook (+ wSq
    * cache), per-partition update, deterministic tree-combine of
    * (sums, counts), neighbourhood spread and merge on the driver.
    * Exposed for incremental/streaming training where each micro-batch
    * advances the decay schedule by one step.
    *
    * The fan-in is a fixed-topology tree keyed by partition id (partials
    * sorted before every fold) rather than `treeReduce`, whose combine
    * order follows shuffle-block arrival and therefore perturbs the
    * float sum by ~1 ulp from run to run. Same shuffle volume and
    * bounded driver fan-in, plus bit-reproducible training — which the
    * resume contract (`fit(iterBeg/iterEnd)`) and the seeded-determinism
    * guarantee both rely on.
    */
  private[graft] def epoch(data: RDD[Array[Float]], cb: Codebook, t: Int,
                           numEpochs: Int): Codebook = {
    val sc = data.sparkContext
    val cfg = config
    val eta = cfg.decayFn(cfg.learningRate, cfg.learningRateN, t, numEpochs)
    val sig = cfg.decayFn(cfg.sigma0, cfg.sigmaN, t, numEpochs)
    val wSq = if (cfg.distanceFn.canCache) cb.rowSumSq() else null
    val bc = sc.broadcast((cb.weights, wSq))
    try {
      val partials = data.mapPartitionsWithIndex { (pid, it) =>
        val (w, wsq) = bc.value
        Iterator.single(pid -> SomKernels.partitionUpdate(it, w, wsq, cfg))
      }
      val (sums, counts) = SomKernels.reduceDeterministic(
        partials, data.getNumPartitions, cfg.treeDepth)(SomKernels.addPartial)
      val (num, den) = SomKernels.spread(sums, counts, cfg, eta, sig)
      cb.merged(num, den)
    } finally bc.destroy() // don't leak the broadcast on job failure
  }

  /** Sample init (`random_weights_init`, `xpysom.py:749-759`): draw x*y
    * rows uniformly with replacement (distributed `takeSample`), one per
    * neuron in row-major order.
    */
  def sampleInit(df: DataFrame, featuresCol: String = "features"): Codebook = {
    val rows = SomData.toVectors(df, featuresCol)
      .takeSample(withReplacement = true, config.x * config.y, config.seed)
    Codebook.fromRows(config.x, config.y, rows.toSeq)
  }

  /** Sample covariance (N-1 normalization) of the feature column via a
    * single distributed pass (deterministic tree-reduce of
    * (x xᵀ, Σx, n) partials — bit-reproducible across runs like the
    * training path). Public: the pca-init invariant oracle recomputes
    * eigen-residuals against it.
    */
  def sampleCovariance(df: DataFrame,
                       featuresCol: String = "features"): (Array[Array[Double]], Long) = {
    val data = SomData.toVectors(df, featuresCol)
    val first = data.take(1)
    require(first.nonEmpty, "cannot compute covariance of an empty dataset")
    val d = first.head.length
    val partials = data.mapPartitionsWithIndex { (pid, it) =>
      val m = new Array[Double](d * d)
      val s = new Array[Double](d)
      var c = 0L
      it.foreach { v =>
        var i = 0
        while (i < d) {
          s(i) += v(i)
          var j = 0
          val base = i * d
          while (j < d) { m(base + j) += v(i) * v(j); j += 1 }
          i += 1
        }
        c += 1
      }
      Iterator.single(pid -> ((m, s, c)))
    }
    val (xtx, sums, n) = SomKernels.reduceDeterministic(
      partials, data.getNumPartitions, config.treeDepth) {
      case ((m1, s1, c1), (m2, s2, c2)) =>
        SomKernels.addInPlace(m1, m2); SomKernels.addInPlace(s1, s2)
        (m1, s1, c1 + c2)
    }
    require(n > 1, "covariance needs at least 2 samples")
    (Array.tabulate(d, d) { (i, j) =>
      (xtx(i * d + j) - sums(i) * sums(j) / n) / (n - 1)
    }, n)
  }

  /** PCA init (`pca_weights_init`, `xpysom.py:762-785`): sample
    * covariance via `sampleCovariance`, then the reference's
    * eigen-combination on the driver (including its row-indexing quirk —
    * see Codebook.pcaFromCov).
    */
  def pcaInit(df: DataFrame, featuresCol: String = "features"): Codebook =
    Codebook.pcaFromCov(config.x, config.y, sampleCovariance(df, featuresCol)._1)

  /** MiniSom-compat aliases (`xpysom.py:597-605`). */
  def trainBatch(df: DataFrame, featuresCol: String, numEpochs: Int): SomModel =
    fit(df, featuresCol, numEpochs)
  def trainRandom(df: DataFrame, featuresCol: String, numEpochs: Int): SomModel = {
    System.err.println("WARNING: due to batch SOM algorithm, random order is not " +
      "supported. Falling back to train_batch.")
    fit(df, featuresCol, numEpochs)
  }
}

object Som {
  /** Partition-count guard for the fast-path probe: above this, the
    * worst-case driver transfer (every task just under the cap while
    * the total overflows) stops being negligible, and an input spread
    * over this many partitions is not "tiny" anyway.
    */
  val localFitMaxPartitions = 64

  /** DataFrame-level fast-path probe: same cap-and-collect contract as
    * [[collectIfSmall]], but reads the query's INTERNAL rows directly
    * (`queryExecution.toRdd` over the same where+cast plan
    * `SomData.toFloatVectors` executes) — no Dataset-encoder planning
    * and no second plan compilation, which halves the fixed-cost floor
    * of a tiny fit. Partitioning is the physical scan's, identical to
    * the RDD `toFloatVectors` would produce (no exchange in between),
    * so the collected chunks replay the same partition structure the
    * distributed path would see — the bit-identity contract
    * (`SomLocalFitSpec`). Array-typed feature columns only; other
    * containers (VectorUDT, struct) return None and take the RDD path.
    */
  private[som] def collectIfSmallDf(df: DataFrame, featuresCol: String,
      threshold: Long): Option[(Array[(Int, Array[Array[Float]])], Int)] = {
    import org.apache.spark.sql.functions.{col => c}
    if (threshold <= 0) return None
    df.schema(featuresCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => ()
      case _ => return None
    }
    val rdd = df.where(c(featuresCol).isNotNull)
      .select(c(featuresCol).cast("array<float>"))
      .queryExecution.toRdd
    if (rdd.getNumPartitions > localFitMaxPartitions) return None
    val parts = rdd.mapPartitionsWithIndex { (pid, it) =>
      val buf = scala.collection.mutable.ArrayBuffer[Array[Float]]()
      var nVals = 0L
      var overflow = false
      while (it.hasNext && !overflow) {
        val ad = it.next().getArray(0)
        val n = ad.numElements()
        // null ELEMENTS must fail exactly like the Dataset encoder on
        // the distributed path (ArrayData.toFloatArray would silently
        // read them as 0.0)
        var i = 0
        while (i < n) {
          if (ad.isNullAt(i))
            throw new NullPointerException(
              s"Null value appeared in non-nullable field: $featuresCol element")
          i += 1
        }
        val v = ad.toFloatArray()
        nVals += v.length
        if (nVals <= threshold) buf += v else overflow = true
      }
      Iterator.single((pid, if (overflow) null else buf.toArray))
    }.collect().sortBy(_._1)
    if (parts.exists(_._2 == null)) return None
    val totalVals = parts.iterator.flatMap(_._2.iterator).map(_.length.toLong).sum
    require(totalVals > 0, "cannot fit a SOM on an empty dataset")
    if (totalVals <= threshold) Some((parts, rdd.getNumPartitions)) else None
  }

  /** The fast-path probe: one job that returns every partition (with
    * its id, empty partitions included) when the input's total value
    * count is at or under `threshold`, or None when it is not. Each
    * task stops buffering the moment its own running value count
    * exceeds the threshold — an oversized partition costs its scan (on
    * the persisted cache the epoch loop was about to scan anyway), not
    * a driver transfer.
    */
  private[som] def collectIfSmall(data: RDD[Array[Float]], threshold: Long)
      : Option[Array[(Int, Array[Array[Float]])]] = {
    if (threshold <= 0 || data.getNumPartitions > localFitMaxPartitions)
      return None
    val parts = data.mapPartitionsWithIndex { (pid, it) =>
      val buf = scala.collection.mutable.ArrayBuffer[Array[Float]]()
      var nVals = 0L
      var overflow = false
      while (it.hasNext && !overflow) {
        val v = it.next()
        nVals += v.length
        if (nVals <= threshold) buf += v else overflow = true
      }
      Iterator.single((pid, if (overflow) null else buf.toArray))
    }.collect().sortBy(_._1)
    if (parts.exists(_._2 == null)) return None
    val totalVals = parts.iterator.flatMap(_._2.iterator).map(_.length.toLong).sum
    require(totalVals > 0, "cannot fit a SOM on an empty dataset")
    if (totalVals <= threshold) Some(parts) else None
  }

  /** Reference-format progress line (`print_progress`, `xpysom.py:50-69`)
    * at epoch granularity: `[ t / T ] p% - H:MM:SS elapsed - H:MM:SS left`.
    * `done` epochs of `toRun` have finished in this call; `totalEpochs`
    * only sets the index padding width (parity with the reference's
    * digit-aligned counter).
    */
  private[graft] def progressLine(done: Int, toRun: Int, totalEpochs: Int,
                                  elapsedSec: Double): String = {
    val t = done + 1
    val digits = totalEpochs.toString.length
    val secLeft = (toRun - t) * elapsedSec / t
    val pct = math.round(100.0 * t / toRun)
    s" [ ${String.format(s"%${digits}d", Int.box(t))} / $toRun ] " +
      f"$pct%3d%% - ${hms(elapsedSec)} elapsed - ${hms(secLeft)} left"
  }

  private def hms(sec: Double): String = {
    val s = math.max(sec, 0.0).toLong
    f"${s / 3600}:${s % 3600 / 60}%02d:${s % 60}%02d"
  }
}

/** Per-partition numeric kernels for training. Serializable: the
  * deterministic-combine closures reference the module from executors.
  */
private[som] object SomKernels extends Serializable {

  def addInPlace(a: Array[Double], b: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
  }

  type Partial = (Array[Double], Array[Double])

  /** Deterministic tree-combine of per-partition partials: group
    * `fanout` adjacent partition ids per level, sort each group by id,
    * fold left; repeat until at most `fanout` partials remain, then
    * collect (sorted) and fold on the driver. Combine topology depends
    * only on (width, depth) — never on shuffle arrival order — so the
    * float sum is bit-reproducible across runs and resumes, unlike
    * `RDD.treeReduce`/`treeAggregate`. Fan-in stays bounded
    * (`fanout` ≈ width^(1/depth)) for cluster-scale partition counts.
    * `comb` may mutate and return its left argument (both operands are
    * task-local deserialized copies).
    */
  def reduceDeterministic[T: scala.reflect.ClassTag](
      parts: RDD[(Int, T)], width0: Int, depth: Int)(comb: (T, T) => T): T = {
    val fanout = math.max(
      math.ceil(math.pow(width0.toDouble, 1.0 / math.max(depth, 1))).toInt, 2)
    var cur = parts
    var width = width0
    while (width > fanout) {
      val nextWidth = (width + fanout - 1) / fanout
      cur = cur
        .map { case (pid, v) => (pid / fanout, (pid, v)) }
        .groupByKey(nextWidth)
        .map { case (gid, it) =>
          gid -> it.toArray.sortBy(_._1).map(_._2).reduceLeft(comb)
        }
      width = nextWidth
    }
    val fin = cur.collect().sortBy(_._1).map(_._2)
    require(fin.nonEmpty, "no partials to reduce (empty RDD)")
    fin.reduceLeft(comb)
  }

  /** Driver-local replay of [[reduceDeterministic]]'s combine topology
    * over in-memory partials: same fanout, same adjacent-id grouping,
    * same sorted fold order at every level — so the float sum is
    * BIT-IDENTICAL to the distributed reduce (combine topology depends
    * only on (width0, depth), never on where the partials live). The
    * tiny-input local fit relies on this equality; a change here must
    * mirror [[reduceDeterministic]] exactly.
    */
  def foldDeterministicLocal[T](parts: Seq[(Int, T)], width0: Int,
                                depth: Int)(comb: (T, T) => T): T = {
    val fanout = math.max(
      math.ceil(math.pow(width0.toDouble, 1.0 / math.max(depth, 1))).toInt, 2)
    var cur = parts
    var width = width0
    while (width > fanout) {
      val nextWidth = (width + fanout - 1) / fanout
      cur = cur.groupBy(_._1 / fanout).toSeq.map { case (gid, group) =>
        gid -> group.sortBy(_._1).map(_._2).reduceLeft(comb)
      }
      width = nextWidth
    }
    val fin = cur.sortBy(_._1).map(_._2)
    require(fin.nonEmpty, "no partials to reduce (empty input)")
    fin.reduceLeft(comb)
  }

  /** One partition's per-winner partial for one epoch: iterate the
    * partition in `batchSize` sub-batches; per batch compute activation
    * distances and first-index argmin winners, then add each row into
    * its winner's `sums` row (k x dim, row-major) and `counts` entry.
    * This is the Voronoi-set form of the batch map: every row's
    * neighbourhood weights depend only on its winner, so the epoch
    * needs only per-winner sums — the neighbourhood is applied once, to
    * the combined sums, by [[spread]]. Buffers are reused across
    * sub-batches (`xpysom.py:516-527`).
    */
  def partitionUpdate(it: Iterator[Array[Float]], w: Array[Double],
                      wSq: Array[Double], cfg: SomConfig): Partial = {
    val k = cfg.x * cfg.y
    val dim = w.length / k
    val dist = cfg.distanceFn
    val bs = cfg.batchSize
    val sums = new Array[Double](k * dim)
    val counts = new Array[Double](k)
    val xBuf = new Array[Double](bs * dim)
    val dBuf = new Array[Double](bs * k)
    val wins = new Array[Int](bs)
    while (it.hasNext) {
      var n = 0
      while (n < bs && it.hasNext) {
        val row = it.next()
        if (row.length != dim)
          throw new IllegalArgumentException(
            s"Received ${row.length} features, expected $dim.")
        var c = 0
        val base = n * dim
        while (c < dim) { xBuf(base + c) = row(c); c += 1 }
        n += 1
      }
      dist.compute(xBuf, n, w, k, dim, wSq, dBuf)
      Distances.argminRows(dBuf, n, k, wins)
      var s = 0
      while (s < n) {
        val win = wins(s)
        counts(win) += 1.0
        val src = s * dim
        val dst = win * dim
        var c = 0
        while (c < dim) { sums(dst + c) += xBuf(src + c); c += 1 }
        s += 1
      }
    }
    (sums, counts)
  }

  /** Combine for [[partitionUpdate]] partials: elementwise sum into the
    * left operand.
    */
  def addPartial(a: Partial, b: Partial): Partial = {
    addInPlace(a._1, b._1); addInPlace(a._2, b._2); a
  }

  /** The epoch's (num, den) from the combined per-winner (sums, counts):
    * with H the k x k neighbourhood table scaled by eta (row i = the
    * weights every neuron gets when neuron i wins), den = Hᵀ·counts and
    * num = Hᵀ·sums. The reference builds the per-row weights G (n x k)
    * and accumulates den = Σ_s G[s] and num = Gᵀ·X (`xpysom.py:420-443`);
    * G[s] = H[win(s)] by construction, so both forms are the same sum
    * regrouped by winner, for every neighbourhood, topology, distance and
    * compact-support setting. Only occupied neurons' rows of H are
    * built, `batchSize` winners at a time, so the spread never costs
    * more than the per-row form would.
    */
  def spread(sums: Array[Double], counts: Array[Double], cfg: SomConfig,
             eta: Double, sig: Double): Partial = {
    val k = cfg.x * cfg.y
    val dim = sums.length / k
    val neigh = cfg.neighborhoodFn
    val num = new Array[Double](k * dim)
    val den = new Array[Double](k)
    val occupied = (0 until k).filter(counts(_) != 0.0).toArray
    val bs = math.min(cfg.batchSize, occupied.length)
    val sBuf = new Array[Double](bs * dim)
    val hBuf = new Array[Double](bs * k)
    val winI = new Array[Int](bs)
    val winJ = new Array[Int](bs)
    var off = 0
    while (off < occupied.length) {
      val m = math.min(bs, occupied.length - off)
      var b = 0
      while (b < m) {
        val win = occupied(off + b)
        winI(b) = win / cfg.y; winJ(b) = win % cfg.y
        System.arraycopy(sums, win * dim, sBuf, b * dim, dim)
        b += 1
      }
      neigh.compute(winI, winJ, m, sig, hBuf)
      b = 0
      while (b < m * k) { hBuf(b) *= eta; b += 1 }
      b = 0
      while (b < m) {
        val cnt = counts(occupied(off + b))
        val base = b * k
        var j = 0
        while (j < k) { den(j) += hBuf(base + j) * cnt; j += 1 }
        b += 1
      }
      // num (k x dim, row-major) += H_blockᵀ (k x m) * S_block (m x dim):
      // column-major view numᵀ (dim x k) = S_blockᵀ (dim x m) * H_block (m x k).
      Distances.blas.dgemm("N", "T", dim, k, m, 1.0, sBuf, dim, hBuf, k, 1.0, num, dim)
      off += m
    }
    (num, den)
  }
}

/** Feature-column extraction: accepts array<float>, array<double>,
  * array<numeric>, or `ml.linalg.Vector` (VectorUDT) columns — the Spark
  * analogue of the reference's six-way container dispatch
  * (`xpysom.py:487-510`): any container normalizes to one vector type
  * before the math sees it.
  */
object SomData {
  /** float32 vectors — the training representation (reference dtype).
    * Null feature rows are skipped (they carry no information for the
    * update; the reference would crash on them).
    */
  def toFloatVectors(df: DataFrame, featuresCol: String): RDD[Array[Float]] = {
    df.schema.fieldIndex(featuresCol)
    df.schema(featuresCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        val spark = df.sparkSession
        import spark.implicits._
        df.where(org.apache.spark.sql.functions.col(featuresCol).isNotNull)
          .select(org.apache.spark.sql.functions.col(featuresCol)
          .cast("array<float>")).as[Array[Float]].rdd
      case _ =>
        df.select(featuresCol).rdd.map { r =>
          val d = rowToVec(r, 0)
          val out = new Array[Float](d.length)
          var i = 0
          while (i < d.length) { out(i) = d(i).toFloat; i += 1 }
          out
        }
    }
  }

  def toVectors(df: DataFrame, featuresCol: String): RDD[Array[Double]] = {
    df.schema.fieldIndex(featuresCol) // fail fast on missing column
    df.schema(featuresCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        // cast in codegen + primitive-array encoder: no per-element boxing
        val spark = df.sparkSession
        import spark.implicits._
        df.select(org.apache.spark.sql.functions.col(featuresCol)
          .cast("array<double>")).as[Array[Double]].rdd
      case _ => // VectorUDT and friends
        df.select(featuresCol).rdd.map(r => rowToVec(r, 0))
    }
  }

  def rowToVec(r: Row, idx: Int): Array[Double] = r.get(idx) match {
    case v: org.apache.spark.ml.linalg.Vector => v.toArray
    case seq: scala.collection.Seq[_] =>
      val out = new Array[Double](seq.length)
      var i = 0
      seq.foreach { v =>
        out(i) = v match {
          case f: Float  => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
          case null      => Double.NaN
        }
        i += 1
      }
      out
    case null => throw new IllegalArgumentException(
      s"null features at column index $idx")
    case other => throw new IllegalArgumentException(
      s"unsupported features type ${other.getClass.getName}: expected " +
        "array<numeric> or ml.linalg.Vector")
  }
}
