package graft.som

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.ArrayType

import graft.Parts

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
    /** Inputs of at most this many feature values (rows x dim) train on
      * the driver, by the rule of [[graft.Parts.load]]: every epoch then
      * runs the SAME kernels and exact merges ([[ExactSum]]) on the
      * driver, bit-identical to the distributed epochs, without the
      * 1-job-per-epoch scheduling floor (which dwarfs the arithmetic on
      * tiny inputs: r8 measured 0.5 s for 10 epochs over 2,000 rows vs
      * 0.027 s in-core). The analogue of the reference's in-core path
      * (`xpysom.py:560-575`). 0 keeps every input on the cluster.
      * Execution knob only — not part of the saved model params.
      */
    localFitThreshold: Long = 2000000L) {

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
    topo; decayFn; distanceFn; neighborhoodFn
    this
  }
}

/** Batch-SOM trainer: one Spark job per epoch over cached per-partition
  * blocks — broadcast the codebook, per-block batched pass (distances →
  * winners → exact per-winner row sums and counts, [[ExactSum]]), the
  * merge of those partials ([[graft.Parts]]), then on the driver the
  * neighbourhood spread num = Hᵀ·sums, den = Hᵀ·counts through the
  * k x k neighbourhood table H and the guarded-division merge. The
  * reference applies the neighbourhood per row, as an n x k weight
  * matrix G with num = Gᵀ·X (`xpysom.py:420-443`); since every row of G
  * is its winner's row of H, summing rows per winner first (Kohonen's
  * Voronoi-set batch map) gives the same sums for n·dim additions
  * instead of an n·k·dim gemm. Dataflow per `xpysom.py:458-594`: the
  * blocks are the reference's Dask blocks, the per-block sub-batching
  * replaces its `n_parallel` chunking (`xpysom.py:560-575`) and the
  * merge replaces dask's delayed flat sum (`xpysom.py:545-558`). Like
  * that sum, the merge may run in any order: the partials are exact and
  * each row's distances are a function of that row and the codebook
  * ([[Distances]]), so the codebook is a function of the rows and the
  * config alone, not of the partition layout (see [[epoch]]). Feature
  * values must be finite. The JVM must be started with
  * `--add-modules=jdk.incubator.vector`: the distance kernels run on the
  * Vector API.
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
    *
    * The input is read once into one float32 block per partition
    * ([[Som.trainingParts]]); the epochs run over those blocks, on the
    * cluster or on the driver (`localFitThreshold`).
    */
  def fit(df: DataFrame, featuresCol: String = "features", numEpochs: Int,
          init: Codebook = null, verbose: Boolean = false,
          iterBeg: Int = 0, iterEnd: Int = -1): SomModel = {
    val end = epochsEnd(numEpochs, iterBeg, iterEnd)
    val (data, dim) = Som.trainingParts(df, featuresCol, config.localFitThreshold)
    try {
      val model = new SomModel(config,
        train(data, dim, init, numEpochs, verbose, iterBeg, end))
      // end-of-train QE print (`xpysom.py:591-592`)
      if (verbose)
        println(s"\n quantization error: ${model.quantizationError(df, featuresCol)}")
      model
    } finally data.release()
  }

  /** In-core training on an already-materialized matrix — the direct
    * analogue of the reference's own API, which trains on in-memory
    * arrays (`xpysom.py:560-575` processes them in `n_parallel`
    * batches on one node). Zero Spark jobs: the epochs run over the
    * matrix as one block on the driver, the same kernels the cluster
    * path runs. Use this when the data already lives on the driver
    * (notebook-scale exploration, per-group sub-SOMs inside a larger
    * job); `fit` remains the entry point for anything DataFrame-shaped
    * and trains on the driver automatically under `localFitThreshold`.
    */
  def fitMatrix(data: Array[Array[Float]], numEpochs: Int,
                init: Codebook = null, verbose: Boolean = false,
                iterBeg: Int = 0, iterEnd: Int = -1): SomModel = {
    val end = epochsEnd(numEpochs, iterBeg, iterEnd)
    require(data.nonEmpty, "cannot fit a SOM on an empty dataset")
    val dim = data(0).length
    data.indices.foreach { r =>
      require(data(r).length == dim, s"Received ${data(r).length} features, expected $dim.")
      require(SomData.finite(data(r)), s"row $r holds a non-finite feature value")
    }
    new SomModel(config,
      train(Parts.Local(Vector(data)), dim, init, numEpochs, verbose, iterBeg, end))
  }

  /** The validated end of the epoch range [iterBeg, iterEnd). */
  private def epochsEnd(numEpochs: Int, iterBeg: Int, iterEnd: Int): Int = {
    require(numEpochs >= 1, s"numEpochs must be >= 1, got $numEpochs")
    val end = if (iterEnd < 0) numEpochs else iterEnd
    require(iterBeg >= 0 && iterBeg <= end && end <= numEpochs,
      s"need 0 <= iterBeg ($iterBeg) <= iterEnd ($end) <= numEpochs ($numEpochs)")
    end
  }

  /** Epochs [iterBeg, iterEnd) of the `numEpochs` decay schedule over
    * `dim`-feature blocks, from `init` or the seeded uniform codebook.
    */
  private def train(data: Parts[Array[Array[Float]]], dim: Int, init: Codebook,
                    numEpochs: Int, verbose: Boolean,
                    iterBeg: Int, iterEnd: Int): Codebook = {
    var cb = Option(init).getOrElse(
      Codebook.randomUniform(config.x, config.y, dim, config.seed))
    require(cb.dim == dim, s"Received $dim features, expected ${cb.dim}.")
    require(cb.x == config.x && cb.y == config.y,
      s"init codebook grid ${cb.x}x${cb.y} does not match config ${config.x}x${config.y}")
    var t = iterBeg
    val begin = System.nanoTime()
    while (t < iterEnd) {
      cb = epoch(data, cb, t, numEpochs).getOrElse(cb)
      if (verbose) println(Som.progressLine(t - iterBeg, iterEnd - iterBeg,
        numEpochs, (System.nanoTime() - begin) / 1e9))
      t += 1
    }
    cb
  }

  /** One training epoch: the codebook (+ wSq cache) to every block (one
    * broadcast on the cluster form), `partitionUpdate` per block, the
    * exact merge of the (sums, counts) partials ([[graft.Parts]]), then
    * the neighbourhood spread and merge on the driver. On cached cluster
    * blocks that is one Spark job, one stage up to five partitions; on
    * driver blocks, none. None when the blocks hold no row (the codebook
    * would not move). Exposed for incremental/streaming training where
    * each micro-batch advances the decay schedule by one step.
    *
    * The partials are exact ([[ExactSum]]), and each row's winner depends
    * on that row alone: the distance kernels compute a row's distances
    * by the same operations whatever the row's place in the batch, the
    * batch size and the CPU's vector width ([[Distances]]; `DistancesSpec`
    * and the layout spec in `SomSpec` pin it). An epoch then gives the
    * same bits over any layout of the same rows: any partitioning,
    * either form, any merge order — which the resume contract
    * (`fit(iterBeg/iterEnd)`), the seeded-determinism guarantee and the
    * driver-local fast path all rely on.
    */
  private[graft] def epoch(data: Parts[Array[Array[Float]]], cb: Codebook, t: Int,
                           numEpochs: Int): Option[Codebook] = {
    val cfg = config
    val eta = cfg.decayFn(cfg.learningRate, cfg.learningRateN, t, numEpochs)
    val sig = cfg.decayFn(cfg.sigma0, cfg.sigmaN, t, numEpochs)
    val wSq = if (cfg.distanceFn.canCache) cb.rowSumSq() else null
    val (sums, counts) = data.withShared((cb.weights, wSq)) { shared =>
      data.map { rows =>
        val (w, wsq) = shared()
        SomKernels.partitionUpdate(rows.iterator, w, wsq, cfg)
      }.reduce(SomKernels.merge)
    }
    if (counts.forall(_ == 0L)) None
    else {
      val (num, den) = SomKernels.spread(sums.values(), counts.map(_.toDouble), cfg, eta, sig)
      Some(cb.merged(num, den))
    }
  }

  /** Sample init (`random_weights_init`, `xpysom.py:749-759`): draw x*y
    * rows uniformly with replacement (distributed `takeSample`), one per
    * neuron in row-major order. Null feature rows are never drawn.
    */
  def sampleInit(df: DataFrame, featuresCol: String = "features"): Codebook = {
    val rows = SomData.toVectors(df, featuresCol)
      .takeSample(withReplacement = true, config.x * config.y, config.seed)
    Codebook.fromRows(config.x, config.y, rows.toSeq)
  }

  /** Sample covariance (N-1 normalization) of the feature column in one
    * distributed pass: per partition a [[SomKernels.Cov]] of exact sums
    * ([[ExactSum]]), merged by `treeReduce` ([[graft.Parts]]) — the
    * same bits over any partitioning, like the training path. The dim
    * is the first row's; an empty partition contributes nothing. Null
    * feature rows are skipped, as `fit` skips them; a row of another
    * length or a non-finite value fails, as in `fit`. Public: the
    * pca-init invariant oracle recomputes eigen-residuals against it.
    */
  def sampleCovariance(df: DataFrame,
                       featuresCol: String = "features"): (Array[Array[Double]], Long) = {
    val partials = SomData.toVectors(df, featuresCol).mapPartitions(it => Iterator(SomKernels.cov(it)))
    val total = Parts.of(partials, SomKernels.Cov.empty).reduce(_ merge _)
    require(total.dim >= 0, "cannot compute covariance of an empty dataset")
    require(total.finite, SomData.nonFinite(featuresCol))
    val (d, n) = (total.dim, total.n)
    require(n > 1, "covariance needs at least 2 samples")
    val v = total.sums.values()
    val tri = d * (d + 1) / 2
    (Array.tabulate(d, d) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      (v(SomKernels.Cov.at(d, a, b)) - v(tri + i) * v(tri + j) / n) / (n - 1)
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
  /** The training blocks of `df` ([[SomData.blocks]]) and their feature
    * count, loaded at `threshold` values (rows x dim) by
    * [[graft.Parts.load]], whose one job also returns each block's value
    * count, the dim of its first row and whether every value is finite.
    * The caller releases the result.
    */
  private[graft] def trainingParts(df: DataFrame, featuresCol: String,
      threshold: Long): (Parts[Array[Array[Float]]], Int) = {
    def values(b: Array[Array[Float]]): Long = b.iterator.map(_.length.toLong).sum
    val (data, firsts) = Parts.load(SomData.blocks(df, featuresCol),
      Array.empty[Array[Float]], threshold)(values,
      b => (values(b), if (b.isEmpty) -1 else b(0).length, b.forall(SomData.finite)))
    try {
      require(firsts.iterator.map(_._1).sum > 0, "cannot fit a SOM on an empty dataset")
      require(firsts.forall(_._3), SomData.nonFinite(featuresCol))
      (data, firsts.iterator.map(_._2).find(_ >= 0).get)
    } catch { case e: Throwable => data.release(); throw e }
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
  * epoch's closures reference the module from executors.
  */
private[som] object SomKernels extends Serializable {

  type Partial = (Array[Double], Array[Double])

  private lazy val blas: BLAS = BLAS.getInstance()

  /** One partition's per-winner partial for one epoch: iterate the
    * partition in `batchSize` sub-batches; per batch compute activation
    * distances and first-index argmin winners, then add each row into
    * its winner's exact feature sums (k x dim, row-major) and count.
    * This is the Voronoi-set form of the batch map: every row's
    * neighbourhood weights depend only on its winner, so the epoch
    * needs only per-winner sums — the neighbourhood is applied once, to
    * the combined sums, by [[spread]]. The codebook is prepared once per
    * partition and the buffers are reused across sub-batches
    * (`xpysom.py:516-527`).
    */
  def partitionUpdate(it: Iterator[Array[Float]], w: Array[Double],
                      wSq: Array[Double], cfg: SomConfig): (ExactSum, Array[Long]) = {
    val k = cfg.x * cfg.y
    val dim = w.length / k
    val dist = cfg.distanceFn
    val bs = cfg.batchSize
    val sums = new ExactSum(k * dim)
    val counts = new Array[Long](k)
    val cb = new PreparedCodebook(w, k, dim, wSq)
    val block = cb.block()
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
      dist.compute(xBuf, n, cb, block, dBuf)
      Distances.argminRows(dBuf, n, k, wins)
      var s = 0
      while (s < n) {
        sums.add(wins(s) * dim, xBuf, s * dim, dim)
        counts(wins(s)) += 1
        s += 1
      }
    }
    (sums, counts)
  }

  /** Merge for [[partitionUpdate]] partials, into the left operand:
    * exact, so any order gives the same bits.
    */
  def merge(a: (ExactSum, Array[Long]), b: (ExactSum, Array[Long])): (ExactSum, Array[Long]) = {
    a._1.merge(b._1)
    var i = 0
    while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
    a
  }

  /** One partition's covariance partial: the exact sums of x xᵀ (upper
    * triangle, row-major, at [[Cov.at]]) and then of x, over `n` rows
    * of `dim` features; `dim` -1 for a partition without rows. A
    * non-finite value stops the sums and clears `finite`.
    */
  final case class Cov(dim: Int, finite: Boolean, sums: ExactSum, n: Long) {
    def merge(that: Cov): Cov =
      if (that.dim < 0) this
      else if (dim < 0) that
      else {
        require(that.dim == dim, s"Received ${that.dim} features, expected $dim.")
        Cov(dim, finite && that.finite, sums.merge(that.sums), n + that.n)
      }
  }

  object Cov {
    val empty = Cov(-1, finite = true, null, 0L)
    /** The index of Σ x_i·x_j, i <= j, among `d` features' sums. */
    def at(d: Int, i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)
  }

  /** The [[Cov]] of one partition's rows; the first row sets the dim. */
  def cov(it: Iterator[Array[Double]]): Cov = {
    if (!it.hasNext) return Cov.empty
    val first = it.next()
    val d = first.length
    val tri = d * (d + 1) / 2
    val sums = new ExactSum(tri + d)
    val prod = new Array[Double](d)
    var finite = true
    var n = 0L
    (Iterator.single(first) ++ it).foreach { v =>
      if (v.length != d)
        throw new IllegalArgumentException(s"Received ${v.length} features, expected $d.")
      finite &&= SomData.finite(v)
      if (finite) {
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) { prod(j) = v(i) * v(j); j += 1 }
          sums.add(Cov.at(d, i, i), prod, i, d - i)
          i += 1
        }
        sums.add(tri, v, 0, d)
        n += 1
      }
    }
    Cov(d, finite, sums, n)
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
      blas.dgemm("N", "T", dim, k, m, 1.0, sBuf, dim, hBuf, k, 1.0, num, dim)
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
  /** The training blocks: one per partition, the partition's non-null
    * feature rows as float32 vectors (the reference's training dtype,
    * `xpysom.py:485,510`; all math still runs in double inside the
    * kernels), not cached. Null feature rows are skipped (they carry no
    * information for the update; the reference would crash on them); a
    * null ELEMENT fails, as the Dataset encoder fails on it. Array
    * columns are read as the where+cast plan's internal rows, other
    * containers (VectorUDT) through [[rowToVec]]. Partitioning is the
    * input's.
    */
  def blocks(df: DataFrame, featuresCol: String): RDD[Array[Array[Float]]] = {
    val c = col(featuresCol)
    val rows = df.where(c.isNotNull)
    df.schema(featuresCol).dataType match {
      case _: ArrayType =>
        rows.select(c.cast("array<float>")).queryExecution.toRdd.mapPartitions { it =>
          Iterator.single(it.map { r =>
            val ad = r.getArray(0)
            var i = 0
            while (i < ad.numElements()) {
              if (ad.isNullAt(i))
                throw new NullPointerException(
                  s"Null value appeared in non-nullable field: $featuresCol element")
              i += 1
            }
            ad.toFloatArray()
          }.toArray)
        }
      case _ =>
        rows.select(c).rdd.mapPartitions { it =>
          Iterator.single(it.map(r => rowToVec(r, 0).map(_.toFloat)).toArray)
        }
    }
  }

  /** Whether every value of `v` is finite: an [[ExactSum]] holds no NaN
    * or ±Inf.
    */
  def finite(v: Array[Float]): Boolean = {
    var i = 0
    while (i < v.length && java.lang.Float.isFinite(v(i))) i += 1
    i == v.length
  }
  def finite(v: Array[Double]): Boolean = {
    var i = 0
    while (i < v.length && java.lang.Double.isFinite(v(i))) i += 1
    i == v.length
  }

  def nonFinite(featuresCol: String): String =
    s"features column $featuresCol holds a non-finite value (NaN or ±Infinity)"

  /** double vectors of the non-null feature rows — the init
    * representation (`sampleInit`, `sampleCovariance`): initialization
    * keeps double precision.
    */
  def toVectors(df: DataFrame, featuresCol: String): RDD[Array[Double]] = {
    val c = col(featuresCol)
    val rows = df.where(c.isNotNull)
    df.schema(featuresCol).dataType match {
      case _: ArrayType =>
        // cast in codegen + primitive-array encoder: no per-element boxing
        val spark = df.sparkSession
        import spark.implicits._
        rows.select(c.cast("array<double>")).as[Array[Double]].rdd
      case _ => // VectorUDT and friends
        rows.select(c).rdd.map(r => rowToVec(r, 0))
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
