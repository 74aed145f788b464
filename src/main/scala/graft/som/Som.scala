package graft.som

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.storage.StorageLevel

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
    /** Inputs whose total value count (rows x dim) is at or under this
      * threshold train DRIVER-LOCALLY. One job reads the input into one
      * cached block per partition and sizes it; it also returns the
      * blocks of a small input, with their partition order, and every
      * epoch then runs on the driver with the SAME kernels and the SAME
      * fold topology — results are bit-identical to the distributed
      * epochs, but the 1-job-per-epoch scheduling floor (which dwarfs
      * the arithmetic on tiny inputs: r8 measured 0.5 s for 10 epochs
      * over 2,000 rows vs 0.027 s in-core) disappears. A larger input
      * keeps the cached blocks, with no second scan. The analogue of the
      * reference's in-core path (`xpysom.py:560-575`). 0 disables the
      * fast path. Execution knob only — not part of the saved model
      * params.
      */
    localFitThreshold: Long = 2000000L,
    /** Tree depth of the per-epoch fixed-topology fold of the
      * (sums, counts) partials ([[graft.Parts]]): fan-out
      * ⌈partitions^(1/depth)⌉, so 2 keeps driver fan-in bounded at
      * cluster scale (the reference's dask path does a flat single-node
      * sum, `xpysom.py:545-558`). The fold exchanges partials on the
      * cluster only where `treeAggregate` would add a level; an epoch
      * over at most 5 partitions at depth 2 is one stage with no
      * exchange.
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

/** Batch-SOM trainer: one Spark job per epoch over cached per-partition
  * blocks — broadcast the codebook, per-block batched pass (distances →
  * winners → per-winner row sums and counts), the fixed-topology fold
  * of (sums, counts) ([[graft.Parts]]), then on the driver the
  * neighbourhood spread num = Hᵀ·sums, den = Hᵀ·counts through the
  * k x k neighbourhood table H and the guarded-division merge. The
  * reference applies the neighbourhood per row, as an n x k weight
  * matrix G with num = Gᵀ·X (`xpysom.py:420-443`); since every row of G
  * is its winner's row of H, summing rows per winner first (Kohonen's
  * Voronoi-set batch map) gives the same sums for n·dim additions
  * instead of an n·k·dim gemm. Dataflow per `xpysom.py:458-594`: the
  * blocks are the reference's Dask blocks, the per-block sub-batching
  * replaces its `n_parallel` chunking (`xpysom.py:560-575`) and the
  * fold replaces dask's delayed flat sum (`xpysom.py:545-558`). One
  * job reads and sizes the input; a small input's blocks stay on the
  * driver and its epochs run no job (`localFitThreshold`).
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
    * One job reads the input into one cached float32 block per
    * partition and sizes it ([[Som.trainingParts]]); the epochs then run
    * over those blocks, on the cluster or — at most
    * `localFitThreshold` values — on the driver.
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
    data.foreach(v => require(v.length == dim,
      s"Received ${v.length} features, expected $dim."))
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
    * fixed-topology fold of the (sums, counts) partials at
    * `treeDepth` ([[graft.Parts]]), then the neighbourhood spread and
    * merge on the driver. On cached cluster blocks that is one Spark job
    * with no exchange below the `treeAggregate` level rule; on driver
    * blocks, none. None when the blocks hold no row (the codebook would
    * not move). Exposed for incremental/streaming training where each
    * micro-batch advances the decay schedule by one step.
    *
    * The fold's combine order depends only on the partition count and
    * `treeDepth`, never on the form or on arrival order, so training is
    * bit-reproducible — which the resume contract (`fit(iterBeg/iterEnd)`),
    * the seeded-determinism guarantee and the driver-local fast path all
    * rely on.
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
      }.reduce(cfg.treeDepth)(SomKernels.addPartial)
    }
    if (counts.forall(_ == 0.0)) None
    else {
      val (num, den) = SomKernels.spread(sums, counts, cfg, eta, sig)
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

  /** Sample covariance (N-1 normalization) of the feature column via a
    * single distributed pass (the fixed-topology fold of per-partition
    * (x xᵀ, Σx, n) partials, [[graft.Parts]] — bit-reproducible across
    * runs like the training path). Null feature rows are skipped, as
    * `fit` skips them. Public: the pca-init invariant oracle recomputes
    * eigen-residuals against it.
    */
  def sampleCovariance(df: DataFrame,
                       featuresCol: String = "features"): (Array[Array[Double]], Long) = {
    val data = SomData.toVectors(df, featuresCol)
    val first = data.take(1)
    require(first.nonEmpty, "cannot compute covariance of an empty dataset")
    val d = first.head.length
    val partials = data.mapPartitions { it =>
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
      Iterator.single((m, s, c))
    }
    val (xtx, sums, n) = Parts.Spread(partials).reduce(config.treeDepth) {
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
  /** Partition-count guard for the driver-local fit: above this, the
    * worst-case driver transfer of the sizing job (every block just
    * under the threshold while the total overflows) stops being
    * negligible, and an input spread over this many partitions is not
    * "tiny" anyway.
    */
  val localFitMaxPartitions = 64

  /** The training blocks of `df` ([[SomData.blocks]]) and their feature
    * count, in one job. The job fills the blocks' cache and returns, per
    * partition, the value count (rows x dim), the dim of its first row
    * and — when `threshold > 0`, there are at most
    * [[localFitMaxPartitions]] partitions and this partition alone holds
    * at most `threshold` values — the block itself. When the total is
    * within `threshold` the cache is dropped and the blocks stay on the
    * driver, in partition order ([[graft.Parts.Local]]): the epochs then
    * run no Spark job. Otherwise the cached blocks are the cluster form,
    * with no second scan. The caller releases the result.
    */
  private[graft] def trainingParts(df: DataFrame, featuresCol: String,
      threshold: Long): (Parts[Array[Array[Float]]], Int) = {
    val blocks = SomData.blocks(df, featuresCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ship = threshold > 0 && blocks.getNumPartitions <= localFitMaxPartitions
      val sized = blocks.map { b =>
        val n = b.iterator.map(_.length.toLong).sum
        (n, if (b.isEmpty) -1 else b(0).length, if (ship && n <= threshold) b else null)
      }.collect()
      val total = sized.iterator.map(_._1).sum
      require(total > 0, "cannot fit a SOM on an empty dataset")
      val dim = sized.iterator.map(_._2).find(_ >= 0).get
      if (ship && total <= threshold) {
        blocks.unpersist(blocking = true)
        (Parts.Local(sized.map(_._3).toIndexedSeq), dim)
      } else (Parts.Spread(blocks), dim)
    } catch { case e: Throwable => blocks.unpersist(blocking = true); throw e }
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
  * fold's closures reference the module from executors.
  */
private[som] object SomKernels extends Serializable {

  def addInPlace(a: Array[Double], b: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
  }

  type Partial = (Array[Double], Array[Double])

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
