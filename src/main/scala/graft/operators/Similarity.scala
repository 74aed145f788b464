package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{SomBmuKernel, SomKernelScratch}
import graft.som.{PreparedCodebook, Som, SomConfig, SomData, SomModel}

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Scale design: query vectors are broadcast (they are the small side);
  * each partition scores its rows against all queries and keeps only a
  * local top-k per query, so the shuffle carries at most
  * (partitions x queries x k) rows regardless of table size. The
  * SOM-bucketed variant (`somTopK`) is the IVF-style scale path: a small
  * trained SOM acts as the coarse quantizer and only cells near the
  * query's BMU are scanned.
  */
object Similarity {

  /** Cosine similarity of two array columns in double precision — native
    * codegen expression (`graft.plans.VecCosine`); zero-norm pairs get 0.
    */
  def cosine(a: Column, b: Column): Column = graft.plans.VecFunctions.vec_cosine(a, b)

  /** Dot product of two array columns in double precision. */
  def dot(a: Column, b: Column): Column = graft.plans.VecFunctions.vec_dot(a, b)

  /** Brute-force top-k: exact baseline. `queries` is a small
    * DataFrame (qid, vector); it is broadcast and each partition emits
    * its local top-k per query before the global top-k shuffle.
    * `metric` is "cosine" (sim = cosine, descending) or "l2"
    * (sim = NEGATED squared L2, so the same descending-sim heap and
    * window rank nearest-first); ties break on the smaller id under
    * both metrics, matching every SQL replay's (score, nid) order.
    */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
                     queries: Seq[(Long, Array[Double])], k: Int,
                     excludeSelf: Boolean = true,
                     metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2",
      s"metric must be 'cosine' or 'l2', got '$metric'")
    require(queries.nonEmpty, "bruteForceTopK needs at least one query")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(queries)
    val fIdx = df.schema.fieldIndex(vecCol)
    val iIdx = df.schema.fieldIndex(idCol)
    val scored = df.rdd.mapPartitions { it =>
      val qs = bc.value
      // local top-k per query: bounded priority queues
      val heaps = qs.map { case (qid, _) =>
        qid -> collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
      }.toMap
      // keep norms SQUARED and divide by sqrt(naSq*nbSq): bit-identical
      // to the VecCosine kernel and the DuckDB oracle, so argmin ties on
      // duplicate vectors rank the same everywhere (sqrt(a)*sqrt(b)
      // differs from sqrt(a*b) in ulps and broke tie order)
      val qNormsSq = qs.map { case (qid, v) =>
        qid -> v.map(x => x * x).sum
      }.toMap
      it.foreach { r =>
        val id = r.getLong(iIdx)
        val v = SomData.rowToVec(r, fIdx)
        if (v.length != qs.head._2.length)
          throw new IllegalArgumentException(
            s"Received ${v.length} features, expected ${qs.head._2.length}.")
        val nvSq = v.map(x => x * x).sum
        qs.foreach { case (qid, q) =>
          if (!(excludeSelf && id == qid)) {
            val sim =
              if (metric == "l2") {
                var d = 0.0
                var i = 0
                while (i < q.length) { val t = q(i) - v(i); d += t * t; i += 1 }
                -d
              } else {
                var s = 0.0
                var i = 0
                while (i < q.length) { s += q(i) * v(i); i += 1 }
                val denom = math.sqrt(nvSq * qNormsSq(qid))
                if (denom == 0) 0.0 else s / denom
              }
            val h = heaps(qid)
            h.enqueue((sim, id))
            if (h.size > k) h.dequeue()
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (sim, id) => Row(qid, id, sim) }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("nid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sim", org.apache.spark.sql.types.DoubleType)))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    spark.createDataFrame(scored, schema)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
              round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * labeled query vector, the `k` most-similar vectors carrying a
    * DIFFERENT label — the pairs a contrastive loss (InfoNCE / triplet)
    * wants as negatives precisely because the current embedding ranks
    * them close. Queries are looked up from the table by id (bounded
    * collect, queryIds-sized) and broadcast; ONE corpus scan scores
    * every row against the batch (codegen `vec_cosine`), and the
    * bounded-heap top-k aggregate reduces each partition to ≤ k pairs
    * per query before the only exchange — the ANN serving shape, never
    * an all-pairs product. NULL-labeled rows are never negatives (the
    * label inequality is null-rejecting on both sides). At 100 TB the
    * same pipeline runs over an IVF-celled table ([[ivfWrite]] /
    * [[Kmeans]] index) with the scan pruned to probed cells. Returns
    * `(qid, rank, nid, sim)`, ties (sim desc, nid asc).
    */
  def hardNegatives(df: DataFrame, vecCol: String, idCol: String,
                    labelCol: String, queryIds: Seq[Long],
                    k: Int): DataFrame =
    labelMatchedTopK(df, vecCol, idCol, labelCol, queryIds, k,
      sameLabel = Some(false))

  /** The same-label twin of [[hardNegatives]]: per labeled query, the
    * `k` most-similar vectors sharing its label (self excluded) — the
    * positive side of a triplet. Same plan shape, same tie order.
    */
  def hardPositives(df: DataFrame, vecCol: String, idCol: String,
                    labelCol: String, queryIds: Seq[Long],
                    k: Int): DataFrame =
    labelMatchedTopK(df, vecCol, idCol, labelCol, queryIds, k,
      sameLabel = Some(true))

  /** Assembled training triplets: for each query (anchor), its single
    * hardest positive and hardest negative plus the similarity margin
    * `round6(pos_sim − neg_sim)` — the margin a triplet loss pushes on,
    * and the quantity curricula sort by (small margin = hard triplet).
    * Anchors with no same-label or no cross-label partner drop. ONE
    * corpus scan serves both legs: each row lands in its (qid, same)
    * heap, so the cost matches a single [[hardNegatives]] call (the
    * oracle replay MATERIALIZES its shared dot CTE for the same
    * reason). Returns `(qid, pos_id, neg_id, pos_sim, neg_sim,
    * margin)`.
    */
  def mineTriplets(df: DataFrame, vecCol: String, idCol: String,
                   labelCol: String, queryIds: Seq[Long]): DataFrame = {
    val (slim, qDf, _) = queryBatch(df, vecCol, idCol, labelCol, queryIds)
    def side(same: Boolean, f: Column => Column) =
      f(max(when(col("same") === same, col("p"))))
    slim
      .join(broadcast(qDf),
        col("nid") =!= col("qid") && col("__l").isNotNull)
      .select(col("qid"), col("nid"), (col("__l") === col("qlabel")).as("same"),
        cosine(col("__v"), col("qv")).as("sim"))
      .groupBy("qid", "same")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), 1).as("top"))
      .select(col("qid"), col("same"), element_at(col("top"), 1).as("p"))
      .groupBy("qid")
      .agg(side(true, identity).as("pos"), side(false, identity).as("neg"))
      .where(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("qid"),
        col("pos.id").as("pos_id"), col("neg.id").as("neg_id"),
        round(negate(col("pos.s")), 6).as("pos_sim"),
        round(negate(col("neg.s")), 6).as("neg_sim"))
      .withColumn("margin", round(col("pos_sim") - col("neg_sim"), 6))
  }

  /** kNN label-consistency audit (the label-error detector's shape,
    * Northcutt 2021 confident-learning intuition): each labeled
    * anchor's k nearest neighbors (ANY label) vote; a low agreement
    * fraction flags a likely mislabel or an off-manifold embedding.
    * Returns one row per anchor —
    * `(qid, label, n_agree, n_nbrs, agreement, suspect)` with
    * `agreement = round6(n_agree / n_nbrs)` and `suspect = agreement <
    * minAgreement`. NULL-labeled neighbors still rank (distance is
    * label-blind) but never count as agreeing. Same scan shape as
    * [[hardNegatives]]; anchor labels come from the query-batch collect
    * (no extra scan) and the tiny ranked set is BROADCAST into the
    * neighbor-label join, so the audit pays one scoring scan plus one
    * label-projection scan.
    */
  def labelConsistency(df: DataFrame, vecCol: String, idCol: String,
                       labelCol: String, queryIds: Seq[Long], k: Int,
                       minAgreement: Double = 0.5): DataFrame = {
    require(minAgreement >= 0.0 && minAgreement <= 1.0,
      s"minAgreement must be in [0,1], got $minAgreement")
    val spark = df.sparkSession
    val (slim, qDf, qRows) = queryBatch(df, vecCol, idCol, labelCol, queryIds)
    val ranked = rankedTopK(slim, qDf, lit(true), k)
    // anchor labels were already collected with the query batch
    val qLabels = spark.createDataFrame(
        java.util.Arrays.asList(qRows.map(r => Row(r.getLong(0), r.get(2))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.LongType, nullable = false),
          slim.schema("__l").copy(name = "label"))))
    slim.select(col("nid").as("__lid"), col("__l").as("__lbl"))
      .join(broadcast(ranked), col("nid") === col("__lid"))
      .join(broadcast(qLabels), Seq("qid"))
      .groupBy(col("qid"), col("label"))
      .agg(
        sum(when(col("__lbl") === col("label"), 1L).otherwise(0L)).as("n_agree"),
        count(lit(1)).as("n_nbrs"))
      .withColumn("agreement",
        round(col("n_agree").cast("double") / col("n_nbrs").cast("double"), 6))
      .withColumn("suspect", col("agreement") < minAgreement)
  }

  /** Shared query-batch prep: the slim `(nid, __v, __l)` projection, the
    * broadcast-ready `(qid, qv, qlabel)` literal frame built from ONE
    * bounded collect, and the collected query rows themselves (so
    * callers needing anchor labels pay no extra scan). Validates ids
    * exist exactly once and carry non-null vectors and labels.
    */
  private def queryBatch(df: DataFrame, vecCol: String, idCol: String,
                         labelCol: String, queryIds: Seq[Long])
      : (DataFrame, DataFrame, Array[Row]) = {
    require(queryIds.nonEmpty, "label-matched top-k needs at least one query id")
    require(queryIds.distinct.size == queryIds.size,
      s"duplicate query ids: $queryIds")
    val spark = df.sparkSession
    val slim = df.select(col(idCol).cast("long").as("nid"),
      col(vecCol).as("__v"), col(labelCol).as("__l"))
    val qRows = slim.where(col("nid").isin(queryIds: _*)).collect()
    require(qRows.length >= queryIds.size,
      s"label-matched top-k: ${queryIds.size - qRows.length} query ids not found")
    require(qRows.length <= queryIds.size,
      s"label-matched top-k: ${qRows.length} rows matched ${queryIds.size} " +
        s"query ids — duplicate ids in $idCol")
    qRows.foreach { r =>
      require(!r.isNullAt(1),
        s"label-matched top-k: query ${r.getLong(0)} has a NULL $vecCol")
      require(!r.isNullAt(2),
        s"label-matched top-k: query ${r.getLong(0)} has a NULL $labelCol")
    }
    val qDf = spark.createDataFrame(
        java.util.Arrays.asList(qRows.map(r =>
          Row(r.getLong(0), SomData.rowToVec(r, 1).toSeq, r.get(2))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("qv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = false),
          slim.schema("__l").copy(name = "qlabel"))))
    (slim, qDf, qRows)
  }

  /** The shared scoring scan + bounded-heap cut: one `vec_cosine` pass
    * of `slim` against the broadcast batch under `labelPred`, reduced
    * to `(qid, rank, nid, sim)` with ties (sim desc, nid asc).
    */
  private def rankedTopK(slim: DataFrame, qDf: DataFrame,
                         labelPred: Column, k: Int): DataFrame = {
    require(k >= 1, s"label-matched top-k needs k >= 1, got $k")
    slim
      .join(broadcast(qDf), col("nid") =!= col("qid") && labelPred)
      .select(col("qid"), col("nid"), cosine(col("__v"), col("qv")).as("sim"))
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
              col("p.id").as("nid"), round(negate(col("p.s")), 6).as("sim"))
  }

  private def labelMatchedTopK(df: DataFrame, vecCol: String, idCol: String,
                               labelCol: String, queryIds: Seq[Long],
                               k: Int, sameLabel: Option[Boolean]): DataFrame = {
    val (slim, qDf, _) = queryBatch(df, vecCol, idCol, labelCol, queryIds)
    // with a label predicate it is null-rejecting either way: a
    // NULL-labeled row is neither a positive nor a negative. With no
    // predicate (labelConsistency) every non-self row ranks.
    val labelPred = sameLabel match {
      case Some(true)  => col("__l") === col("qlabel")
      case Some(false) => col("__l") =!= col("qlabel")
      case None        => lit(true)
    }
    rankedTopK(slim, qDf, labelPred, k)
  }

  /** Random-hyperplane LSH ANN: per table, a `numPlanes`-bit bucket from
    * the signs of projections onto seeded random hyperplanes; candidates
    * are rows sharing any (table, bucket) with a query, reranked by exact
    * cosine. All table buckets come from ONE codegen'd `lsh_buckets`
    * evaluation per row (the vector is read once, every projection runs
    * fused — vs tables x planes separate dot-product expressions); the
    * probe set is broadcast — the scan stays single-pass and the shuffle
    * carries only candidates.
    */
  def lshCosineTopK(df: DataFrame, vecCol: String, idCol: String,
                    queries: Seq[(Long, Array[Double])], k: Int,
                    numPlanes: Int = 12, numTables: Int = 4,
                    seed: Long = 31): DataFrame = {
    require(queries.nonEmpty, "lshCosineTopK needs at least one query")
    require(numPlanes <= 30, s"numPlanes ($numPlanes) must fit an int bucket")
    val dim = queries.head._2.length
    val rnd = new scala.util.Random(seed)
    // flattened (table, plane, dim) tensor, row-major
    val planes = Array.fill(numTables * numPlanes * dim)(rnd.nextGaussian())

    def bucketOf(t: Int, v: Array[Double]): Int = {
      var bucket = 0
      for (p <- 0 until numPlanes) {
        val base = (t * numPlanes + p) * dim
        var s = 0.0
        var i = 0
        while (i < dim) { s += planes(base + i) * v(i); i += 1 }
        if (s > 0) bucket |= 1 << p
      }
      bucket
    }

    val probe = for ((qid, q) <- queries; t <- 0 until numTables)
      yield (qid, t, bucketOf(t, q))
    val probeDf = df.sparkSession.createDataFrame(probe).toDF("qid", "table", "bucket")
    val qDf = df.sparkSession.createDataFrame(
      queries.map { case (qid, v) => (qid, v.toSeq) }).toDF("qid", "qv")

    val bucketed = df.select(col(idCol).cast("long").as("nid"), col(vecCol).as("__v"),
        graft.plans.VecFunctions.lsh_buckets(col(vecCol), planes,
          numTables, numPlanes, dim).as("__b"))
      .select(col("nid"), col("__v"),
        posexplode(col("__b")).as(Seq("table", "bucket")))

    // rerank BEFORE deduplicating: the multi-table candidate dedup then
    // shuffles only (qid, nid, sim) — 24 bytes — instead of dragging the
    // full embedding through the distinct (3 KB+ per row at 768-dim
    // scale). Cosine is deterministic per (qid, nid), so distinct on the
    // scored rows yields the identical candidate set; the re-scored
    // duplicates are bounded by numTables and cost CPU, not shuffle.
    // The distinct must run BEFORE the top-k heap (a nid hit in several
    // tables would otherwise occupy several rank slots); after it, the
    // bounded-heap aggregate reduces each partition to <= k pairs per
    // query before the final exchange — a per-qid row_number window
    // would funnel every query's whole candidate set through one task.
    bucketed.join(broadcast(probeDf), Seq("table", "bucket"))
      .where(col("nid") =!= col("qid"))
      .join(broadcast(qDf), "qid")
      .select(col("qid"), col("nid"), cosine(col("__v"), col("qv")).as("sim"))
      .distinct()
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
              col("p.id").as("nid"), round(negate(col("p.s")), 6).as("sim"))
  }

  /** IVF-style ANN: train a small SOM as the coarse quantizer, assign
    * every row to its BMU cell, and scan only the `nProbe` cells whose
    * centroids are closest to each query. Returns (qid, rank, nid, sim).
    * Recall < 1 by construction. This one-shot form computes the cell
    * assignment inline (one scan); the 100 TB deployment writes the
    * assigned table out partitioned/bucketed by `bmu_id` once, after
    * which the broadcast probe equi-join prunes to the nProbe cells'
    * files and repeated queries never rescan the corpus.
    */
  def somTopK(df: DataFrame, vecCol: String, idCol: String,
              queries: Seq[(Long, Array[Double])], k: Int,
              gridX: Int = 4, gridY: Int = 4, nProbe: Int = 4,
              epochs: Int = 3, seed: Long = 42): DataFrame = {
    val model = new Som(SomConfig(gridX, gridY, seed = seed))
      .fit(df, vecCol, numEpochs = epochs)
    // the cell is bound once: the probed-cell isin would otherwise be
    // pushed below the assigning projection and run som_bmu again per row
    somTopKAssigned(Materialize.once(model.withBmu(df, vecCol), "bmu_id",
      col("bmu_id")), model, vecCol, idCol, queries, k, nProbe)
  }

  /** The repeated-query half of the IVF path: build the index ONCE with
    * [[writeAssignedIndex]] (corpus partitioned on disk by BMU cell),
    * then serve each query batch from `spark.read.parquet(indexPath)` —
    * the probe filter becomes a PARTITION filter, so only the nProbe
    * cells' directories are listed and scanned; the other
    * (gridX*gridY - nProbe) partitions are never read. At 100 TB that
    * is the difference between scanning ~nProbe/cells of the corpus per
    * query batch and rescanning all of it.
    */
  def writeAssignedIndex(df: DataFrame, vecCol: String,
                         model: graft.som.SomModel, path: String,
                         filesPerCell: Int = defaultFilesPerCell): Unit =
    clusterByCell(model.withBmu(df, vecCol), "bmu_id",
      xxhash64(col(vecCol)), filesPerCell)
      .write.partitionBy("bmu_id").parquet(path)

  /** Cell-clustered shuffle before every cell-partitioned index write
    * (`bmu_id` for the SOM quantizer, `cid` for k-means).
    *
    * A bare `df.write.partitionBy("bmu_id")` makes EVERY write task
    * open one file per cell it touches — tasks x cells files, which at
    * a 100 TB scan width (10^4-10^5 tasks x 10^3-10^4 cells) is a
    * 10^7+-file index (guide §6: small files hurt twice — driver
    * listing and per-file open), and even at the 200k-row bench scale
    * measured 8.45 s / 512 files vs 1.66 s / 31 files clustered, with
    * the pruned serve 0.85 -> 0.57 s (same JVM; OPTIMIZATION_r11.md §5).
    * Clustering on (cell, deterministic salt) bounds the layout to
    * ≤ cells x filesPerCell files while a hot cell still spreads over
    * filesPerCell tasks — never the single-task pin a bare
    * `repartition(bmu_id)` would reintroduce. The salt is
    * content-derived (`xxhash64`, never rand()) so task retries
    * reproduce the same routing (SPARK-38388).
    *
    * `filesPerCell` defaults small (2) so local benches stay
    * comparable; size it at ~ceil(cellBytes / 512 MB) in production so
    * output files land in the 128 MB-1 GB band.
    */
  val defaultFilesPerCell = 2
  private[operators] def clusterByCell(df: DataFrame, cellCol: String,
                                       salt: Column,
                                       filesPerCell: Int): DataFrame = {
    require(filesPerCell > 0,
      s"filesPerCell must be positive, got $filesPerCell")
    df.repartition(col(cellCol), pmod(salt, lit(filesPerCell)))
  }

  /** ANN over a pre-assigned corpus (either `model.withBmu(...)` inline
    * or a partitioned index read back from [[writeAssignedIndex]] —
    * with the latter, the `bmu_id` probe `isin` prunes partitions).
    */
  def somTopKAssigned(assigned: DataFrame, model: graft.som.SomModel,
                      vecCol: String, idCol: String,
                      queries: Seq[(Long, Array[Double])], k: Int,
                      nProbe: Int): DataFrame =
    cellTopK(assigned, "bmu_id", somCells(model), vecCol, idCol, queries, k, nProbe)

  /** A query's served activation distance to every cell of `model`'s
    * codebook: `som_bmu`'s row kernel, so it ranks the cells by the bits
    * the IVF build assigned its rows by.
    */
  private def somCells(model: SomModel): Array[Double] => Array[Double] = {
    val cb = new PreparedCodebook(model.codebook.weights, model.x * model.y, model.dim, null)
    val s = new SomKernelScratch(cb)
    q => SomBmuKernel.distances(UnsafeArrayData.fromPrimitiveArray(q), isFloat = false, cb, s,
      model.config.distanceFn).clone()
  }

  /** The `nProbe` cells of smallest distance, `dist(c)` being cell c's
    * distance to the query: ties to the lower cell id — the BMU and
    * k-means argmin convention.
    */
  private[operators] def nearestCells(dist: Array[Double], nProbe: Int): Seq[Int] = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    dist.indices.sortBy(c => (dist(c), c)).take(nProbe)
  }

  /** The cell-probe serve body of [[somTopKAssigned]] and
    * [[Kmeans.topKAssigned]]: each query's `nProbe` nearest cells
    * ([[nearestCells]] over `cells(query)`, the query's distance to every
    * cell), then ONE cosine pass over the rows of the probed cells of
    * `assigned`, whose cell id sits in `cellCol`. Returns
    * (qid, rank, nid, sim), ties (sim desc, nid asc).
    */
  private[operators] def cellTopK(assigned: DataFrame, cellCol: String,
                                  cells: Array[Double] => Array[Double],
                                  vecCol: String, idCol: String,
                                  queries: Seq[(Long, Array[Double])],
                                  k: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"cell-probe top-k needs k > 0, got $k")
    require(queries.nonEmpty, "cell-probe top-k needs at least one query")
    val probe = queries.flatMap { case (qid, q) =>
      nearestCells(cells(q), nProbe).map(c => (qid, c))
    }
    // probe values take the cell column's type: int bmu_id, long cid
    // inline, int cid on a partitioned read-back
    val cellType = assigned.schema(cellCol).dataType
    val spark = assigned.sparkSession
    val probeDf = spark.createDataFrame(probe).toDF("qid", "__cell")
      .select(col("qid"), col("__cell").cast(cellType).as(cellCol))
    val qDf = spark.createDataFrame(
      queries.map { case (qid, v) => (qid, v.toSeq) }).toDF("qid", "qv")
    // the probed cell set is driver-known and tiny, so pruning is an
    // EXPLICIT isin on the partition column — static partition pruning,
    // guaranteed on a partitioned read-back (PartitionFilters in the
    // scan; only probed directories are listed), rather than relying on
    // the optimizer's dynamic-pruning heuristics to derive it from the
    // probe join. The top-k cut is the bounded-heap aggregate (<= k
    // pairs per query cross the wire from every map task); a per-qid
    // window would rank each query's whole probed-cell population in
    // one task.
    val probedCells = probe.map(_._2).distinct.map(lit(_).cast(cellType))
    assigned.where(col(cellCol).isin(probedCells: _*))
      .join(broadcast(probeDf), cellCol)
      .join(broadcast(qDf), "qid")
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).cast("long").as("nid"),
              cosine(col(vecCol), col("qv")).as("sim"))
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
              col("p.id").as("nid"), round(negate(col("p.s")), 6).as("sim"))
  }

  /** Per-group embedding centroids (class centroids): element-wise mean
    * of the vectors in each group — the primitive behind domain
    * embeddings, label prototypes, and centroid-based cluster labeling.
    * Shape: posexplode to (group, dim, value) rows, one map-side-
    * combined aggregation on (group, dim) — the shuffle carries
    * groups x dims partial sums, never vectors — and exact integer
    * counts divide the sums at the end (no order-dependent incremental
    * means). Returns (group, dim, centroid, n_vecs) long-form — the
    * oracle-friendly layout; `array_agg` it back to vectors downstream
    * if needed.
    */
  def groupCentroids(df: DataFrame, vecCol: String,
                     groupCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("grp", "dim")
      .agg((sum(col("v").cast("double")) / count(lit(1))).as("centroid"),
        count(lit(1)).as("n_vecs"))

  // ------------------------------------------------------ product quantization

  /** Flatten per-subspace PQ centroids from `k` full sample vectors
    * (centroid c of subspace j = subvector j of sample c) into the
    * [(j*k + c)*subDim + i] layout `PqEncode`/`pqAdcTable` expect.
    * Taking the first-k-by-id sample keeps the codebook deterministic
    * and cross-engine replayable (the `fixedModel` pattern); a trained
    * variant can substitute per-subspace SOM/k-means centroids in the
    * same layout without touching the serving path.
    */
  def pqCodebookFromRows(rows: Seq[Array[Double]], m: Int): Array[Double] = {
    require(rows.nonEmpty, "pq codebook needs at least one sample vector")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val k = rows.length
    val cb = new Array[Double](m * k * subDim)
    for (j <- 0 until m; c <- 0 until k; i <- 0 until subDim)
      cb((j * k + c) * subDim + i) = rows(c)(j * subDim + i)
    cb
  }

  /** TRAINED per-subspace PQ codebooks: fit one small SOM per subspace
    * on the sliced subvectors (a 1-D SOM ring is a k-means-with-
    * neighborhood quantizer — reusing the engine's deterministic
    * trainer keeps the codebook reproducible for a given seed) and
    * flatten into the [[PqEncode]] layout. This is the QUALITY path —
    * centroids move to where the data is instead of being arbitrary
    * samples; the serving path is untouched (same layout, same
    * kernels). m training passes over a slim sliced projection; at
    * 100 TB train on a sampled fraction, exactly as IVF/PQ systems do.
    */
  def pqTrainCodebook(df: DataFrame, vecCol: String, m: Int, k: Int,
                      epochs: Int = 3, seed: Long = 42): Array[Double] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val cb = new Array[Double](m * k * subDim)
    for (j <- 0 until m) {
      val sub = df.select(
        slice(col(vecCol), j * subDim + 1, subDim).as("sub"))
      val model = new Som(SomConfig(1, k, seed = seed + j))
        .fit(sub, "sub", numEpochs = epochs)
      val w = model.codebook.weights // k x subDim, row-major
      System.arraycopy(w, 0, cb, j * k * subDim, k * subDim)
    }
    cb
  }

  /** TRAINED per-subspace PQ codebooks via k-means — the PQ
    * literature's standard subquantizer (Jégou et al. 2011 train one
    * k-means per subspace): `m` Lloyd's fits over sliced subvectors,
    * flattened into the [[PqEncode]] layout. Same serving path as the
    * SOM-ring variant ([[pqTrainCodebook]]); pick this one when
    * centroid QUALITY is the goal (no neighborhood smoothing pulls
    * centroids off the data), the SOM one when the codebook should
    * inherit the engine's topological ordering. Deterministic
    * (md5-seeded per-subspace salt).
    */
  def pqTrainCodebookKmeans(df: DataFrame, vecCol: String, idCol: String,
                            m: Int, k: Int, iters: Int = 4): Array[Double] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val cb = new Array[Double](m * k * subDim)
    for (j <- 0 until m) {
      val sub = df.select(col(idCol).cast("long").as("id"),
        slice(col(vecCol), j * subDim + 1, subDim).as("sub"))
      val model = graft.operators.Kmeans.fit(sub, "sub", "id", k, iters,
        salt = s"pq$j")
      for (c <- 0 until k)
        System.arraycopy(model.centroids(c), 0, cb,
          (j * k + c) * subDim, subDim)
    }
    cb
  }

  /** Encode every vector into `m` PQ codes — one codegen'd scan, output
    * m small ints per row (~32x smaller than float32 at subDim=8). At
    * 100 TB the encoded table is what you keep hot: ADC serving never
    * touches the original embeddings.
    */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
               cb: Array[Double], m: Int, k: Int): DataFrame = {
    val subDim = cb.length / (m * k)
    df.select(col(idCol).cast("long").as("id"),
      graft.plans.GraftFunctions.pq_encode(col(vecCol), cb, m, subDim, k)
        .as("codes"))
  }

  /** Per-query ADC lookup table: exact squared L2 from the query's
    * subvectors to every centroid, laid out [subspace * k + centroid].
    */
  def pqAdcTable(q: Array[Double], cb: Array[Double], m: Int,
                 k: Int): Array[Double] = {
    val subDim = cb.length / (m * k)
    require(q.length == m * subDim,
      s"Received ${q.length} features, expected ${m * subDim}.")
    val table = new Array[Double](m * k)
    for (j <- 0 until m; c <- 0 until k) {
      val cBase = (j * k + c) * subDim
      var d = 0.0
      var i = 0
      while (i < subDim) {
        val t = q(j * subDim + i) - cb(cBase + i)
        d += t * t
        i += 1
      }
      table(j * k + c) = d
    }
    table
  }

  /** Persist a PQ index: the encoded codes table as parquet (the
    * memory-resident serving artifact — m small ints per vector) plus
    * the codebook and geometry as a params file, mirroring
    * `SomModel.save`'s layout. At 100 TB this is what you build once
    * and serve from: the float embeddings never need to be read again
    * for ANN traffic.
    */
  def writePqIndex(df: DataFrame, vecCol: String, idCol: String,
                   cb: Array[Double], m: Int, k: Int, path: String): Unit = {
    pqEncode(df, vecCol, idCol, cb, m, k)
      .write.mode("overwrite").parquet(s"$path/codes")
    writePqParams(df.sparkSession, cb, m, k, path)
  }

  /** The geometry + codebook params file both PQ index layouts share. */
  private def writePqParams(spark: org.apache.spark.sql.SparkSession,
                            cb: Array[Double], m: Int, k: Int,
                            path: String): Unit = {
    val json = s"""{"m":$m,"k":$k,"subDim":${cb.length / (m * k)},""" +
      s""""cb":[${cb.mkString(",")}]}"""
    spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING)
      .coalesce(1).write.mode("overwrite").text(s"$path/params")
  }

  /** Read a PQ index back: (codes DataFrame, codebook, m, k). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): (DataFrame, Array[Double], Int, Int) = {
    val (cb, m, k) = readPqParams(spark, path)
    (spark.read.parquet(s"$path/codes"), cb, m, k)
  }

  private def readPqParams(spark: org.apache.spark.sql.SparkSession,
                           path: String): (Array[Double], Int, Int) = {
    val json = spark.read.textFile(s"$path/params").head()
    def intOf(key: String): Int =
      ("\"" + key + "\":(-?[0-9]+)").r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(sys.error(s"missing $key"))
    val (m, k) = (intOf("m"), intOf("k"))
    val cb = "\"cb\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.toDouble))
      .getOrElse(sys.error("missing cb"))
    require(cb.length == m * k * intOf("subDim"),
      s"corrupt PQ params: ${cb.length} codebook values for m=$m k=$k")
    (cb, m, k)
  }

  /** Serve ADC top-k from an already-encoded codes table (e.g. a
    * [[writePqIndex]] read-back): ONE codegen scan of the codes answers
    * the whole query batch, the embeddings untouched. A single query is
    * a batch of one.
    *
    * Shape: all per-query lookup tables stack into one broadcast
    * double[]; each code row is decoded once and scored against every
    * query inside a single fused kernel (`pq_adc_batch`); the exploded
    * (query, nid, adc) stream reduces through the bounded-heap
    * `topn_smallest_by_double` partial aggregate, so every map task
    * emits at most kNN pairs per query BEFORE the shuffle — the
    * exchange carries queries x partitions x kNN rows, never the scored
    * corpus, and ranks fall out of the sorted heap (no window at all).
    * Returns (qid, rank, nid, adc), ranked by (adc asc, nid asc).
    */
  def pqTopKFromCodes(codes: DataFrame, cb: Array[Double], m: Int, k: Int,
                      queries: Seq[(Long, Array[Double])], kNN: Int,
                      excludeSelf: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "pqTopKFromCodes needs at least one query")
    val nQ = queries.size
    val tables = new Array[Double](nQ * m * k)
    queries.zipWithIndex.foreach { case ((_, q), qi) =>
      System.arraycopy(pqAdcTable(q, cb, m, k), 0, tables, qi * m * k, m * k)
    }
    val qidArr = array(queries.map(q => lit(q._1)): _*)
    val scored = codes
      .select(col("id").as("nid"),
        posexplode(graft.plans.GraftFunctions.pq_adc_batch(
          col("codes"), tables, nQ, k)).as(Seq("qidx", "adc")))
      .select(element_at(qidArr, col("qidx") + 1).as("qid"),
        col("nid"), col("adc"))
      .where(if (excludeSelf) col("qid") =!= col("nid") else lit(true))
    scored.groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        col("adc"), col("nid"), kNN).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("p.id").as("nid"), round(col("p.s"), 6).as("adc"))
  }

  /** PQ approximate top-k by asymmetric distance: encode once, then
    * serve the whole batch with ONE codegen scan of the m-int codes
    * ([[pqTopKFromCodes]]) feeding a bounded-heap top-k reduction (no
    * global sort). Returns (qid, rank, nid, adc), ranked by
    * (adc asc, nid asc).
    *
    * The result is materialized and the internal codes cache released
    * before returning — no caller-side cache management. A standing
    * serving deployment would persist the codes table instead and reuse
    * it across batches (it is the small, memory-resident artifact PQ
    * exists to produce).
    */
  def pqTopK(df: DataFrame, vecCol: String, idCol: String,
             cb: Array[Double], m: Int, k: Int,
             queries: Seq[(Long, Array[Double])], kNN: Int,
             excludeSelf: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "pqTopK needs at least one query")
    val codes = pqEncode(df, vecCol, idCol, cb, m, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = pqTopKFromCodes(codes, cb, m, k, queries, kNN, excludeSelf)
      .localCheckpoint(true)
    codes.unpersist(blocking = false)
    out
  }

  // ----------------------------------------------------------- IVF + PQ

  /** Assign + encode in ONE scan: every vector's coarse cell (`bmu_id`)
    * plus its `m` PQ codes — the composed IVF+PQ index row. The float
    * vector appears only in this build scan; serving never reads it.
    */
  def ivfPqAssign(df: DataFrame, vecCol: String, idCol: String,
                  model: graft.som.SomModel, cb: Array[Double],
                  m: Int, k: Int): DataFrame = {
    val subDim = cb.length / (m * k)
    model.withBmu(df, vecCol)
      .select(col(idCol).cast("long").as("id"), col("bmu_id"),
        graft.plans.GraftFunctions.pq_encode(col(vecCol), cb, m, subDim, k)
          .as("codes"))
  }

  /** Persist the composed IVF+PQ index: codes partitioned on disk by
    * coarse cell (so probe filters become PARTITION filters, like
    * [[writeAssignedIndex]]) + the PQ geometry as a params file. This is
    * the billion-scale serving layout: a query batch lists only its
    * probed cells' directories and scans m-byte codes inside them —
    * neither the unprobed cells nor any float embedding is ever read.
    * The coarse quantizer itself persists via `SomModel.save`. The
    * lifecycle is [[writeIvfSqIndex]]'s: this write starts the index
    * over, deletes of an earlier build included.
    */
  def writeIvfPqIndex(df: DataFrame, vecCol: String, idCol: String,
                      model: graft.som.SomModel, cb: Array[Double],
                      m: Int, k: Int, path: String,
                      filesPerCell: Int = defaultFilesPerCell): Unit = {
    val unit = writeIvfCodes(ivfPqAssign(df, vecCol, idCol, model, cb, m, k),
      path, filesPerCell)
    writePqParams(df.sparkSession, cb, m, k, path)
    graft.sources.IndexLog.overwrite(df.sparkSession, path, Seq(unit))
  }

  /** Serve ADC top-k from an assigned-codes table (inline
    * [[ivfPqAssign]] output or a [[writeIvfPqIndex]] read-back): ONE
    * scan answers the whole query batch, a single query being a batch
    * of one. The scan statically prunes to the UNION of the probed
    * cells (`isin` on the `bmu_id` partition column — unprobed cells
    * are never listed or read), a broadcast (cell -> probing queries)
    * join pairs each code row with exactly the queries probing its
    * cell, `pq_adc_at` computes only that query's distance (m adds —
    * not the whole batch's), and the bounded-heap partial aggregate
    * reduces to kNN per query before the shuffle, ranks falling out of
    * the sorted heap. Join fan-out is sum over cells of |rows in cell|
    * x |queries probing cell| — the work IVF+PQ serving inherently
    * does; each probed cell is read once however many queries probe it.
    * Returns (qid, rank, nid, adc); recall < 1 by construction from
    * BOTH approximations (cell pruning + ADC), the standard IVF-PQ trade.
    */
  def ivfPqTopKFromCodes(codes: DataFrame, model: graft.som.SomModel,
                         cb: Array[Double], m: Int, k: Int,
                         queries: Seq[(Long, Array[Double])], kNN: Int,
                         nProbe: Int,
                         excludeSelf: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "ivfPqTopKFromCodes needs at least one query")
    val spark = codes.sparkSession
    import spark.implicits._
    val nQ = queries.size
    val tables = new Array[Double](nQ * m * k)
    queries.zipWithIndex.foreach { case ((_, q), qi) =>
      System.arraycopy(pqAdcTable(q, cb, m, k), 0, tables, qi * m * k, m * k)
    }
    val cells = somCells(model)
    val probes = queries.zipWithIndex.flatMap { case ((qid, q), qi) =>
      nearestCells(cells(q), nProbe).map(c => (qi, qid, c))
    }
    val probeDf = probes.toDF("qidx", "qid", "bmu_id")
    val allCells = probes.map(_._3).distinct
    val scored = codes.where(col("bmu_id").isin(allCells: _*))
      .join(broadcast(probeDf), Seq("bmu_id"))
      .where(if (excludeSelf) col("qid") =!= col("id") else lit(true))
      .select(col("qid"), col("id").as("nid"),
        graft.plans.GraftFunctions.pq_adc_at(col("codes"), col("qidx"),
          tables, k).as("adc"))
    scored.groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        col("adc"), col("nid"), kNN).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("p.id").as("nid"), round(col("p.s"), 6).as("adc"))
  }

  /** One-shot IVF+PQ: assign + encode inline (one scan of the floats),
    * then serve the batch via [[ivfPqTopKFromCodes]] (one scan over the
    * probed-cell union). The result is materialized and the internal
    * codes cache released before returning; a standing deployment uses
    * [[writeIvfPqIndex]] instead and serves every later batch from the
    * partitioned codes.
    */
  def ivfPqTopK(df: DataFrame, vecCol: String, idCol: String,
                model: graft.som.SomModel, cb: Array[Double],
                m: Int, k: Int,
                queries: Seq[(Long, Array[Double])], kNN: Int,
                nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    val codes = ivfPqAssign(df, vecCol, idCol, model, cb, m, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ivfPqTopKFromCodes(codes, model, cb, m, k, queries, kNN,
      nProbe, excludeSelf).localCheckpoint(true)
    codes.unpersist(blocking = false)
    out
  }

  // ---------------------------------------------------------------------
  // Scalar quantization (int8): the simplest vector-compression tier.
  // Each dimension is affinely mapped to an integer code 0..255 against
  // per-dimension corpus [min, max] bounds. Coarser than PQ (no
  // cross-dimension codebook) but parameter-free, exactly invertible to
  // a deterministic decoded grid, and 0..255 integer arrays bit-pack to
  // ~1 byte/dim in parquet (vs 4 for float32) — a 4x scan-bandwidth win
  // for the 100 TB serving tier that keeps per-dimension resolution.
  // ---------------------------------------------------------------------

  /** Per-dimension quantization bounds learned from the corpus. */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    val dim: Int = mins.length
    require(dim > 0, "SqModel needs at least one dimension")
    require(maxs.length == dim,
      s"mins/maxs length mismatch: $dim vs ${maxs.length}")
  }

  /** Learn per-dimension [min, max] in ONE partial-aggregated pass:
    * vectors explode to (i, v) per partition but combine map-side to
    * dim-many rows before the exchange, so the shuffle carries
    * partitions x dim rows regardless of corpus size.
    */
  def sqTrain(df: DataFrame, vecCol: String): SqModel = {
    val rows = df.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "v")))
      .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
      .orderBy("i").collect()
    require(rows.nonEmpty, "sqTrain: no non-null vectors")
    // fail loud on degenerate bounds: an all-null dimension gives null
    // min/max, and a NaN anywhere poisons max (Spark sorts NaN
    // greatest) — either would silently turn the dimension into a
    // constant-0 encode that no oracle replay agrees with
    rows.foreach { r =>
      val i = r.get(0)
      require(!r.isNullAt(1) && !r.isNullAt(2),
        s"sqTrain: dimension $i has no non-null values")
      require(!r.getDouble(1).isNaN && !r.getDouble(2).isNaN,
        s"sqTrain: NaN bound in dimension $i — quantization undefined")
    }
    SqModel(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** int8-encode every vector: `code_i = round((v_i - mn_i) * 255 /
    * (mx_i - mn_i))` (HALF_UP, the shared engine/oracle convention),
    * constant dimensions (mx == mn) encode 0. The native codegen
    * `SqEncode` kernel — a `zip_with` spelling of the same arithmetic
    * interprets its lambda per element (1.28B boxed evals at 20M x 64,
    * 167.7 s vs the kernel's one primitive loop; see
    * `plans/SqExpressions.scala` for the rounding-parity proof).
    * Returns (id, codes array<int> of 0..255).
    */
  def sqEncode(df: DataFrame, vecCol: String, idCol: String,
               model: SqModel): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        sqEncodeCol(col(vecCol), model).as("codes"))

  /** The encode kernel as a bare column (callers composing with
    * generators should wrap it in `Materialize.once` — posexplode's
    * generator pushdown otherwise re-evaluates it inside its own
    * size/notnull filters).
    */
  def sqEncodeCol(vec: Column, model: SqModel): Column =
    graft.plans.SqFunctions.sq_encode(vec, model.mins, model.maxs)

  /** Decode column for a codes array against the model's per-dimension
    * grid: `mn_i + code_i * (mx_i - mn_i) / 255` (the `SqDecode`
    * kernel evaluates the identical expression the oracle spells, so
    * decoded doubles are bit-equal on both engines).
    */
  private def sqDecodeCol(codesCol: Column, model: SqModel): Column =
    graft.plans.SqFunctions.sq_decode(codesCol, model.mins, model.maxs)

  /** Persist the SQ serving artifact — build once, serve forever: the
    * int8 codes (0..255 ints bit-pack to ~1 byte/dim in parquet) plus
    * the per-dimension bounds as a 1-file params JSON. The
    * [[writePqIndex]] layout convention.
    */
  def writeSqIndex(df: DataFrame, vecCol: String, idCol: String,
                   model: SqModel, path: String): Unit = {
    sqEncode(df, vecCol, idCol, model)
      .write.mode("overwrite").parquet(s"$path/codes")
    writeSqParams(df.sparkSession, model, path)
  }

  /** The bounds params file both SQ index layouts share — one
    * serialization, one place for [[readSqIndex]]'s parser to match.
    */
  private def writeSqParams(spark: org.apache.spark.sql.SparkSession,
                            model: SqModel, path: String): Unit = {
    val json = s"""{"mins":[${model.mins.mkString(",")}],""" +
      s""""maxs":[${model.maxs.mkString(",")}]}"""
    spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING)
      .coalesce(1).write.mode("overwrite").text(s"$path/params")
  }

  /** Read an SQ index back: (codes DataFrame, model). Double.toString
    * round-trips exactly, so the read-back decoded grid is bit-equal
    * to the writer's.
    */
  def readSqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): (DataFrame, SqModel) =
    (spark.read.parquet(s"$path/codes"), readSqParams(spark, path))

  private def readSqParams(spark: org.apache.spark.sql.SparkSession,
                           path: String): SqModel = {
    val json = spark.read.textFile(s"$path/params").head()
    def arr(key: String): Array[Double] =
      ("\"" + key + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(json)
        .map(_.group(1).split(",").map(_.toDouble))
        .getOrElse(sys.error(s"missing $key"))
    SqModel(arr("mins"), arr("maxs"))
  }

  /** Assign each vector to its coarse SOM cell and int8-encode it: the
    * composed IVF+SQ row layout (id, bmu_id, codes) — the SQ sibling
    * of [[ivfPqAssign]]. One scan computes both kernels per row.
    */
  def ivfSqAssign(df: DataFrame, vecCol: String, idCol: String,
                  model: graft.som.SomModel, sq: SqModel): DataFrame =
    model.withBmu(df, vecCol)
      .select(col(idCol).cast("long").as("id"), col("bmu_id"),
        sqEncodeCol(col(vecCol), sq).as("codes"))

  /** Persist the composed IVF+SQ index: codes partitioned on disk by
    * coarse cell (probe filters become PARTITION filters) + the
    * per-dimension bounds as a params file — the [[writeIvfPqIndex]]
    * layout with SQ's higher-resolution (and 8x larger) codes. The
    * coarse quantizer itself persists via `SomModel.save`.
    *
    * Lifecycle: the index at `path` is what its newest
    * [[graft.sources.IndexLog]] manifest lists — code batches
    * (`codes/batch=<name>/bmu_id=<cell>/`) and tombstone files. This
    * write commits its one batch as the whole index, so a rebuild at a
    * live path serves exactly the rows written, deletes of the earlier
    * build included; [[appendToIvfSqIndex]], [[deleteFromIvfIndex]]
    * and [[compactIvfIndex]] commit on top of it by the log's rule.
    */
  def writeIvfSqIndex(df: DataFrame, vecCol: String, idCol: String,
                      model: graft.som.SomModel, sq: SqModel,
                      path: String,
                      filesPerCell: Int = defaultFilesPerCell): Unit = {
    val unit = writeIvfCodes(ivfSqAssign(df, vecCol, idCol, model, sq),
      path, filesPerCell)
    writeSqParams(df.sparkSession, sq, path)
    graft.sources.IndexLog.overwrite(df.sparkSession, path, Seq(unit))
  }

  /** Write assigned `(id, bmu_id, codes)` rows, cell-clustered, as a
    * new code batch — the files of an append, before its commit.
    * Returns the batch's unit name.
    */
  private[graft] def writeIvfCodes(assigned: DataFrame, path: String,
                                   filesPerCell: Int): String =
    writeIvfBatch(clusterByCell(assigned, "bmu_id", xxhash64(col("id")),
      filesPerCell), path)

  /** Write laid-out codes as a new batch `codes/batch=<fresh name>/`,
    * one directory per cell — invisible until a commit lists it.
    */
  private def writeIvfBatch(laidOut: DataFrame, path: String): String = {
    val unit = s"batch=${graft.sources.IndexLog.freshName()}"
    laidOut.write.partitionBy("bmu_id").parquet(s"$path/codes/$unit")
    unit
  }

  /** Append a NEW batch into a persisted IVF+SQ index without
    * rebuilding it: encode the batch with the index's FROZEN
    * quantizers (coarse cells + per-dimension SQ bounds), write the
    * resulting code files as a new cell-partitioned batch and commit it.
    *
    * Cost is batch-sized — one scan of the batch, zero reads or
    * rewrites of the existing corpus codes (the new batch holds
    * directories only for the cells its rows land in). Serving is
    * unchanged: probe filters still prune to cell directories, and old
    * and new batches are indistinguishable to the reader — this is
    * the ingest path a 100 TB deployment runs nightly, where a full
    * re-encode of the corpus would cost 10^4x the batch.
    *
    * Parity contract (spec-pinned): append(base) -+ append(batch)
    * serves row-for-row identically to a one-shot build over
    * base∪batch with the same frozen quantizers. Batch values outside
    * the frozen [min, max] encode to out-of-range codes and decode
    * affinely back — the same unclamped contract as [[sqEncode]], so
    * the parity holds even when the batch drifts outside the trained
    * bounds (re-train + rebuild is a quality decision, not a
    * correctness one, and is deliberately NOT bundled here).
    */
  def appendToIvfSqIndex(batch: DataFrame, vecCol: String, idCol: String,
                         model: graft.som.SomModel, sq: SqModel,
                         path: String,
                         filesPerCell: Int = defaultFilesPerCell): Unit =
    graft.sources.IndexLog.append(batch.sparkSession, path, writeIvfCodes(
      ivfSqAssign(batch, vecCol, idCol, model, sq), path, filesPerCell))

  /** IVF+PQ sibling of [[appendToIvfSqIndex]]: encode the batch with
    * the frozen coarse cells + PQ codebook and append into the
    * [[writeIvfPqIndex]] layout. Same batch-sized cost and unchanged
    * serving contract.
    */
  def appendToIvfPqIndex(batch: DataFrame, vecCol: String, idCol: String,
                         model: graft.som.SomModel, cb: Array[Double],
                         m: Int, k: Int, path: String,
                         filesPerCell: Int = defaultFilesPerCell): Unit =
    graft.sources.IndexLog.append(batch.sparkSession, path, writeIvfCodes(
      ivfPqAssign(batch, vecCol, idCol, model, cb, m, k), path, filesPerCell))

  /** Read a persisted IVF+SQ index back as it serves: (live codes with
    * the `bmu_id` partition column, bounds). The live codes are the
    * newest manifest's batches with its tombstoned ids anti-joined out;
    * without tombstones there is no join.
    */
  def readIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): (DataFrame, SqModel) =
    (ivfCodes(spark, path, graft.sources.IndexLog.snapshot(spark, path)),
      readSqParams(spark, path))

  /** Read a persisted IVF+PQ index back as it serves: (live codes with
    * the `bmu_id` partition column, codebook, m, k) — the
    * [[readIvfSqIndex]] live read over the [[readPqIndex]] params.
    */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): (DataFrame, Array[Double], Int, Int) = {
    val (cb, m, k) = readPqParams(spark, path)
    (ivfCodes(spark, path, graft.sources.IndexLog.snapshot(spark, path)),
      cb, m, k)
  }

  /** The codes `snap` lists, tombstones applied. Both IVF layouts store
    * `(id, codes: array<int>)` under the `bmu_id` cell directories; the
    * read names that schema (no inference job), and its `basePath`
    * keeps `bmu_id` a partition column, so probe filters still prune.
    * The anti-join sits ABOVE the pruned scan; with a sane deletion
    * rate the tombstone side broadcasts.
    */
  private def ivfCodes(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       snap: graft.sources.IndexLog.Snapshot): DataFrame = {
    require(snap.data.nonEmpty, s"no IVF index at $path")
    val codes = spark.read.schema("id LONG, codes ARRAY<INT>, bmu_id INT")
      .option("basePath", s"$path/codes")
      .parquet(snap.data.map(u => s"$path/codes/$u"): _*)
      .drop("batch")
    graft.sources.IndexLog.tombstones(spark, path, snap, "id")
      .fold(codes)(t => codes.join(broadcast(t), Seq("id"), "left_anti"))
  }

  /** Delete rows from a persisted IVF index WITHOUT rewriting it: the
    * ids become one tombstone file of the index's log (batch-sized —
    * the immutable code files are never touched). The removal paths a
    * pipeline actually runs — dedup verdicts and per-id erasure
    * requests — are both id-lists, and at 100 TB rewriting cells
    * synchronously for each would cost more than the whole ingest.
    * [[readIvfSqIndex]] / [[readIvfPqIndex]] serve without the ids;
    * [[compactIvfIndex]] folds them into the files for real.
    */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String, path: String): Unit =
    graft.sources.IndexLog.delete(
      ids.select(col(idCol).cast("long").as("id")), path)

  /** Maintenance for an append-heavy IVF index (SQ or PQ layout):
    * every [[appendToIvfSqIndex]] adds one file per (batch, task) to
    * its cells, and at nightly-ingest cadence a hot cell accumulates
    * thousands of small files whose open/footer cost eventually
    * dominates the pruned serve scan. This folds the newest snapshot
    * into ONE new batch in place: its live rows (tombstones applied)
    * are laid out again by cell, each cell in ~`targetFileBytes` files
    * sized by the cell's own input bytes, and the new batch replaces
    * exactly the snapshot's batches and tombstones by
    * [[graft.sources.IndexLog]]'s commit rule — anything committed
    * while the fold ran stays live. The params file is untouched.
    * Returns (input files, output files).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      targetFileBytes: Long = 512L * 1024 * 1024): (Int, Int) =
    compactIvfSnapshot(spark, path,
      graft.sources.IndexLog.snapshot(spark, path), targetFileBytes)

  /** [[compactIvfIndex]] of a given snapshot `snap` of `path`. */
  private[graft] def compactIvfSnapshot(spark: org.apache.spark.sql.SparkSession,
                                        path: String,
                                        snap: graft.sources.IndexLog.Snapshot,
                                        targetFileBytes: Long): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    def parquetFiles(dir: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val it = p.getFileSystem(conf).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    }
    val inFiles = snap.data.flatMap(u => parquetFiles(s"$path/codes/$u"))
    // files per cell from the cell's input bytes; the salted
    // cell-clustered repartition spreads a hot cell over that many
    // tasks (r11: a bare `repartition(bmu_id)` pinned a hot cell's
    // whole rewrite on ONE task), routing and static pruning intact
    val filesOfCell = inFiles
      .groupBy(_.getPath.getParent.getName.stripPrefix("bmu_id=").toInt)
      .map { case (cell, fs) =>
        cell -> math.max(1L,
          (fs.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes).toInt
      }
    val unit = writeIvfBatch(ivfCodes(spark, path, snap)
      .repartition(col("bmu_id"), pmod(xxhash64(col("id")),
        element_at(typedLit(filesOfCell), col("bmu_id")))), path)
    graft.sources.IndexLog.replace(spark, path, snap, Seq(unit))
    (inFiles.length, parquetFiles(s"$path/codes/$unit").length)
  }

  /** Serve cosine top-k from an assigned-codes table (inline
    * [[ivfSqAssign]] output or a [[writeIvfSqIndex]] read-back): ONE
    * scan answers the whole query batch, a single query being a batch
    * of one. The scan prunes to the UNION of the probed cells (with the
    * partitioned index the `isin` on `bmu_id` is a static partition
    * filter), each row's int8 codes decode ONCE through the `SqDecode`
    * kernel (projection below the join), a broadcast (cell -> probing
    * queries) join pairs each decoded row with exactly the queries
    * probing its cell, `VecCosine` scores the pair against the FLOAT
    * query, and the bounded-heap aggregate reduces to kNN per query
    * before the shuffle. Cell pruning is the only approximation beyond
    * the quantization grid (no ADC table); neither unprobed cells nor
    * any float vector is read. Returns (qid, rank, nid, sim).
    */
  def ivfSqTopKFromCodes(codes: DataFrame, model: graft.som.SomModel,
                         sq: SqModel, queries: Seq[(Long, Array[Double])],
                         kNN: Int, nProbe: Int,
                         excludeSelf: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "ivfSqTopKFromCodes needs at least one query")
    val spark = codes.sparkSession
    import spark.implicits._
    // two broadcasts, the cellTopK shape: the (qid, cell) probe pairs
    // and a separate (qid -> query vector) table — inlining qv onto
    // every probe row would ship each vector nProbe times
    val cells = somCells(model)
    val probes = queries.flatMap { case (qid, q) =>
      nearestCells(cells(q), nProbe).map(c => (qid, c))
    }
    val probeDf = probes.toDF("qid", "bmu_id")
    val qDf = queries.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qv")
    val allCells = probes.map(_._2).distinct
    val dec = codes.where(col("bmu_id").isin(allCells: _*))
      .select(col("id"), col("bmu_id"),
        sqDecodeCol(col("codes"), sq).as("dv"))
    dec.join(broadcast(probeDf), Seq("bmu_id"))
      .join(broadcast(qDf), Seq("qid"))
      .where(if (excludeSelf) col("qid") =!= col("id") else lit(true))
      .select(col("qid"), col("id").as("nid"),
        cosine(col("dv"), col("qv")).as("sim"))
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("sim")), col("nid"), kNN).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("p.id").as("nid"), round(negate(col("p.s")), 6).as("sim"))
  }

  /** End-to-end composed IVF+SQ: assign + encode once, serve the
    * batch via [[ivfSqTopKFromCodes]] — [[ivfPqTopK]]'s shape for the
    * SQ tier.
    */
  def ivfSqTopK(df: DataFrame, vecCol: String, idCol: String,
                model: graft.som.SomModel, sq: SqModel,
                queries: Seq[(Long, Array[Double])], kNN: Int,
                nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    val codes = ivfSqAssign(df, vecCol, idCol, model, sq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ivfSqTopKFromCodes(codes, model, sq, queries, kNN, nProbe,
      excludeSelf).localCheckpoint(true)
    codes.unpersist(blocking = false)
    out
  }

  /** Serve exact-over-compressed top-k: decode each stored code vector
    * on the fly (codegen `zip_with`, no shuffle added) and rank decoded
    * candidates against the FLOAT queries with the same bounded-heap
    * cosine pass as [[bruteForceTopK]] — the scan reads ~1-byte/dim
    * codes instead of float32, which is the point at 100 TB. Returns
    * (qid, rank, nid, sim) against the decoded grid.
    */
  def sqTopK(codes: DataFrame, codesCol: String, idCol: String,
             model: SqModel, queries: Seq[(Long, Array[Double])], k: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val dec = codes.select(col(idCol).cast("long").as(idCol),
      sqDecodeCol(col(codesCol), model).as("__dv"))
    bruteForceTopK(dec, "__dv", idCol, queries, k, excludeSelf)
  }
}
