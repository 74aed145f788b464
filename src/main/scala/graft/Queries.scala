package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.som._

/** The driver-checked query inventory: every operator from SURVEY.md §2
  * gets an entry here, plus the LLM-data-pipeline operators. Queries that
  * are ANSI-SQL-expressible also get a DuckDB oracle in `oracles`
  * (column names and types must match exactly — everything numeric is
  * cast to BIGINT/DOUBLE and float outputs are rounded to 6 decimals on
  * both sides).
  *
  * SOM inference queries run against a FIXED deterministic codebook (the
  * first 9 embeddings by vec_id, a 3x3 map) so the oracle can recompute
  * them; training itself is exercised by `som_epoch_update` (one epoch
  * from that codebook — SQL-expressible) and by the non-oracled
  * `som_train_*` queries.
  */
object Queries {

  /** Ingest contract for the two corpus tables.
    *
    * `docs` is the NON-NULL-TEXT view of `documents.parquet`: every
    * text operator (dedup, gopher, sampling, tf-idf, chunking, spans,
    * …) reads it, and each oracle mirrors the contract with
    * `WHERE text IS NOT NULL`. The one deliberate exception is
    * `corpus_stats`, which reads the UNFILTERED table via its own
    * `s.read.parquet` — the report card's null-text accounting
    * (`n_null_text`, `count(text)` vs `count(*)`) is part of its
    * output and would vanish under this view. `emb` is the embeddings
    * table as-is (`vec_id`, `embedding: array<float>`, no nulls by
    * construction — see TESTDATA.md).
    */
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  /** A query over the embeddings read once: `f(s, dir, e)`. Every
    * `read.parquet` infers the schema with a one-task job, so a query
    * that needs the table in several places passes `e` along.
    */
  private def onEmb(f: (SparkSession, String, DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => f(s, dir, emb(s, dir))
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .where(org.apache.spark.sql.functions.col("text").isNotNull)

  /** The ANN-family query batch: the first 5 embeddings by vec_id as
    * (qid, double vector). ONE definition — every query that fuses or
    * compares rankings (rrf, recall) depends on all of them selecting
    * the same batch the oracles' LIMIT 5 replays.
    */
  private def embQueries(e: DataFrame): Seq[(Long, Array[Double])] =
    e.orderBy("vec_id").limit(5).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)).toSeq

  /** The mining/audit-family anchor batch: the first 8 vec_ids. ONE
    * definition — the three oracles' LIMIT 8 must stay in lockstep
    * with every query that uses it (same rule as [[embQueries]]).
    */
  private def embQueryIds(e: DataFrame): Seq[Long] =
    e.select(col("vec_id").cast("long")).orderBy(col("vec_id"))
      .limit(8).collect().map(_.getLong(0)).toSeq

  /** Anchor ids for the LABEL-dependent mining/audit queries
    * (mine_hard_negatives / mine_triplets / label_consistency): first 8
    * vec_ids WITH a non-NULL label. queryBatch requires non-null
    * anchors, so an unlabeled vec_id in the first 8 would throw on the
    * engine side while the DuckDB oracles silently skipped it — both
    * sides now restrict to labeled anchors (oracle qids CTEs carry the
    * matching `label IS NOT NULL`).
    */
  private def embLabeledQueryIds(e: DataFrame): Seq[Long] =
    e.where(col("label").isNotNull)
      .select(col("vec_id").cast("long")).orderBy(col("vec_id"))
      .limit(8).collect().map(_.getLong(0)).toSeq

  /** dedup_pr's fixed-size eval sample: the metric's quadratic truth
    * leg is bounded at prSampleN^2/2 pairs no matter the corpus size.
    */
  private val prSampleN = 256

  /** quality_train_* hyperparameters — tools/gen_logit_oracle.py
    * re-derives the expected rows with these SAME values; change them
    * together.
    */
  private val logitIters = 150
  private val logitLr = 1.0

  /** The quality_train_* label (an upstream keep/drop decision recorded
    * in metadata, distilled into a text-only gate) — ONE spelling
    * shared by all four queries; the 200-char cutoff is mirrored by
    * tools/gen_logit_oracle.py.
    */
  private def logitLabel: org.apache.spark.sql.Column =
    when(col("n_chars") >= 200, 1.0).otherwise(0.0)

  /** Features + trained model shared by the quality_train_* queries —
    * one derivation, so the four entries cannot drift apart. MEMOIZED
    * per (session, dataset dir): quality_train_weights/_score/_eval and
    * uncertainty_sample all need the SAME 150-iteration GD fit, and
    * without the cache a suite run trains it four times (~6 s each at
    * sf0.1). The model is a plain value and the features DataFrame is a
    * lazy plan (safe to reuse across queries); keying on the session
    * OBJECT (not its identityHashCode, which is reused after GC and
    * can collide across live sessions) keeps a cached plan from being
    * handed to a different SparkSession in multi-session tests. The
    * strong key pins the session for the cache's lifetime — the same
    * pinning the cached DataFrame's plan already implies — so a small
    * cap bounds what a long-lived multi-session JVM can accumulate.
    */
  private val gateCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, graft.operators.LogitTrain.Model)]
  private def trainedGate(s: SparkSession, dir: String)
      : (DataFrame, graft.operators.LogitTrain.Model) = {
    // evict only OTHER sessions' entries at the cap: a wholesale clear()
    // would drop the live session's trained gates too, and a test
    // rotating >8 (session, dir) pairs would thrash back to retraining
    // every call (advice finding); dead sessions' strong keys are also
    // exactly what this releases
    if (gateCache.size > 8 && !gateCache.contains((s, dir))) {
      gateCache.keys.filter(_._1 ne s).foreach(gateCache.remove)
      if (gateCache.size > 8) gateCache.clear() // one session, >8 dirs
    }
    gateCache.getOrElseUpdate((s, dir), {
      val feats = graft.operators.LogitTrain.features(docs(s, dir),
        "text", "doc_id", logitLabel)
      (feats, graft.operators.LogitTrain.train(feats,
        iters = logitIters, lr = logitLr))
    })
  }

  /** The DuckDB spelling of the same selection (self-contained, usable
    * inside nested WITH chains).
    */
  private val prSampleSql: String =
    "SELECT doc_id FROM documents WHERE text IS NOT NULL " +
      "ORDER BY substr(md5(concat('pr', CAST(doc_id AS VARCHAR))), 1, 8), doc_id " +
      s"LIMIT $prSampleN"

  /** First 9 embeddings by vec_id as a 3x3 codebook (driver-local, like
    * the reference's in-core codebook).
    */
  private def fixedRows(e: DataFrame): Seq[Array[Double]] =
    e.orderBy("vec_id").limit(9).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toSeq

  /** First 16 embeddings by vec_id: the deterministic PQ codebook sample
    * (16 centroids per subspace).
    */
  private def pqRows(e: DataFrame): Seq[Array[Double]] =
    e.orderBy("vec_id").limit(16).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toSeq

  private def fixedModel(e: DataFrame, distance: String = "euclidean",
                         normP: Double = 2.0): SomModel =
    SomModel.fromWeights(
      SomConfig(3, 3, distance = distance, normP = normP), fixedRows(e))

  /** Shared oracle CTE: codebook + per-(sample, neuron) squared euclidean
    * distance, all math in DOUBLE.
    */
  private val cbDistCte: String =
    """WITH cb AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
      |), d AS (
      |  SELECT e.vec_id, c.nid,
      |         sum((CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))
      |           * (CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))) AS dist2
      |  FROM embeddings e CROSS JOIN cb c,
      |       LATERAL (SELECT unnest(e.embedding) AS v,
      |                       generate_subscripts(e.embedding, 1) AS i) u
      |  GROUP BY e.vec_id, c.nid
      |)""".stripMargin

  /** Shared PQ replay prefix: 16-centroid codebook from the first 16
    * embeddings, per-(vector, subspace) squared L2 to every centroid's
    * matching subvector, and the resulting argmin codes. Subspace j of
    * centroid c reads the same element indices of the full codebook row,
    * so the cross join needs no explicit slicing.
    */
  private val pqCodesCte: String =
    """WITH pqcb AS MATERIALIZED (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, embedding AS w
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
      |), pqex AS MATERIALIZED (
      |  SELECT vec_id, len(embedding) // 8 AS sdim,
      |         generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings
      |), pqsd AS MATERIALIZED (
      |  SELECT e.vec_id, (e.i - 1) // e.sdim AS sub_id, c.cid,
      |         sum((e.v - CAST(c.w[e.i] AS DOUBLE))
      |           * (e.v - CAST(c.w[e.i] AS DOUBLE))) AS d2
      |  FROM pqex e CROSS JOIN pqcb c
      |  GROUP BY e.vec_id, (e.i - 1) // e.sdim, c.cid
      |), codes AS MATERIALIZED (
      |  SELECT vec_id, sub_id, (array_agg(cid ORDER BY d2 ASC, cid ASC))[1] AS code
      |  FROM pqsd GROUP BY vec_id, sub_id
      |)""".stripMargin

  /** Shared int8 scalar-quantization replay prefix: per-dimension
    * corpus [min, max], then the affine 0..255 codes — the identical
    * round-HALF_UP expression the engine's `Similarity.sqEncode`
    * evaluates, so codes are bit-equal on both engines.
    */
  /** `boundsWhere` restricts the rows the [min, max] bounds train on
    * (the frozen-quantizer incremental-append replay); "" = the whole
    * corpus. The affine encode spelling stays in this ONE string.
    */
  private def sqCodesCtesFor(boundsWhere: String): String =
    s"""sqex AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings
      |), sqmm AS MATERIALIZED (
      |  SELECT i, min(v) AS mn, max(v) AS mx FROM sqex $boundsWhere GROUP BY i
      |), sqcodes AS MATERIALIZED (
      |  SELECT e.vec_id, e.i, CASE WHEN m.mx = m.mn THEN 0
      |         ELSE CAST(round((e.v - m.mn) * 255.0 / (m.mx - m.mn), 0) AS BIGINT)
      |         END AS code
      |  FROM sqex e JOIN sqmm m USING (i))""".stripMargin

  private val sqCodesCtes: String = sqCodesCtesFor("")

  /** The SQ serving chain over `sqCodesCtes` up to the ranked rows
    * `sqranked` (qid, nid, sim, rn) — shared by the `sq_topk` and
    * `sq_recall` oracles.
    */
  /** The decode CTE alone — the affine spelling that must stay
    * bit-identical to the `SqDecode` kernel lives in exactly ONE
    * string (sq_topk/sq_recall via [[sqServeCtes]], and ann_ivfsq).
    */
  private val sqDecCte: String =
    """sqdec AS MATERIALIZED (
      |  SELECT c.vec_id, c.i, CASE WHEN m.mx = m.mn THEN m.mn
      |         ELSE m.mn + CAST(c.code AS DOUBLE) * (m.mx - m.mn) / 255.0
      |         END AS dv
      |  FROM sqcodes c JOIN sqmm m USING (i))""".stripMargin

  private val sqServeCtes: String =
    s"""$sqDecCte,
      |sqq AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 5),
      |sqqn AS (SELECT vec_id, sum(v * v) AS nrm FROM sqex
      |         WHERE vec_id IN (SELECT qid FROM sqq) GROUP BY vec_id),
      |sqdn AS (SELECT vec_id, sum(dv * dv) AS nrm FROM sqdec GROUP BY vec_id),
      |sqdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.dv) AS dot
      |  FROM sqex a JOIN sqdec b ON a.i = b.i AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id IN (SELECT qid FROM sqq)
      |  GROUP BY a.vec_id, b.vec_id),
      |sqranked AS (
      |  SELECT d.qid, d.nid,
      |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
      |              ELSE d.dot / sqrt(nq.nrm * nn.nrm) END AS sim,
      |         row_number() OVER (PARTITION BY d.qid
      |           ORDER BY (CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
      |                          ELSE d.dot / sqrt(nq.nrm * nn.nrm) END) DESC,
      |                    d.nid ASC) AS rn
      |  FROM sqdots d JOIN sqqn nq ON nq.vec_id = d.qid
      |              JOIN sqdn nn ON nn.vec_id = d.nid)""".stripMargin

  // ------------------------------------------------------------ queries

  val all: Map[String, (SparkSession, String) => DataFrame] =
    somQueries ++ pipelineQueries ++ relationalQueries

  private lazy val somQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // winner / predict (xpysom.py:370-417,608-617)
    "som_winner" -> onEmb((s, dir, e) =>
      fixedModel(e).transform(e, "embedding")
        .select(col("vec_id").cast("long").as("vec_id"),
                col("bmu_id").cast("long").as("bmu_id"))),

    // activation_response (xpysom.py:819-829)
    "som_activation_response" -> onEmb((s, dir, e) =>
      fixedModel(e).activationResponse(e, "embedding")
        .select(col("bmu_id").cast("long").as("bmu_id"),
                col("n_wins").cast("long").as("n_wins"))),

    // win_map (xpysom.py:831-840) in relational form: group key + member
    "som_win_map" -> onEmb((s, dir, e) =>
      fixedModel(e).transform(e, "embedding")
        .select(col("bmu_id").cast("long").as("bmu_id"),
                col("vec_id").cast("long").as("vec_id"))),

    // labels_map (xpysom.py:842-865)
    "som_labels_map" -> onEmb((s, dir, e) =>
      fixedModel(e).labelsMap(e, "label", "embedding")
        .select(col("bmu_id").cast("long").as("bmu_id"),
                col("label").cast("long").as("label"),
                col("n").cast("long").as("n"))),

    // quantization (xpysom.py:620-645)
    "som_quantization" -> onEmb((s, dir, e) =>
      fixedModel(e).quantize(e, "embedding")
        .select(col("vec_id").cast("long").as("vec_id"),
                posexplode(col("quantized")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
                col("q").cast("double").as("q"))),

    // quantization_error (xpysom.py:673-707)
    "som_quantization_error" -> onEmb((s, dir, e) => {
      val qe = fixedModel(e).quantizationError(e, "embedding")
      s.createDataFrame(Seq(Tuple1(r6(qe)))).toDF("qe")
    }),

    // topographic_error (xpysom.py:709-746)
    "som_topographic_error" -> onEmb((s, dir, e) => {
      val te = fixedModel(e).topographicError(e, "embedding")
      s.createDataFrame(Seq(Tuple1(r6(te)))).toDF("te")
    }),

    // distance kernels (distances.py) exploded per (sample, neuron)
    "som_distance_euclidean" -> ((s, dir) =>
      distanceQuery(s, dir, "euclidean_no_opt", sqrtDist = true)),
    "som_distance_cosine" -> ((s, dir) =>
      distanceQuery(s, dir, "cosine", sqrtDist = false)),
    "som_distance_manhattan" -> ((s, dir) =>
      distanceQuery(s, dir, "manhattan", sqrtDist = false)),
    "som_distance_norm_p3" -> ((s, dir) =>
      distanceQuery(s, dir, "norm_p", sqrtDist = false, normP = 3.0)),

    // one full training epoch from the fixed codebook (xpysom.py:420-455)
    "som_epoch_update" -> onEmb((s, dir, e) => {
      val som = new Som(SomConfig(3, 3, sigma = 1.0, stdCoeff = 0.5, seed = 0))
      val model = som.fit(e, "embedding", numEpochs = 1,
        init = Codebook.fromRows(3, 3, fixedRows(e)))
      val rows = for (n <- 0 until 9; c <- 0 until model.dim) yield
        (n.toLong, c.toLong, r6(model.codebook.weights(n * model.dim + c)))
      s.createDataFrame(rows).toDF("nid", "dim", "w")
    }),

    // decay schedules (decays.py)
    "som_decays" -> ((s, dir) => {
      val rows = (0 until 10).map { t =>
        (t.toLong,
          r6(Decay.Linear(0.5, 0.01, t, 10)),
          r6(Decay.Exponential(0.5, 0.01, t, 10)),
          r6(Decay.Asymptotic(0.5, 0.01, t, 10)))
      }
      s.createDataFrame(rows).toDF("t", "lin", "exp", "asym")
    }),

    // neighborhood kernels (neighborhoods.py) over all centers of a 5x5 grid
    "som_neighborhood_gaussian" -> ((s, dir) => neighborhoodQuery(s, "gaussian")),
    "som_neighborhood_mexican_hat" -> ((s, dir) => neighborhoodQuery(s, "mexican_hat")),
    "som_neighborhood_bubble" -> ((s, dir) => neighborhoodQuery(s, "bubble")),
    "som_neighborhood_triangle" -> ((s, dir) => neighborhoodQuery(s, "triangle")),

    // U-matrix over the fixed codebook (xpysom.py:788-817)
    "som_umatrix" -> onEmb((s, dir, e) => {
      val dm = Codebook.fromRows(3, 3, fixedRows(e)).distanceMap(Rectangular(3, 3))
      val rows = for (i <- 0 until 3; j <- 0 until 3)
        yield (i.toLong, j.toLong, r6(dm(i)(j)))
      s.createDataFrame(rows).toDF("i", "j", "u")
    }),

    // hexagonal euclidean coordinates (xpysom.py:291-320,205-206)
    "som_hex_coords" -> ((s, dir) => {
      val m = SomModel.fromWeights(
        SomConfig(5, 5, topology = "hexagonal"),
        Seq.fill(25)(Array(0.0)))
      val rows = m.euclideanCoordinates.map { case (i, j, ex, ey) =>
        (i.toLong, j.toLong, ex, ey)
      }
      s.createDataFrame(rows).toDF("i", "j", "ex", "ey")
    }),

    // winner under cosine activation distance (distances.py:45-59)
    "som_winner_cosine" -> onEmb((s, dir, e) =>
      fixedModel(e, distance = "cosine").transform(e, "embedding")
        .select(col("vec_id").cast("long").as("vec_id"),
                col("bmu_id").cast("long").as("bmu_id"))),

    // U-matrix under hexagonal topology (parity-dependent offsets,
    // xpysom.py:802-810)
    "som_umatrix_hex" -> onEmb((s, dir, e) => {
      val dm = Codebook.fromRows(3, 3, fixedRows(e)).distanceMap(Hexagonal(3, 3))
      val rows = for (i <- 0 until 3; j <- 0 until 3)
        yield (i.toLong, j.toLong, r6(dm(i)(j)))
      s.createDataFrame(rows).toDF("i", "j", "u")
    }),

    // topographic error under hexagonal topology (xpysom.py:741-746,
    // including the transposed meshgrid-indexing quirk)
    "som_topographic_error_hex" -> onEmb((s, dir, e) => {
      val m = SomModel.fromWeights(
        SomConfig(3, 3, topology = "hexagonal"), fixedRows(e))
      val te = m.topographicError(e, "embedding")
      s.createDataFrame(Seq(Tuple1(r6(te)))).toDF("te")
    }),

    // winner via the native som_bmu Catalyst expression (same semantics
    // as som_winner, exercised through the codegen/streaming-safe path)
    "som_winner_expr" -> onEmb((s, dir, e) =>
      fixedModel(e).withBmu(e, "embedding")
        .select(col("vec_id").cast("long").as("vec_id"),
                col("bmu_id").cast("long").as("bmu_id"))),

    // distributed PCA init (xpysom.py:762-785). The eigendecomposition
    // itself is not SQL-expressible, but every link of the derivation
    // IS checkable as an invariant: data -> sample covariance C (its
    // trace recomputed INDEPENDENTLY by the DuckDB oracle as the sum of
    // per-dimension var_samp), C -> verified eigen basis (residual
    // max|C*V - V*Lambda| = 0 over ALL pairs, descending eigenvalues,
    // sum(lambda) = trace(C), sign convention), basis -> codebook
    // (w(2,1)/w(1,2) equal ROWS 0/1 of V — the reference's row quirk —
    // which are unit-norm because V is orthogonal), and the grid
    // structure (antisymmetric, separable, zero center — i.e.
    // w(i,j) = c1(i)*pc0 + c2(j)*pc1 over linspace(-1,1)). Exact weight
    // values are additionally golden-pinned in SomInitSpec.
    "som_pca_init" -> ((s, dir) => {
      val som = new Som(SomConfig(3, 3))
      // ONE distributed covariance pass feeds both the init (pcaFromCov,
      // as pcaInit composes it) and the invariant checks — calling
      // pcaInit AND sampleCovariance would scan the data twice for
      // bit-identical matrices
      val (cov, _) = som.sampleCovariance(emb(s, dir), "embedding")
      val cb = Codebook.pcaFromCov(3, 3, cov)
      val (v, lam) = Codebook.eigenBasis(cov)
      val d = cb.dim
      def w(i: Int, j: Int): Array[Double] =
        cb.weights.slice((i * 3 + j) * d, (i * 3 + j + 1) * d)
      def maxAbs(a: Array[Double]): Double = a.map(math.abs).max
      def norm(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)
      val pc0 = w(2, 1); val pc1 = w(1, 2)
      // residual of the full diagonalization: C * col_k - lambda_k * col_k
      val eigResid = (0 until d).map { k =>
        val colK = Array.tabulate(d)(r => v(r)(k))
        maxAbs(Array.tabulate(d)(r =>
          (0 until d).map(c => cov(r)(c) * colK(c)).sum - lam(k) * colK(r)))
      }.max
      val grid = for (i <- 0 to 2; j <- 0 to 2) yield (i, j)
      val antisym = grid.map { case (i, j) =>
        maxAbs(w(i, j).zip(w(2 - i, 2 - j)).map { case (a, b) => a + b }) }.max
      val separable = (for ((i, j) <- grid; (k, l) <- grid) yield maxAbs(
        Array.tabulate(d)(c => w(i, j)(c) + w(k, l)(c) - w(i, l)(c) - w(k, j)(c)))).max
      def flag(b: Boolean): Double = if (b) 1.0 else 0.0
      val checks = Seq(
        "n_rows" -> 9.0,
        "n_dims" -> d.toDouble,
        "center_zero" -> r6(maxAbs(w(1, 1))),
        "antisym" -> r6(antisym),
        "separable" -> r6(separable),
        "unit_pc0" -> r6(norm(pc0)),
        "unit_pc1" -> r6(norm(pc1)),
        "ortho_pc01" -> r6(math.abs(pc0.zip(pc1).map { case (a, b) => a * b }.sum)),
        "eig_resid" -> r6(eigResid),
        "eig_desc" -> flag(lam.zip(lam.tail).forall { case (a, b) => a >= b - 1e-12 }),
        "lam_sum_is_trace" -> flag(
          math.abs(lam.sum - (0 until d).map(i => cov(i)(i)).sum) < 1e-9),
        "pc_rows_match" -> r6(math.max(
          maxAbs(pc0.zip(v(0)).map { case (a, b) => a - b }),
          maxAbs(pc1.zip(v(1)).map { case (a, b) => a - b }))),
        // no sign_pc* check: the sign convention normalizes COLUMNS of V
        // (first nonzero positive), which rows 0/1 alone cannot witness —
        // it is golden-pinned in SomInitSpec instead
        "cov_trace" -> r4((0 until d).map(i => cov(i)(i)).sum))
      s.createDataFrame(checks).toDF("chk", "v")
    }),

    // sample init (xpysom.py:749-759): the seeded takeSample stream is
    // Spark-internal (not replayable cross-engine), but the DRAW
    // CONTRACT is: exactly x*y rows, each a member of the dataset —
    // checked by joining every codebook row against the distinct
    // dataset vectors on exact array<double> equality. A wrong sampler
    // (out-of-dataset vector, wrong count, wrong dim) flips a flag and
    // fails the hash. Seed determinism is golden-pinned in SomInitSpec.
    "som_sample_init" -> onEmb((s, dir, e) => {
      val cb = new Som(SomConfig(3, 3, seed = 7)).sampleInit(e, "embedding")
      val rows = (0 until cb.numNeurons).map(n =>
        (n.toLong, cb.weights.slice(n * cb.dim, (n + 1) * cb.dim).toSeq))
      val cbDf = s.createDataFrame(rows).toDF("nid", "w")
      // scale note: at 100 TB the 9-row codebook side broadcasts and the
      // dataset side stays a single scan — written join-order-agnostic
      // here, AQE picks the broadcast
      val members = e
        .select(col("embedding").cast("array<double>").as("w")).distinct()
        .withColumn("__hit", lit(1L))
      cbDf.join(members, Seq("w"), "left")
        .select(col("nid"), coalesce(col("__hit"), lit(0L)).as("is_member"),
                lit(cb.dim.toLong).as("dim"))
    }),

    // save/load round-trip driven end-to-end: persist the fixed
    // codebook, reload, assign winners — oracled against the same
    // codebook SQL as som_winner, so a lossy round-trip flips BMUs
    // and fails the hash (xpysom.py:868-892 pickle-parity analogue)
    "som_save_load_winner" -> onEmb((s, dir, e) => {
      // unique per (JVM, corpus): concurrent Verify runs over different
      // corpora must not race on the round-trip scratch dir
      val path = s"/tmp/graft_model_roundtrip_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
      fixedModel(e).save(s, path)
      SomModel.load(s, path).transform(e, "embedding")
        .select(col("vec_id").cast("long").as("vec_id"),
                col("bmu_id").cast("long").as("bmu_id"))
    }),

    // CSV source driven end-to-end: embeddings -> CSV (floats as
    // shortest-round-trip strings, so the trip is lossless) -> read back
    // -> winners; same oracle as som_winner (§2.1 example-CSV-source row)
    "som_csv_source_winner" -> onEmb((s, dir, e) => {
      val path = s"/tmp/graft_csv_roundtrip_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
      e.select(col("vec_id"), concat_ws(";", col("embedding")).as("emb"))
        .write.mode("overwrite").option("header", "true").csv(path)
      val back = s.read.option("header", "true").csv(path)
        .select(col("vec_id").cast("long").as("vec_id"),
                split(col("emb"), ";").cast("array<float>").as("embedding"))
      fixedModel(e).transform(back, "embedding")
        .select(col("vec_id"), col("bmu_id").cast("long").as("bmu_id"))
    }),

    // full training on embeddings — oracled by replaying the seeded
    // init + 3 unrolled epochs in SQL (TrainOracleSql)
    "som_train_activation_response" -> ((s, dir) => {
      val df = emb(s, dir)
      val model = new Som(SomConfig(6, 6, seed = 42)).fit(df, "embedding", numEpochs = 3)
      model.activationResponse(df, "embedding")
        .select(col("bmu_id").cast("long").as("bmu_id"),
                col("n_wins").cast("long").as("n_wins"))
    }),

    // same training replay FORCED onto the distributed epoch loop
    // (localFitThreshold = 0): at verify scale every other som_* query
    // takes the tiny-input local fast path, so this is the driver-gate
    // pin that the DISTRIBUTED trainer still produces the oracle's
    // exact result — the local==distributed bit-identity contract,
    // checked by DuckDB rather than only by sbt
    "som_train_distributed" -> ((s, dir) => {
      val df = emb(s, dir)
      val model = new Som(SomConfig(6, 6, seed = 42, localFitThreshold = 0L))
        .fit(df, "embedding", numEpochs = 3)
      model.activationResponse(df, "embedding")
        .select(col("bmu_id").cast("long").as("bmu_id"),
                col("n_wins").cast("long").as("n_wins"))
    })
  )

  // ---------------------------------------------- pipeline operators

  private lazy val pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.functions.TextFunctions._
    import graft.operators.{Corpus, Dedup, Multimodal, Packing, Similarity}
    Map(
      // exact dedup groups by content fingerprint
      "dedup_exact" -> ((s, dir) => Dedup.exactGroups(docs(s, dir), "text", "doc_id")),

      // metadata attach over BUCKETED tables: content fingerprints and
      // quality stats are each written once bucketed+sorted by doc_id,
      // and every later join between them (the repeated pattern of a
      // curation pipeline: attach scores, attach dedup verdicts, attach
      // routing) runs with NO Exchange on either side — the write
      // amortized the shuffle (plan shape pinned in BucketedSpec; dup
      // discovery over an fp-bucketed corpus is the same shape). The
      // bucketed layout changes the plan, not the answer: values are
      // oracled by the plain join replay. Scratch convention: the
      // (pid, corpus)-tagged table names and /tmp dirs are REUSED and
      // overwritten on re-runs within a process (bounded growth, like
      // the CSV/JSONL round-trip queries); they cannot be dropped here
      // because the returned frame reads them lazily.
      "bucketed_meta_join" -> ((s, dir) => {
        val tag = s"${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        val (ta, tb) = (s"graft_bkt_fp_$tag", s"graft_bkt_q_$tag")
        val d = docs(s, dir)
        graft.sources.Bucketed.writeBucketed(
          d.select(col("doc_id").cast("long").as("doc_id"),
                   docFingerprint(col("text")).as("fp")),
          ta, s"/tmp/$ta", "doc_id", 8)
        graft.sources.Bucketed.writeBucketed(
          d.select(col("doc_id").cast("long").as("doc_id"),
                   col("n_chars").cast("long").as("n_chars"), col("lang")),
          tb, s"/tmp/$tb", "doc_id", 8)
        graft.sources.Bucketed.table(s, ta)
          .join(graft.sources.Bucketed.table(s, tb).hint("merge"), Seq("doc_id"))
          .select(col("doc_id"), col("fp"), col("n_chars"), col("lang"))
      }),

      // per-document fingerprint (rolling/content hash)
      "doc_fingerprint" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
                            docFingerprint(col("text")).as("fp"))),

      // language-routed layout driven end-to-end: documents written
      // partitionBy(lang) (one directory per language, one file per
      // directory), read back with a two-language route filter that
      // lands in PartitionFilters — unrequested directories are never
      // opened (pruning proof in PartitionedSpec, same style as the
      // IVF index). The layout changes the scan, not the answer: the
      // oracle replays the filtered aggregate on the parquet table.
      "routed_lang_read" -> ((s, dir) => {
        val path = s"/tmp/graft_routed_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        graft.sources.Partitioned.writeRouted(
          docs(s, dir).select(col("doc_id"), col("text"),
                              col("n_chars"), col("lang")),
          path, "lang")
        graft.sources.Partitioned.readRouted(s, path, "lang", Seq("en", "de"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
               sum(col("n_chars")).cast("long").as("sum_chars"))
      }),

      // JSONL source driven end-to-end: documents -> newline-delimited
      // JSON (Spark escapes embedded newlines/quotes/unicode inside
      // JSON strings, so a line IS a record and the trip is lossless)
      // -> strict read-back under the DECLARED schema (never inference
      // — that's a full extra pass at corpus scale) -> fingerprint +
      // typed metadata. The oracle replays the downstream on the
      // parquet table, so any escaping or type loss in the round trip
      // flips the hash. Corrupt-line quarantine is spec-pinned in
      // JsonlSpec (the driver gate corpus is all-wellformed by
      // construction).
      "docs_jsonl_source" -> ((s, dir) => {
        val path = s"/tmp/graft_jsonl_roundtrip_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        graft.sources.Jsonl.write(docs(s, dir), path)
        graft.sources.Jsonl
          .readStrict(s, path, graft.sources.Jsonl.documentsSchema)
          .select(col("doc_id").cast("long").as("doc_id"),
                  docFingerprint(col("text")).as("fp"),
                  col("lang"),
                  col("n_chars").cast("long").as("n_chars"))
      }),

      // release-over-release snapshot diff: status per document vs a
      // deterministically derived "next release" (every 17th doc
      // removed, every 13th edited, every 19th re-added under a new
      // id). The full-outer join carries only (id, fingerprint) pairs
      // and drops the ~unchanged majority in-plan — the diff costs
      // O(change volume), not O(corpus), in output
      "corpus_diff" -> ((s, dir) => {
        val d = docs(s, dir)
        val a = d.select(col("doc_id").cast("long").as("doc_id"),
                         docFingerprint(col("text")).as("fp"))
        val bKeep = d.where(pmod(col("doc_id"), lit(17)) =!= 0)
          .select(col("doc_id").cast("long").as("doc_id"),
            when(pmod(col("doc_id"), lit(13)) === 0,
                 concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val bAdd = d.where(pmod(col("doc_id"), lit(19)) === 0)
          .select((col("doc_id") + lit(10000000L)).cast("long").as("doc_id"),
                  col("text"))
        val b = bKeep.union(bAdd)
          .select(col("doc_id"), docFingerprint(col("text")).as("fp"))
        Corpus.snapshotDiff(a, b, "doc_id", "fp")
      }),

      // n-gram jaccard over a bounded id-offset candidate window
      "dedup_ngram_jaccard" -> ((s, dir) =>
        Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id", n = 3, maxOffset = 5)),

      // MinHash LSH near-dup candidates (exact DuckDB signature-replay oracle)
      "dedup_minhash" -> ((s, dir) =>
        Dedup.minhashCandidates(docs(s, dir), "text", "doc_id")
          .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))),

      // SimHash near-dup candidates (exact DuckDB signature-replay
      // oracle). maxHamming=7 is the guaranteed-recall bound for 8
      // bands of 8 bits (pigeonhole).
      "dedup_simhash" -> ((s, dir) =>
        Dedup.simhashCandidates(docs(s, dir), "text", "doc_id", maxHamming = 7)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

      // end-to-end near-dup resolution: exact n-gram-jaccard candidates
      // above a threshold collapse into keep-id clusters (connected
      // components; oracled via a recursive CTE in DuckDB)
      "dedup_resolve_clusters" -> ((s, dir) => {
        val cands = Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id",
            n = 3, maxOffset = 5)
          .where(col("jaccard") >= 0.5)
        Dedup.resolveDuplicateClusters(cands)
          .select(col("id").cast("long").as("id"),
                  col("keep_id").cast("long").as("keep_id"))
      }),

      // quality-aware duplicate resolution: per near-dup cluster keep
      // the HIGHEST quality_logit score (ties: min id) — one partial
      // max(struct) per cluster, never a per-cluster rank window
      "dedup_keep_best" -> ((s, dir) => {
        val d = docs(s, dir)
        val cands = Dedup.ngramJaccardPairs(d, "text", "doc_id",
            n = 3, maxOffset = 5)
          .where(col("jaccard") >= 0.5)
        val labels = Dedup.resolveDuplicateClusters(cands)
        val scored = Corpus.qualityLogit(d, "text", "doc_id")
        Dedup.keepBestPerCluster(labels.select(col("id").cast("long").as("id"),
            col("keep_id").cast("long").as("keep_id")),
            scored.select(col("id"), col("score")))
          .select(col("cluster"), col("best_id"), col("best_score"),
            col("n_members"))
      }),

      // minhash candidates -> cluster resolution (the production
      // pairing; oracled end to end via the signature replay + the
      // unrolled connected-components fixpoint)
      "dedup_resolve_minhash" -> ((s, dir) => {
        val cands = Dedup.minhashCandidates(docs(s, dir), "text", "doc_id")
          .where(col("est_jaccard") >= 0.5)
        Dedup.resolveDuplicateClusters(cands)
          .select(col("id").cast("long").as("id"),
                  col("keep_id").cast("long").as("keep_id"))
      }),

      // the one-call near-dedup end to end (candidates -> clusters ->
      // anti-join): survivors hash-checked against the same signature
      // replay + unrolled connected components the resolve oracle uses
      "dedup_drop_near" -> ((s, dir) =>
        Dedup.dropNearDuplicates(docs(s, dir), "text", "doc_id",
            minEstJaccard = 0.5)
          .select(col("doc_id").cast("long").as("doc_id"))),

      // embedding-cosine near-dups in a bounded id window
      "dedup_embedding" -> ((s, dir) =>
        Dedup.embeddingNearDups(emb(s, dir), "embedding", "vec_id",
          threshold = 0.25, maxOffset = 50)),

      // incremental dedup: the ingest gate — drop batch docs (sources
      // src5-9) whose fingerprint already exists in the frozen corpus
      // (src0-4); fingerprints ride the anti-join, never documents
      "dedup_incremental" -> ((s, dir) => {
        val d = docs(s, dir)
        graft.operators.Dedup.dropExistingDuplicates(
            d.where(col("source") >= "src5"), d.where(col("source") < "src5"),
            "text", "doc_id")
          .select(col("doc_id").cast("long").as("doc_id"))
      }),

      // Bloom-gated incremental dedup: IDENTICAL semantics to
      // dedup_incremental (the oracle is the same anti-join replay) via
      // the scale path — a one-pass corpus sketch probed per batch row
      // in codegen, then broadcast confirm joins over the suspect set
      // only. The sketch is deliberately overloaded (expectedItems=64
      // for ~250 corpus docs) so REAL false positives exercise the
      // confirm phase; exactness must survive any fpp
      "dedup_bloom_gate" -> ((s, dir) => {
        val d = docs(s, dir)
        val corpus = d.where(col("source") < "src5")
        val batch = d.where(col("source") >= "src5")
        val bloom = graft.operators.Dedup.corpusFingerprintBloom(corpus, "text",
          expectedItems = 64, fpp = 0.1)
        graft.operators.Dedup.dropExistingDuplicatesBloom(batch, corpus,
            "text", "doc_id", bloom)
          .select(col("doc_id").cast("long").as("doc_id"))
      }),

      // edit-distance verification of the MinHash candidate set: the
      // precision pass after band recall — thresholded (banded-DP)
      // Levenshtein over 256-char prefixes. Operands are projected to
      // ASCII in the QUERY because DuckDB's levenshtein is byte-based
      // while Spark's is code-point based; on ASCII they coincide
      // exactly. The operator itself is generic (code-point) and
      // unicode-pinned in PipelineSpec.
      "dedup_edit_verify" -> ((s, dir) => {
        val d = docs(s, dir)
        val pairs = graft.operators.Dedup.minhashCandidates(d, "text", "doc_id")
          .select(col("id_a"), col("id_b"))
        val ascii = d.withColumn("text",
          regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
        graft.operators.Dedup.editVerifiedPairs(ascii, "text", "doc_id",
            pairs, prefixLen = 256, maxDist = 64)
          .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
            col("edit_sim"))
      }),

      // per-label embedding norm profile: the vector-side health check
      // (collapsed/exploded norms break cosine ops) — one kernel dot
      // per row, one map-side-combined agg per label
      "emb_norm_stats" -> ((s, dir) =>
        emb(s, dir).select(col("label").cast("long").as("label"),
            sqrt(graft.plans.VecFunctions.vec_dot(col("embedding"),
              col("embedding"))).as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            round(min("nrm"), 6).as("min_norm"),
            round(max("nrm"), 6).as("max_norm"),
            round(sum("nrm") / count(lit(1)), 6).as("mean_norm"))),

      // MinHash banding quality metric: precision/recall of the LSH
      // candidate set against EXACT word-shingle jaccard >= 0.5 ground
      // truth over a deterministic FIXED-SIZE sample: the 256 docs with
      // the smallest md5("pr"||doc_id) (tiebreak doc_id), selected by
      // the bounded-heap topn_smallest aggregate — the truth cross-join
      // is then <=256^2/2 pairs, CONSTANT in corpus size (the r7 50%-
      // fraction sample made this eval metric's cost grow quadratically
      // with the corpus). Truth jaccard runs on md5-hashed sorted
      // shingle sets via the codegen sorted-merge intersect; banding
      // and signature agreement are per-PAIR properties, so candidates-
      // on-sample == candidates-on-full restricted to sampled endpoints
      // (both engine and oracle band only the sample). Pins banding
      // regressions in CORRECTNESS the way ann_recall pins ANN recall.
      "dedup_pr" -> ((s, dir) => {
        val d = docs(s, dir) // text IS NOT NULL already applied
        val sel = d.agg(graft.plans.TopNFunctions.topn_smallest(
            substring(md5(concat(lit("pr"), col("doc_id").cast("string"))), 1, 8),
            col("doc_id").cast("long"), prSampleN).as("__pr_sel"))
          .select(explode(col("__pr_sel.id")).as("__pr_id"))
        val sample = d.join(broadcast(sel),
            col("doc_id").cast("long") === col("__pr_id"), "left_semi")
        val sh = sample
          .select(col("doc_id").cast("long").as("id"),
            array_sort(array_distinct(transform(wordShingles(col("text"), 3),
              x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))).as("hs"))
          .where(size(col("hs")) > 0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = sh.select(col("id").as("id_a"), col("hs").as("hs_a"))
        val b = sh.select(col("id").as("id_b"), col("hs").as("hs_b"))
        val truth = a.crossJoin(b).where(col("id_b") > col("id_a"))
          .withColumn("inter",
            graft.plans.GraftFunctions.sorted_inter_count(col("hs_a"), col("hs_b")))
          .withColumn("uni",
            size(col("hs_a")) + size(col("hs_b")) - col("inter"))
          .where(col("inter") / greatest(col("uni"), lit(1)) >= 0.5)
          .select(col("id_a"), col("id_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        truth.count() // materialize: referenced by the count AND the hit semi-join
        sh.unpersist(blocking = false)
        val pred = Dedup.minhashCandidates(sample, "text", "doc_id")
          .where(col("est_jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"))
        val hit = pred.join(truth, Seq("id_a", "id_b"), "left_semi")
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(col("n_truth"), col("n_pred"), col("n_hit"),
            round(col("n_hit") / greatest(col("n_pred"), lit(1)), 6).as("precision"),
            round(col("n_hit") / greatest(col("n_truth"), lit(1)), 6).as("recall"))
      }),

      // Bloom gate + persisted fingerprint INDEX: the full production
      // ingest path — sketch probe in the batch scan, confirm against
      // the sorted fp-only index via pushed-down IN (row-group stats
      // skip), archive text never re-read. Same oracle as
      // dedup_incremental: exactness must survive sketch fpp AND the
      // pushdown/fallback routing.
      "dedup_bloom_index" -> ((s, dir) => {
        val d = docs(s, dir)
        val corpus = d.where(col("source") < "src5")
        val batch = d.where(col("source") >= "src5")
        val idx = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
        graft.operators.Dedup.writeFingerprintIndex(corpus, "text", idx,
          numPartitions = 4)
        val bloom = graft.operators.Dedup.corpusFingerprintBloom(corpus, "text",
          expectedItems = 64, fpp = 0.1)
        graft.operators.Dedup.dropExistingDuplicatesIndexed(batch, idx,
            "text", "doc_id", bloom)
          .select(col("doc_id").cast("long").as("doc_id"))
      }),

      // per-label embedding centroids (class prototypes): one map-side-
      // combined (label, dim) aggregation — the shuffle carries partial
      // sums, never vectors; exact counts divide at the end
      "label_centroids" -> ((s, dir) =>
        Similarity.groupCentroids(emb(s, dir), "embedding", "label")
          .select(col("grp").cast("long").as("label"),
            col("dim").cast("long").as("dim"),
            round(col("centroid"), 6).as("centroid"), col("n_vecs"))),

      // SemDeDup-style semantic dedup: SOM-cell clustering (fixed 3x3
      // codebook, same assignment as som_winner) bounds the pairwise
      // cosine step per cell; duplicate components resolve to keep-min-id
      "dedup_semantic" -> onEmb((s, dir, e) =>
        graft.operators.Dedup.semanticDupClusters(e, "embedding",
            "vec_id", fixedModel(e), threshold = 0.25)
          .select(col("id").as("vec_id"), col("bmu_id"), col("keep_id"))),

      // brute-force cosine top-k (exact ANN baseline)
      "ann_cosine_topk" -> onEmb((s, dir, e) => {
        val qs = embQueries(e)
        Similarity.bruteForceTopK(e, "embedding", "vec_id", qs, k = 5)
      }),

      // hard-negative mining for contrastive training: per labeled
      // query, the top-5 most-similar vectors with a DIFFERENT label
      // (broadcast query batch, one scan, bounded-heap top-k)
      "mine_hard_negatives" -> onEmb((s, dir, e) => {
        Similarity.hardNegatives(e, "embedding", "vec_id",
          "label", embLabeledQueryIds(e), k = 5)
      }),

      // assembled training triplets: per anchor, the hardest positive
      // (same label) and hardest negative (different label) plus the
      // similarity margin a triplet loss pushes on
      "mine_triplets" -> onEmb((s, dir, e) => {
        Similarity.mineTriplets(e, "embedding", "vec_id",
          "label", embLabeledQueryIds(e))
      }),

      // kNN label-consistency audit (label-error detection): each
      // anchor's 5 nearest neighbors vote; low agreement flags a
      // likely mislabel or off-manifold embedding
      "label_consistency" -> onEmb((s, dir, e) => {
        Similarity.labelConsistency(e, "embedding", "vec_id",
            "label", embLabeledQueryIds(e), k = 5)
          .select(col("qid"), col("label").cast("long").as("label"),
            col("n_agree"), col("n_nbrs"), col("agreement"), col("suspect"))
      }),

      // random-hyperplane LSH ANN — oracled via seeded-plane replay
      // (HashOracleSql.lshTopK)
      "ann_lsh_topk" -> onEmb((s, dir, e) => {
        val qs = embQueries(e)
        Similarity.lshCosineTopK(e, "embedding", "vec_id", qs, k = 5,
          numPlanes = 6, numTables = 8)
      }),

      // ANN recall@k: per-query |LSH top-k ∩ brute-force top-k| / k.
      // Both sides are deterministic (seeded planes, exact rerank, total
      // tie order), so recall is a REPLAYABLE number — the oracle
      // recomputes both rankings in SQL and intersects them. This pins
      // recall REGRESSIONS (a bucketing bug that silently drops true
      // neighbors) in CORRECTNESS, not just in the sbt suite.
      "ann_recall" -> onEmb((s, dir, e) => {
        val qs = embQueries(e)
        val lsh = Similarity.lshCosineTopK(e, "embedding", "vec_id", qs,
          k = 5, numPlanes = 6, numTables = 8)
        val bf = Similarity.bruteForceTopK(e, "embedding", "vec_id", qs, k = 5)
        val hits = lsh.select("qid", "nid").intersect(bf.select("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        val qidsDf = s.createDataFrame(qs.map(q => Tuple1(q._1))).toDF("qid")
        qidsDf.join(broadcast(hits), Seq("qid"), "left")
          .select(col("qid"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0, 6).as("recall"))
      }),

      // SOM-bucketed (IVF-style) ANN — oracled by replaying the seeded
      // quantizer training in SQL (TrainOracleSql.annSomTopK)
      "ann_som_topk" -> onEmb((s, dir, e) => {
        val qs = embQueries(e)
        Similarity.somTopK(e, "embedding", "vec_id", qs, k = 5)
      }),

      // product quantization: encode every embedding into m=8 codes
      // against a deterministic 16-centroid-per-subspace codebook (first
      // 16 embeddings' subvectors — the fixedModel pattern) — one
      // codegen scan; codes exploded to (vec_id, sub_id, code) for the
      // oracle
      "pq_encode" -> onEmb((s, dir, e) => {
        val cb = Similarity.pqCodebookFromRows(pqRows(e), m = 8)
        // Materialize.once: posexplode's generator pushdown would
        // otherwise inline the encode kernel into its own size/notnull
        // Filter — three evaluations per row instead of one
        val enc = graft.operators.Materialize.once(
          e.select(col("vec_id").cast("long").as("vec_id"),
            col("embedding")),
          "codes", graft.plans.GraftFunctions.pq_encode(
            col("embedding"), cb, 8, cb.length / (8 * 16), 16))
        enc
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("sub_id", "code")))
          .select(col("vec_id"), col("sub_id").cast("long").as("sub_id"),
            col("code").cast("long").as("code"))
      }),

      // int8 scalar quantization: per-dimension [min, max] learned from
      // the corpus in one pass, every embedding affinely coded to
      // 0..255 ints (bit-packs to ~1 byte/dim in parquet — the 4x
      // scan-bandwidth serving tier); codes exploded to
      // (vec_id, dim_id, code) for the oracle
      "sq_encode" -> onEmb((s, dir, e) => {
        val m = Similarity.sqTrain(e, "embedding")
        // Materialize.once for the same reason as pq_encode: the
        // posexplode pushdown would re-evaluate the encode kernel in
        // its own size/notnull filters
        graft.operators.Materialize.once(
            e.where(col("embedding").isNotNull)
              .select(col("vec_id").cast("long").as("vec_id"),
                col("embedding")),
            "codes", Similarity.sqEncodeCol(col("embedding"), m))
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("dim_id", "code")))
          .select(col("vec_id"), col("dim_id").cast("long").as("dim_id"),
            col("code").cast("long").as("code"))
      }),

      // SQ serving: decode-on-the-fly cosine top-k of the float queries
      // against the int8-coded corpus (deterministic decoded grid —
      // the oracle replays encode + decode + ranking exactly)
      "sq_topk" -> onEmb((s, dir, e) => {
        val model = Similarity.sqTrain(e, "embedding")
        val codes = Similarity.sqEncode(e, "embedding", "vec_id",
          model)
        val qs = embQueries(e)
        Similarity.sqTopK(codes, "codes", "id", model, qs, k = 5)
      }),

      // SQ quality pin: recall@5 of the decoded-grid ranking vs the
      // exact float ranking (both deterministic — the pq_recall
      // convention; high recall expected since SQ keeps per-dimension
      // resolution, unlike PQ's worst-case-noise codebook)
      "sq_recall" -> onEmb((s, dir, e) => {
        val model = Similarity.sqTrain(e, "embedding")
        val codes = Similarity.sqEncode(e, "embedding", "vec_id",
          model)
        val qs = embQueries(e)
        val sqr = Similarity.sqTopK(codes, "codes", "id", model, qs, k = 5)
        val bf = Similarity.bruteForceTopK(e, "embedding",
          "vec_id", qs, k = 5)
        val hits = sqr.select("qid", "nid").intersect(bf.select("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        val qidsDf = s.createDataFrame(qs.map(q => Tuple1(q._1))).toDF("qid")
        qidsDf.join(broadcast(hits), Seq("qid"), "left")
          .select(col("qid"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0, 6)
              .as("recall"))
      }),

      // PQ quality pin: recall@5 of the ADC ranking against the exact
      // squared-L2 ranking (both deterministic) — a codebook or kernel
      // regression flips these values in CORRECTNESS. Absolute recall is
      // LOW here by design: the corpus is isotropic random noise (PQ's
      // worst case — no cluster structure for 16 sample centroids to
      // exploit), so the pin is exact determinism, not retrieval quality
      "pq_recall" -> onEmb((s, dir, e) => {
        val cb = Similarity.pqCodebookFromRows(pqRows(e), m = 8)
        val qs = embQueries(e)
        val pq = Similarity.pqTopK(e, "embedding", "vec_id", cb,
          m = 8, k = 16, qs, kNN = 5)
        val exact = Similarity.bruteForceTopK(e, "embedding",
          "vec_id", qs, k = 5, metric = "l2")
        val hits = pq.select("qid", "nid").intersect(exact.select("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        val qidsDf = s.createDataFrame(qs.map(q => Tuple1(q._1))).toDF("qid")
        qidsDf.join(broadcast(hits), Seq("qid"), "left")
          .select(col("qid"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0, 6).as("recall"))
      }),

      // PQ asymmetric-distance top-k: ONE codegen scan of the m-int
      // codes scores the whole query batch (table lookups, no float
      // vectors in the hot path) into a bounded-heap top-k aggregate
      "pq_topk" -> onEmb((s, dir, e) => {
        val cb = Similarity.pqCodebookFromRows(pqRows(e), m = 8)
        val qs = embQueries(e)
        Similarity.pqTopK(e, "embedding", "vec_id", cb,
          m = 8, k = 16, qs, kNN = 5)
      }),

      // composed IVF+PQ (the FAISS-IVFPQ layout, Spark-first): the fixed
      // 3x3 codebook is the coarse quantizer, and each query ADC-scans
      // only its nProbe=3 nearest cells' m-int codes. BOTH approximations
      // (cell pruning + asymmetric distance) are replayed exactly in SQL
      // — assignment from cbDistCte's distances, codes from pqCodesCte
      "ann_ivfpq" -> onEmb((s, dir, e) => {
        val model = fixedModel(e)
        val cb = Similarity.pqCodebookFromRows(pqRows(e), m = 8)
        val qs = embQueries(e)
        Similarity.ivfPqTopK(e, "embedding", "vec_id", model, cb,
          m = 8, k = 16, qs, kNN = 5, nProbe = 3)
      }),

      // composed IVF+SQ (the higher-resolution compressed tier): same
      // 3x3 coarse quantizer and probe discipline as ann_ivfpq, but the
      // probed cells' int8 codes decode on the fly and rank by EXACT
      // cosine of the decoded grid — cell pruning is the only ranking
      // approximation. Both stages replayed exactly in SQL
      "ann_ivfsq" -> onEmb((s, dir, e) => {
        val model = fixedModel(e)
        val sq = Similarity.sqTrain(e, "embedding")
        val qs = embQueries(e)
        Similarity.ivfSqTopK(e, "embedding", "vec_id", model, sq,
          qs, kNN = 5, nProbe = 3)
      }),

      // incremental index ingest — the nightly-batch path at 100 TB:
      // the even-vec_id base builds the cell-partitioned IVF+SQ index
      // once (SQ bounds trained on the base and FROZEN), the odd-vec_id
      // batch encodes with those frozen quantizers and appends
      // batch-sized into the layout (no corpus re-read), and the
      // read-back serves bit-identically to a one-shot rebuild — the
      // oracle replays the full ann_ivfsq chain with bounds trained on
      // the base rows only, so any append-path divergence (stale cells,
      // double rows, re-derived bounds) breaks the hash
      "ann_ivfsq_append" -> onEmb((s, dir, e) => {
        val model = fixedModel(e)
        val base = e.where(col("vec_id") % 2 === 0)
        val batch = e.where(col("vec_id") % 2 =!= 0)
        val sq = Similarity.sqTrain(base, "embedding")
        // unique per (JVM, corpus): concurrent Verify runs over
        // different corpora must not race on the scratch index
        val path = s"/tmp/graft_ivfsq_append_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        Similarity.writeIvfSqIndex(base, "embedding", "vec_id", model, sq, path)
        Similarity.appendToIvfSqIndex(batch, "embedding", "vec_id", model, sq, path)
        val (codes, sqBack) = Similarity.readIvfSqIndex(s, path)
        Similarity.ivfSqTopKFromCodes(codes, model, sqBack,
          embQueries(e), kNN = 5, nProbe = 3)
      }),

      // index lifecycle, delete leg: tombstone the vec_id%10==3 rows
      // (a dedup verdict / erasure batch — id-list-sized, the immutable
      // code files untouched) and serve the LIVE view; the oracle
      // replays the ann_ivfsq chain with those ids excluded from the
      // candidate set, so a leaked tombstoned row or an over-delete
      // breaks the hash
      "ann_ivfsq_delete" -> onEmb((s, dir, e) => {
        val model = fixedModel(e)
        val sq = Similarity.sqTrain(e, "embedding")
        val path = s"/tmp/graft_ivfsq_delete_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        // the write starts the index over: an earlier run's deletes
        // are not live after it
        Similarity.writeIvfSqIndex(e, "embedding", "vec_id", model, sq, path)
        Similarity.deleteFromIvfIndex(
          e.where(col("vec_id") % 10 === 3).select(col("vec_id")),
          "vec_id", path)
        val (live, sqB) = Similarity.readIvfSqIndex(s, path)
        Similarity.ivfSqTopKFromCodes(live, model, sqB,
          embQueries(e), kNN = 5, nProbe = 3)
      }),

      // deterministic content-hash sampling: reproducible across engines
      // and partitionings (pipeline-scale sampling must not depend on RNG
      // stream position)
      "sample_by_hash" -> ((s, dir) =>
        graft.operators.Sampling.sampleByHash(docs(s, dir), "doc_id",
            rate = 0.25, salt = "graft")
          .select(col("doc_id").cast("long").as("doc_id"))),

      // stratified hash sampling: language-balanced downsampling with
      // per-stratum deterministic rates (strata from the langId
      // heuristic, itself oracle-pinned by lang_id). The computed
      // stratum goes through Materialize.once: as a withColumn alias it
      // would be re-inlined into BOTH the sampler's filter threshold and
      // the output projection — two langId aggregate passes per row
      // (measured 2x: 0.47 s vs lang_id's 0.10 s at sf0.1)
      "stratified_sample" -> ((s, dir) => {
        val d = graft.operators.Materialize.once(docs(s, dir), "lang",
          langId(col("text")))
        graft.operators.Sampling.sampleByHashStratified(d, "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, salt = "graft")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      }),

      // domain-mixture resampling: keep the LARGEST subcorpus matching a
      // target language mixture; the scarcest-relative-to-target stratum
      // binds (rate 1) and the rest downsample deterministically. Strata
      // outside the target (zh here) drop. Counts, binding constant and
      // per-stratum rates all live in ONE plan (no eager count job).
      "mixture_sample" -> ((s, dir) =>
        graft.operators.Sampling.sampleToMixture(docs(s, dir), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1),
            salt = "graft")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
                  round(col("rate"), 6).as("rate"))),

      // fixed-size deterministic sample per language: exactly
      // min(20, |stratum|) docs each, selected by the content-keyed md5
      // order via the bounded TopNSmallestByKey AGGREGATE — never the
      // one-task-per-stratum window (structural skew). Oracle replays
      // the selection as a row_number over the same (bucket, id) order.
      "fixed_per_lang" -> ((s, dir) =>
        graft.operators.Sampling.sampleFixedPerStratum(docs(s, dir),
            "doc_id", "lang", n = 20)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"))),

      // weighted sampling without replacement (Efraimidis-Spirakis race,
      // content-keyed u): k=50 docs with inclusion odds ~ n_chars; plans
      // as TakeOrderedAndProject (bounded per-partition top-k), never a
      // global sort
      "weighted_sample" -> ((s, dir) =>
        graft.operators.Sampling.sampleByWeight(docs(s, dir), "doc_id",
            "n_chars", k = 50)
          .select(col("doc_id").cast("long").as("doc_id"), col("draw"))),

      // deterministic train/val/test split assignment
      "split_by_hash" -> ((s, dir) =>
        graft.operators.Sampling.splitByHash(docs(s, dir), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "graft")
          .select(col("doc_id").cast("long").as("doc_id"), col("split"))),

      // split-leakage audit: exact-dup content groups straddling the
      // id-keyed train/val/test assignment above (an id-keyed split
      // leaks duplicate content across splits; content-keyed cannot)
      "split_leakage" -> ((s, dir) =>
        graft.operators.Dedup.splitLeakage(
          graft.operators.Sampling.splitByHash(docs(s, dir), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "graft"),
          "text", "split")),

      // the same audit on a corpus WITH planted cross-split duplicates:
      // the first 16 docs re-enter under doc_id + 1e9, so the id-keyed
      // split hashes them independently and some pairs straddle splits
      // — a NON-EMPTY differential gate for the leak-detection path
      // (plain split_leakage is legitimately empty on a duplicate-free
      // corpus, which made its oracle comparison vacuous)
      "split_leakage_planted" -> ((s, dir) => {
        val d = docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val planted = d.where(col("doc_id") < 16)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        graft.operators.Dedup.splitLeakage(
          graft.operators.Sampling.splitByHash(d.unionByName(planted),
            "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            salt = "graft"),
          "text", "split")
      }),

      // text normalization: Unicode NFC (codegen kernel, zero-copy on
      // normalized rows) + whitespace/control collapse — the pass that
      // runs BEFORE hashing/dedup so visually identical strings are
      // byte-identical. Oracle pins JDK-Normalizer/utf8proc NFC parity
      "normalize_text" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          cleanText(nfcNormalize(col("text"))).as("norm_text"),
          length(col("text")).cast("long").as("n_raw"),
          length(cleanText(nfcNormalize(col("text")))).cast("long").as("n_norm"))),

      // Unicode-script character mix (Latin/Han/Cyrillic/Arabic) — the
      // multilingual routing signal; Java \p{IsX} and RE2 \p{X} count
      // the same Script property, oracle-pinned incl. multibyte edges
      "script_ratios" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          scriptCount(col("text"), "Latin").cast("long").as("n_latin"),
          scriptCount(col("text"), "Han").cast("long").as("n_han"),
          scriptCount(col("text"), "Cyrillic").cast("long").as("n_cyrillic"),
          scriptCount(col("text"), "Arabic").cast("long").as("n_arabic"),
          round(when(length(col("text")) === 0, 0.0)
            .otherwise(scriptCount(col("text"), "Latin").cast("double") /
              length(col("text"))), 6).as("latin_ratio"))),

      // text statistics: token counts, punctuation, mean token length
      "text_stats" -> ((s, dir) =>
        docs(s, dir).select(
          col("doc_id").cast("long").as("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          tokenCountBpeish(col("text")).cast("long").as("n_bpeish"),
          punctCount(col("text")).cast("long").as("n_punct"),
          round(meanTokenLen(col("text")), 6).as("mean_tok_len"))),

      // language identification (marker-word heuristic)
      "lang_id" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
                            langId(col("text")).as("lang_pred"))),

      // composite quality score
      "quality_score" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
                            qualityScore(col("text")).as("q"))),

      // token-budget selection: the best-quality documents whose running
      // token total fits a 5k-token training budget — a pure prefix of
      // the (quality desc, doc_id) order, via the distributed prefix sum
      // (never a single-task global window). Score through
      // Materialize.once so the quality composite evaluates once, not
      // once per downstream reference
      "budget_select" -> ((s, dir) => {
        val d = graft.operators.Materialize.once(docs(s, dir), "q",
          qualityScore(col("text")))
        graft.operators.Packing.selectByTokenBudget(d, "text", "doc_id",
            "q", budget = 5000)
          .select(col("doc_id"), round(col("score"), 6).as("score"),
            col("n_tok"), col("cum_tok"))
      }),

      // intra-document repetition ratios (duplicate n-gram fraction —
      // the boilerplate/looping-text curation signal). Tokenize ONCE
      // into a materialized column: the text-based repetitionRatio
      // would inline the regex tokenizer into each of the three shingle
      // lambdas (the O(tokens^2) interpreted-transform trap — see
      // wordShinglesOfTokens) plus a fourth denominator tokenization.
      "repetition_stats" -> ((s, dir) =>
        docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
                  tokens(col("text")).as("__ts"))
          .select(col("doc_id"),
                  repetitionRatioOfTokens(col("__ts"), 1).as("rep1"),
                  repetitionRatioOfTokens(col("__ts"), 2).as("rep2"),
                  repetitionRatioOfTokens(col("__ts"), 3).as("rep3"))),

      // PII-ish pattern counts (emails / URLs / long digit runs). The
      // corpus is synthetic word-soup, so a deterministic enrichment
      // derived from doc_id plants findable patterns in every 7th doc;
      // the detector expressions are the operator under test.
      "pattern_counts" -> ((s, dir) => {
        val id = col("doc_id").cast("long")
        val enriched = when(pmod(id, lit(7)) === 0,
          concat(col("text"), lit(" contact user"), id.cast("string"),
            lit("@example.com or https://ex.org/p/"), id.cast("string"),
            lit(" ref 123456789")))
          .otherwise(col("text"))
        docs(s, dir).select(
          id.as("doc_id"),
          emailCount(enriched).cast("long").as("n_email"),
          urlCount(enriched).cast("long").as("n_url"),
          longDigitRunCount(enriched).cast("long").as("n_digit_run"))
      }),

      // tokenizer-fit signal: per-doc out-of-vocabulary token fraction
      // vs the corpus top-200 vocabulary — the join sees per-doc
      // DISTINCT (token, tf) kernel pairs and a broadcast vocab, never
      // the raw token-instance stream
      "oov_rate" -> ((s, dir) => {
        val d = docs(s, dir)
        val vocab = Corpus.tokenFrequencies(d, "text", 200)
        Corpus.oovRate(d, vocab, "text", "doc_id")
      }),

      // sharded dataset export + verifiable manifest: documents written
      // into 8 content-keyed hash shards (shard never moves when the
      // corpus grows), manifest = per-shard row count + order-
      // independent DECIMAL fingerprint checksum a consumer recomputes
      // from the shards alone. The oracle replays the md5 shard
      // arithmetic and the checksum in DuckDB, so the whole release
      // artifact is cross-engine verifiable.
      "export_manifest" -> ((s, dir) => {
        val path = s"/tmp/graft_shards_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        graft.sources.Shards.writeSharded(
          docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
                              docFingerprint(col("text")).as("fp")),
          path, "doc_id", nShards = 8)
        graft.sources.Shards.manifest(s, path, "fp")
      }),

      // PII redaction over the same synthetic enrichment pattern_counts
      // uses — the full redacted text is hash-compared against DuckDB's
      // regexp_replace replay, so pattern AND replacement-order parity
      // are pinned byte-for-byte
      "redact_pii" -> ((s, dir) => {
        val id = col("doc_id").cast("long")
        val enriched = when(pmod(id, lit(7)) === 0,
          concat(col("text"), lit(" contact user"), id.cast("string"),
            lit("@example.com or https://ex.org/p/"), id.cast("string"),
            lit(" ref 123456789")))
          .otherwise(col("text"))
        docs(s, dir).select(id.as("doc_id"),
          redactPii(enriched).as("red_text"))
      }),

      // corpus-level token frequency (vocabulary build): explode +
      // partial-agg groupBy + per-partition top-k, total order under ties
      "token_freq_topk" -> ((s, dir) =>
        Corpus.tokenFrequencies(docs(s, dir), "text", 20)
          .select(col("token"), col("n").cast("long").as("n"))),

      // document frequencies (TF-IDF building block). The transcendental
      // idf IS hash-checked since round 6: JVM Math.log and DuckDB's
      // libm ln agree bit-for-bit on these inputs at round(., 6) —
      // verified empirically at sf0.01/sf0.1 — so a wrong formula now
      // breaks CORRECTNESS, not just a spec. (Residual risk: a value
      // within 1 ulp of a 0.5e-6 rounding boundary could flip; measure-
      // zero for transcendental outputs, accepted.)
      "doc_freq" -> ((s, dir) =>
        Corpus.documentFrequencies(docs(s, dir), "text")
          .select(col("token"), col("df").cast("long").as("df"),
                  col("idf"))),

      // per-document TF-IDF terms (featurization); tf/df exact integers,
      // tfidf = round(tf * idf, 6) hash-checked like doc_freq's idf
      "tfidf_terms" -> ((s, dir) =>
        Corpus.tfidfTerms(docs(s, dir), "text", "doc_id")
          .select(col("id").as("doc_id"), col("token"),
                  col("tf").cast("long").as("tf"),
                  col("df").cast("long").as("df"),
                  col("tfidf"))),

      // benchmark decontamination: trigram overlap of every doc against
      // a deterministic "eval set" (doc_id % 97 == 0), eval vocabulary
      // broadcast, corpus side single-scan
      "contamination" -> ((s, dir) => {
        val d = docs(s, dir)
        val eval_ = d.where(pmod(col("doc_id").cast("long"), lit(97)) === 0)
        Corpus.contamination(d.where(pmod(col("doc_id").cast("long"), lit(97)) =!= 0),
            "text", "doc_id", eval_, "text", n = 3)
          .select(col("id").as("doc_id"), col("n_shingles"),
                  col("n_contaminated"), col("ratio"))
      }),

      // END-TO-END curation pipeline: Gopher filter -> exact dedup ->
      // language-stratified sampling, composed as one lineage (each
      // stage a single pass). Pins that the operators COMPOSE — the
      // oracle replays all three stages sequentially in SQL
      "curation_e2e" -> ((s, dir) => {
        val kept = Corpus.gopherKeep(docs(s, dir), "text",
          minTok = 30, maxTok = 100000, minStopHits = 1)
        val deduped = Dedup.dropExactDuplicates(kept, "text", "doc_id")
        graft.operators.Sampling.sampleByHashStratified(
            graft.operators.Materialize.once(deduped, "lang",
              langId(col("text"))),
            "doc_id", "lang", Map("en" -> 0.6), defaultRate = 0.15,
            salt = "cur")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      }),

      // corpus-unigram cross-entropy / perplexity (CCNet-style quality
      // signal, self-scored); per-term round-to-9 + DECIMAL summation
      // makes the transcendental sum order-independent cross-engine
      "unigram_ce" -> ((s, dir) =>
        Corpus.unigramCrossEntropy(docs(s, dir), "text", "doc_id")
          .select(col("id").as("doc_id"), col("n_tok"),
                  col("ce"), col("ppl"))),

      // intra-corpus duplicate spans: per-doc count of 16-token disjoint
      // windows occurring >= 2 times corpus-wide (C4-style span-dedup
      // signal); spans ride the count shuffle as md5 hashes
      "dup_spans" -> ((s, dir) =>
        Corpus.duplicateSpans(docs(s, dir), "text", "doc_id", spanTokens = 16)
          .select(col("id").as("doc_id"), col("n_spans"),
                  col("n_dup_spans"), col("dup_ratio"))),

      // span-level duplicate removal (C4 rule at span granularity):
      // keep the globally-first occurrence of each 16-token span,
      // reassemble documents from survivors
      "span_dedup" -> ((s, dir) =>
        Corpus.removeDuplicateSpans(docs(s, dir), "text", "doc_id",
            spanTokens = 16)
          .select(col("id").as("doc_id"), col("n_spans"),
                  col("n_kept"), col("clean_text"))),

      // per-(source, lang) corpus report card: doc/token/char volumes
      // and exact-sum averages for mixing/weighting decisions. Reads the
      // UNFILTERED table (not the docs() non-null-text view): the
      // n_docs/n_with_text split is the operator's null-text contract,
      // and the oracle exercises it
      "corpus_stats" -> ((s, dir) =>
        Corpus.corpusStats(s.read.parquet(s"$dir/documents.parquet"),
          "text", Seq("source", "lang"))),

      // per-language length quantiles: exact here for the oracle (Spark
      // percentile == DuckDB quantile_cont, same p*(n-1) linear
      // interpolation); the operator defaults to the mergeable
      // approx_percentile sketch at scale
      "doc_len_quantiles" -> ((s, dir) =>
        Corpus.groupQuantiles(docs(s, dir), "n_chars", "lang",
            Seq(0.25, 0.5, 0.75), exact = true)
          .select(col("grp").as("lang"), col("p"), col("q"))),

      // fixed-width document-length histogram: aligned long buckets,
      // one map-side-combined count per bucket
      "len_histogram" -> ((s, dir) =>
        Corpus.histogram(docs(s, dir), "n_chars", width = 100L)),

      // multi-level report card in ONE pass: ROLLUP(source, lang) =
      // per-(source,lang), per-source, and grand-total rows from a
      // single Expand+aggregate — no per-level re-scans; grouping_id
      // disambiguates rollup NULLs from data NULLs
      "corpus_rollup" -> ((s, dir) =>
        docs(s, dir).rollup(col("source"), col("lang"))
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .select(col("source"), col("lang"), col("gid"),
            col("n_docs"), col("sum_chars"))),

      // per-column data profile of the raw documents table: one
      // aggregation pass for every column's rows/nulls/distinct/min/max
      // (exact distincts here for the oracle; the operator defaults to
      // one-pass HLL sketches at scale — see Corpus.columnProfile)
      "profile_docs" -> ((s, dir) =>
        Corpus.columnProfile(s.read.parquet(s"$dir/documents.parquet"),
          Seq("doc_id", "text", "lang", "source", "n_chars"), exact = true)),

      // Gopher-style composite filter; thresholds chosen to SPLIT this
      // corpus (token counts 10-99) so the verdict column actually
      // varies — signals + verdict per doc. Runs with the real-scale
      // ~200-entry English stopword list (r7): stop-word membership is
      // an InSet hash probe, so the list size must not change the cost
      // (bench: gopher_filter at the 8-word list ≈ the 200-word list).
      "gopher_filter" -> ((s, dir) =>
        Corpus.gopherFilter(docs(s, dir), "text", "doc_id",
            minTok = 30, maxTok = 100000, minStopHits = 1,
            stopWords = graft.functions.TextFunctions.englishStopwords)
          .select(col("id").as("doc_id"), col("n_tok"), col("mean_tok_len"),
                  col("alpha_ratio"), col("n_stop"), col("pass"))),

      // HTML/markup stripping: script/style blocks and tags drop, the
      // six ubiquitous entities decode (&amp; last — escaped markup
      // stays literal), whitespace collapses
      "strip_markup" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          stripMarkup(col("text")).as("clean"))),

      // fastText/CCNet-style linear quality classifier (inference):
      // logistic score over the Gopher signals, weights supplied by the
      // caller (defaults here) — one gopher_stats kernel pass per row,
      // features rounded before the dot product for cross-engine parity
      "quality_logit" -> ((s, dir) =>
        Corpus.qualityLogit(docs(s, dir), "text", "doc_id")
          .select(col("id").as("doc_id"), col("score"), col("keep"))),

      // TRAINING the linear quality gate (quality_logit's missing first
      // half): full-batch gradient descent over the round-6 Gopher
      // signals, distilling an upstream keep/drop decision recorded in
      // metadata (label = n_chars >= 200) into a text-only scored gate;
      // algebraic sigmoid + scale-9 DECIMAL gradient sums make the loop
      // bit-reproducible (oracle: an INDEPENDENT Python implementation,
      // tools/gen_logit_oracle.py)
      "quality_train_weights" -> ((s, dir) => {
        val (_, m) = trainedGate(s, dir)
        graft.operators.LogitTrain.modelDf(s, m)
      }),

      // the trained gate applied back to the corpus: one codegen
      // scoring scan (round-6 algebraic sigmoid), same derivation
      "quality_train_score" -> ((s, dir) => {
        val (feats, m) = trainedGate(s, dir)
        graft.operators.LogitTrain.scoreDf(feats, m)
          .select(col("id").as("doc_id"), col("score"), col("keep"))
      }),

      // confusion counts + accuracy of the trained gate against its
      // training labels — the one-row sanity report a pipeline logs
      "quality_train_eval" -> ((s, dir) => {
        val (feats, m) = trainedGate(s, dir)
        graft.operators.LogitTrain.evalDf(feats, m)
      }),

      // active-learning query step: the 50 documents whose trained-gate
      // score sits closest to the decision boundary — where a human
      // label buys the most (bounded top-n, no global sort)
      "uncertainty_sample" -> ((s, dir) => {
        val (feats, m) = trainedGate(s, dir)
        graft.operators.LogitTrain.uncertaintyTopN(feats, m, n = 50)
          .select(col("rank"), col("id").as("doc_id"), col("score"))
      }),

      // GENERALIZATION check: train on a content-keyed 13/16 split
      // (md5(text) first hex digit not in 0-2), evaluate on the
      // held-out 3/16 — the train/test hygiene a real gate deployment
      // runs before trusting the weights
      "quality_train_holdout" -> ((s, dir) => {
        val d = docs(s, dir)
        val isTest = substring(md5(col("text")), 1, 1).isin("0", "1", "2")
        val trainFeats = graft.operators.LogitTrain.features(
          d.where(!isTest), "text", "doc_id", logitLabel)
        val testFeats = graft.operators.LogitTrain.features(
          d.where(isTest), "text", "doc_id", logitLabel)
        val m = graft.operators.LogitTrain.train(trainFeats,
          iters = logitIters, lr = logitLr)
        graft.operators.LogitTrain.evalDf(testFeats, m)
      }),

      // code-point entropy: the byte-level junk/repetition signal the
      // token stats miss (high = random/binary, near-zero = repetition);
      // one fused kernel pass, order-independent round-9 DECIMAL terms
      "char_entropy" -> ((s, dir) =>
        docs(s, dir).where(col("text").isNotNull)
          .select(col("doc_id").cast("long").as("doc_id"),
            graft.plans.GraftFunctions.char_entropy(col("text")).as("ce"))
          .select(col("doc_id"), col("ce.n_cp"), col("ce.n_distinct"),
            col("ce.entropy"))),

      // lexical diversity: per-doc type-token ratio from the token_tf
      // kernel (distinct terms / token instances — the low-TTR tail is
      // boilerplate/looping text)
      "ttr_stats" -> ((s, dir) =>
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
            size(graft.plans.GraftFunctions.token_tf(col("text")))
              .cast("long").as("n_types"),
            tokenCount(col("text")).cast("long").as("n_tok"))
          .withColumn("ttr",
            when(col("n_tok") === 0, 0.0)
              .otherwise(round(col("n_types") / col("n_tok").cast("double"), 6)))),

      // corpus vocabulary size: exact here for the oracle; the operator
      // defaults to the one-pass HLL sketch at scale (spec pins the
      // sketch within tolerance of exact)
      "vocab_size" -> ((s, dir) =>
        Corpus.vocabStats(docs(s, dir), "text", exact = true)),

      // context-window chunking (64-token windows, 8-token overlap)
      "doc_chunks" -> ((s, dir) =>
        Corpus.chunkByTokens(docs(s, dir), "text", "doc_id",
            chunkSize = 64, overlap = 8)
          .select(col("id").as("doc_id"), col("chunk_id"),
                  col("n_tok"), col("chunk_text"))),

      // group-wise vocabulary: top-5 tokens per language — partial-agg
      // on (lang, token) BEFORE ranking; the window ranks aggregated
      // counts, never the raw token stream
      "lang_top_tokens" -> ((s, dir) =>
        Corpus.tokenFrequenciesByGroup(docs(s, dir), "text", "lang", k = 5)
          .select(col("grp").as("lang"), col("rank"), col("token"), col("n"))),

      // Zipf-fit slope over the top-100 tokens: log(freq) ~ log(rank)
      // OLS from explicit sums (same closed form in DuckDB)
      "zipf_fit" -> ((s, dir) =>
        Corpus.zipfFit(docs(s, dir), "text", k = 100)),

      // CCNet-style perplexity filter: keep the best (lowest-ce) 50% by
      // an EXACT deterministic quantile cut — (ce, id) ranking through
      // the distributed prefix-sum, not approxQuantile
      "ppl_filter" -> ((s, dir) =>
        Corpus.perplexityFilter(docs(s, dir), "text", "doc_id",
            keepFraction = 0.5)
          .select(col("id").as("doc_id"), col("ce"), col("rank"))),

      // interpolated bigram cross-entropy (Jelinek-Mercer lam=0.7) —
      // the depth-2 LM quality signal; DECIMAL term sums keep the
      // transcendental aggregation order-independent cross-engine
      "bigram_ce" -> ((s, dir) =>
        Corpus.bigramCrossEntropy(docs(s, dir), "text", "doc_id", lam = 0.7)
          .select(col("id").as("doc_id"), col("n_big"), col("ce2"), col("ppl2"))),

      // concat-then-chunk sequence packing: global token offset per doc
      // in id order via a DISTRIBUTED prefix sum (per-partition totals +
      // broadcast starts — never a single-partition global window), then
      // the first/last 96-token training sequence each doc occupies
      "pack_sequences" -> ((s, dir) =>
        Packing.packSequences(docs(s, dir), "text", "doc_id", budget = 96)),

      // deterministic corpus shuffle: dense global rank under the
      // content-keyed md5 order (ties broken by id), computed with the
      // distributed prefix-sum — the reproducible training-freeze
      // shuffle (orderBy(rand()) re-rolls; zipWithIndex is
      // partitioning-dependent)
      "shuffle_order" -> ((s, dir) => {
        val keyed = docs(s, dir).select(col("doc_id"),
          md5(concat(lit("graft"), col("doc_id").cast("string"))).as("skey"))
        Packing.globalRank(keyed, "skey", "doc_id")
          .select(col("id").as("doc_id"), col("okey").as("skey"), col("rank"))
      }),

      // per-sequence fill: docs touching each training sequence and the
      // exact token count the id-ordered stream puts in it (every
      // sequence but the last is exactly full — the trainer's invariant)
      "pack_fill" -> ((s, dir) =>
        Packing.sequenceFill(
          Packing.packSequences(docs(s, dir), "text", "doc_id", budget = 96),
          budget = 96)),

      // multimodal: binary payload decode — the stub's byte-histogram
      // feature is DuckDB-expressible (hex-digit arithmetic), full oracle
      "multimodal_decode" -> ((s, dir) => {
        val withPayload = docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
                  encode(col("text"), "UTF-8").as("payload"))
        Multimodal.decodeFeatures(withPayload, "payload")
          .select(col("doc_id"), col("n_bytes"),
                  round(element_at(col("feature"), 7), 6).as("f6"),
                  round(element_at(col("feature"), 8), 6).as("f7"))
      }),

      // multimodal: REAL decode — even doc_ids carry a genuine 24-bit
      // BMP, odd ids a 16-bit PCM WAV (SyntheticMedia builds the actual
      // container bytes; MediaDecode parses them back: header walk,
      // row-stride padding, signed-LE samples). The oracle recomputes
      // the expected pixel/sample statistics FROM THE GENERATING
      // FORMULA in SQL — independent of the bytes, so a stride/padding/
      // endianness/sign bug in builder OR parser breaks parity
      "multimodal_decode_real" -> ((s, dir) => {
        val withPayload = docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
            graft.plans.GraftFunctions.synthetic_media(
              col("doc_id").cast("long")).as("payload"))
        Multimodal.decodeMedia(withPayload, "payload")
          .select(col("doc_id"), col("kind"), col("d1"), col("d2"),
            element_at(col("feature"), 1).as("f1"),
            element_at(col("feature"), 2).as("f2"),
            element_at(col("feature"), 3).as("f3"),
            element_at(col("feature"), 4).as("f4"))
      }),

      // multimodal: frame sampling over binary payloads (frame byte
      // counts are pure arithmetic over octet_length — full oracle)
      "multimodal_frames" -> ((s, dir) => {
        val withPayload = docs(s, dir)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        Multimodal.sampleFrames(withPayload, "payload", "doc_id",
          frameSize = 32, stride = 2)
      }),

      // multimodal: stride-sample resize (codegen ByteStride kernel);
      // resized bytes oracled exactly via hex-pair sampling in DuckDB
      "multimodal_resize" -> ((s, dir) => {
        val withPayload = docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
                  encode(col("text"), "UTF-8").as("payload"))
        Multimodal.resize(withPayload, "payload", targetBytes = 64)
          .select(col("doc_id"),
                  length(col("payload")).cast("long").as("n_bytes"),
                  col("resized_bytes"),
                  hex(col("resized")).as("resized_hex"))
      }),

      // lexical retrieval: BM25 top-10 for a fixed 4-query batch
      // (Operators.Retrieval; DECIMAL-exact scores, bounded-heap top-k)
      "bm25_topk" -> ((s, dir) =>
        graft.operators.Retrieval.bm25TopK(docs(s, dir), "text", "doc_id",
            bm25Queries, k = 10)
          .select(col("qid"), col("rank"), col("doc_id"),
                  round(col("score"), 6).as("score"))),

      // the SERVING path end-to-end: build the token-bucketed postings
      // index, then answer the same batch from bucket-pruned reads —
      // same oracle SQL as bm25_topk (identical output is the contract)
      "bm25_indexed" -> ((s, dir) => {
        val tag = s"${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        val name = s"graft_bm25_$tag"
        graft.operators.Retrieval.writeBm25Index(docs(s, dir), "text",
          "doc_id", name, s"/tmp/$name", nBuckets = 8)
        graft.operators.Retrieval.bm25TopKIndexed(s, name, s"/tmp/$name",
            bm25Queries, k = 10)
          .select(col("qid"), col("rank"), col("doc_id"),
                  round(col("score"), 6).as("score"))
      }),

      // the lexical index LIFECYCLE end-to-end: two segment appends
      // (a base build and a nightly delta — each segment-sized, df
      // deliberately NOT stored so appends cannot stale it), an
      // id-list tombstone delete, and a segmented serve whose df /
      // n_docs / avgdl are all recomputed exactly over the survivors —
      // the oracle is the plain scan-path replay over the surviving
      // corpus, so any stale-df or miscorrected-stats shortcut breaks
      // the hash
      "bm25_segmented" -> ((s, dir) => {
        val tag = s"${ProcessHandle.current.pid}_${dir.hashCode.toHexString}"
        val name = s"graft_bm25seg_$tag"
        val path = s"/tmp/$name"
        BenchData.deleteRecursively(path) // fresh epoch per run
        val d = docs(s, dir)
        graft.operators.Retrieval.appendBm25Segment(
          d.where(col("doc_id") % 3 =!= 2), "text", "doc_id",
          name, path, nBuckets = 8, segment = "base")
        graft.operators.Retrieval.appendBm25Segment(
          d.where(col("doc_id") % 3 === 2), "text", "doc_id",
          name, path, nBuckets = 8, segment = "delta")
        graft.operators.Retrieval.deleteFromBm25Index(
          d.where(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", path)
        graft.operators.Retrieval.bm25TopKSegmented(s, name, path,
            bm25Queries, k = 10)
          .select(col("qid"), col("rank"), col("doc_id"),
                  round(col("score"), 6).as("score"))
      }),

      // hybrid retrieval: reciprocal-rank fusion of the lexical BM25
      // ranking with the embedding brute-force-cosine ranking (the two
      // independently-oracled rankings above); a qid present in only
      // one leg fuses over that leg alone
      "retrieval_rrf" -> onEmb((s, dir, e) => {
        val lex = graft.operators.Retrieval.bm25TopK(docs(s, dir), "text",
          "doc_id", bm25Queries, k = 10)
        val qs = embQueries(e)
        val sem = Similarity.bruteForceTopK(e, "embedding",
            "vec_id", qs, k = 5)
          .withColumnRenamed("nid", "doc_id")
        graft.operators.Retrieval.rrfFuse(Seq(lex, sem), kRrf = 60, topK = 10)
          .select(col("qid"), col("rank"), col("doc_id"),
                  round(col("score"), 6).as("score"))
      }),

      // DSIR importance weights: hashed-unigram log-likelihood ratio of
      // every raw doc against the deterministic target slice
      // (doc_id % 97 == 0 — the contamination queries' eval-set
      // convention); DECIMAL-exact sums, md5 bucket hash replayed by
      // the oracle
      "dsir_weights" -> ((s, dir) => {
        val d = docs(s, dir)
        val target = d.where(pmod(col("doc_id").cast("long"), lit(97)) === 0)
        val raw = d.where(pmod(col("doc_id").cast("long"), lit(97)) =!= 0)
        val ratios = graft.operators.Dsir.logRatios(target, raw, "text",
          "doc_id", buckets = 4096)
        graft.operators.Dsir.logWeights(raw, "text", "doc_id", ratios, 4096)
          .select(col("doc_id"), round(col("weight"), 6).as("weight"))
      }),

      // DSIR selection: top-100 most target-like raw docs by
      // (weight desc, doc_id asc) — the resampling cut
      "dsir_sample" -> ((s, dir) => {
        val d = docs(s, dir)
        val target = d.where(pmod(col("doc_id").cast("long"), lit(97)) === 0)
        val raw = d.where(pmod(col("doc_id").cast("long"), lit(97)) =!= 0)
        val ratios = graft.operators.Dsir.logRatios(target, raw, "text",
          "doc_id", buckets = 4096)
        val w = graft.operators.Dsir.logWeights(raw, "text", "doc_id",
          ratios, 4096)
        graft.operators.Dsir.selectTopK(w, k = 100)
          .select(col("rank"), col("doc_id"),
                  round(col("weight"), 6).as("weight"))
      }),

      // distributed BPE tokenizer training: first 24 merges of the
      // corpus vocabulary (oracle: an INDEPENDENT Python implementation,
      // tools/gen_bpe_oracle.py, via the precomputed-rows gate)
      "bpe_merges" -> ((s, dir) =>
        graft.operators.Bpe.trainMerges(docs(s, dir), "text",
            numMerges = 24)
          .select(col("rank").cast("long").as("rank"), col("left"),
                  col("right"), col("n"))),

      // BPE encode with the learned table, rolled up per language:
      // every document's token/subword counts contribute (a single
      // mis-encoded word anywhere moves a sum), so the aggregate pins
      // the whole encode path with a bounded oracle (same
      // independent-Python derivation as bpe_merges)
      "bpe_encode_stats" -> ((s, dir) => {
        val d = docs(s, dir)
        val merges = graft.operators.Bpe.collectMerges(
          graft.operators.Bpe.trainMerges(d, "text", numMerges = 24))
        graft.operators.Bpe.encodeStats(d, "text", "doc_id", merges)
          .join(d.select(col("doc_id").cast("long").as("doc_id"),
            col("lang")), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tok"),
            sum(col("n_subwords")).as("n_subwords"))
          .select(col("lang"), col("n_docs"), col("n_tok"), col("n_subwords"),
            round(col("n_subwords").cast("double") /
              col("n_tok").cast("double"), 6).as("fertility"))
      }),

      // Lloyd's k-means over the embeddings: trained centroid table in
      // long form (oracle: an INDEPENDENT Python implementation,
      // tools/gen_kmeans_oracle.py — same md5-seeded init, sequential
      // distance loops, DECIMAL update sums)
      "kmeans_centroids" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6)
        graft.operators.Kmeans.centroidsDf(e, "embedding", "vec_id", m)
          .select(col("cid"), col("dim"), round(col("w"), 6).as("w"),
            col("n"))
      }),

      // the SAME fit with the driver-local small-input fast path
      // disabled (localMaxRows = 0): keeps the DISTRIBUTED iteration
      // loop (block kernels over the cached partitions, exact merges)
      // oracle-gated at every SF now that the tiny-corpus default
      // dispatches locally — the som_train_distributed convention;
      // byte-identical output to kmeans_centroids is the contract
      "kmeans_train_distributed" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6, localMaxRows = 0L)
        graft.operators.Kmeans.centroidsDf(e, "embedding", "vec_id", m)
          .select(col("cid"), col("dim"), round(col("w"), 6).as("w"),
            col("n"))
      }),

      // the assignment pass: every vector's cell and squared distance
      // (pins each row's argmin AND its d2 arithmetic)
      "kmeans_assign" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6)
        graft.operators.Kmeans.assign(e, "embedding", "vec_id", m)
          .select(col("vec_id"), col("cid"), round(col("d2"), 6).as("d2"))
      }),

      // the farthest-first (Gonzalez) init path at sf scale: the
      // quality option's centroid table, same independent derivation
      "kmeans_farthest" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 4, initMethod = "farthest")
        graft.operators.Kmeans.centroidsDf(e, "embedding", "vec_id", m)
          .select(col("cid"), col("dim"), round(col("w"), 6).as("w"),
            col("n"))
      }),

      // the k-means||-style (Bahmani 2012) large-k init path: candidate
      // oversampling in O(rounds) scans + weighted greedy reduction —
      // the init real IVF deployments (k >= 4096) must use, gated here
      // at sf scale with the same independent-Python derivation
      "kmeans_scalable_init" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 4, initMethod = "scalable")
        graft.operators.Kmeans.centroidsDf(e, "embedding", "vec_id", m)
          .select(col("cid"), col("dim"), round(col("w"), 6).as("w"),
            col("n"))
      }),

      // the forced-distributed twin (localMaxRows = 0 disables the
      // r11 driver-local small-input dispatch in BOTH the k-means||
      // oversampling rounds and the Lloyd's loop): byte-identical to
      // kmeans_scalable_init by the twin contract, sharing its
      // independent-Python oracle — keeps the distributed init rounds
      // driver-checked at every SF (the kmeans_train_distributed
      // convention)
      "kmeans_scalable_init_distributed" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 4, initMethod = "scalable", localMaxRows = 0L)
        graft.operators.Kmeans.centroidsDf(e, "embedding", "vec_id", m)
          .select(col("cid"), col("dim"), round(col("w"), 6).as("w"),
            col("n"))
      }),

      // SemDeDup with the paper's own quantizer (k-means cells) — the
      // SOM-celled dedup_semantic's sibling; same pair/resolve core
      "dedup_semantic_kmeans" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6)
        graft.operators.Dedup.semanticDupClustersKmeans(e, "embedding",
            "vec_id", m, threshold = 0.25)
          .select(col("id").as("vec_id"), col("cid"), col("keep_id"))
      }),

      // cluster-balanced selection: a fixed content-keyed sample per
      // embedding cluster (the SemDeDup/DataComp-style density
      // flattener) — bounded-heap per cell, no window
      "kmeans_balanced_sample" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6)
        graft.operators.Kmeans.balancedSample(e, "embedding", "vec_id", m,
          perCell = 20)
      }),

      // per-cluster quality: population, mean simplified silhouette
      // (own vs second-nearest centroid, both from the one argmin
      // pass), mean own-centroid distance — DECIMAL-exact means
      "kmeans_quality" -> ((s, dir) => {
        val e = emb(s, dir)
        val m = graft.operators.Kmeans.fit(e, "embedding", "vec_id",
          k = 8, iters = 6)
        graft.operators.Kmeans.qualityDf(e, "embedding", "vec_id", m)
      }),

      // IVF ANN with the k-means coarse quantizer (the standard-IVF
      // sibling of ann_som_topk): probe 3 of 8 cells per query
      "ann_ivf_kmeans" -> onEmb((s, dir, e) => {
        graft.operators.Kmeans.ivfTopK(e, "embedding", "vec_id",
          embQueries(e), k = 5, kClusters = 8, iters = 4, nProbe = 3)
      })
    )
  }

  /** The fixed BM25 query batch (terms from the synthetic corpus
    * vocabulary — TESTDATA.md). Literal in both the Spark query and
    * the DuckDB oracle.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "hash join",
    1L -> "fast scan filter",
    2L -> "stream window agg",
    3L -> "customer order data big query")

  // ---------------------------------------------- relational / events

  /** `events` with `ts` normalized to LONG EPOCH NANOS regardless of the
    * parquet physical type. Driver datasets have shipped ts BOTH ways:
    * nanos-annotated INT64 (reads as LongType under the sessions'
    * `nanosAsLong` flag) and `timestamp[us]` (reads as TIMESTAMP /
    * TIMESTAMP_NTZ). Normalizing here keeps every downstream window /
    * gap computation exact ns-long integer arithmetic — identical to
    * the oracles' `epoch_ns(ts)` and valid under BOTH ANSI modes
    * (timestamp-minus-bigint throws under ANSI; NTZ converts via the
    * session timezone, which every entrypoint pins to UTC, matching
    * DuckDB's naive-timestamp epoch).
    */
  private def eventsNs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => raw
    }
  }

  private lazy val relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style scan + hash aggregate with pushed-down filter.
    // Money math in DECIMAL so partial-aggregation order can't move a
    // sum across a rounding boundary (exact, bit-identical to DuckDB).
    "q1_lineitem_agg" -> ((s, dir) => {
      val qty = col("l_quantity").cast("decimal(18,6)")
      val price = col("l_extendedprice").cast("decimal(18,6)")
      val disc = col("l_discount").cast("decimal(18,6)")
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(qty), 2).cast("double").as("sum_qty"),
             round(sum(price), 2).cast("double").as("sum_base"),
             round(sum(price * (lit(1).cast("decimal(18,6)") - disc)), 2)
               .cast("double").as("sum_disc_price"),
             round(sum(disc).cast("double") / count(lit(1)), 6).as("avg_disc"),
             count(lit(1)).as("n"))
    }),

    // TPC-H Q3-style 3-way join (customer broadcast, orders/lineitem shuffle)
    "q3_revenue_by_order" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val price = col("l_extendedprice").cast("decimal(18,6)")
      val disc = col("l_discount").cast("decimal(18,6)")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(price * (lit(1).cast("decimal(18,6)") - disc)), 2)
               .cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("revenue"), col("n_items"))
    }),

    // events: two-level hash aggregate
    "events_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
                col("n"), col("avg_value"))),

    // events: semi-structured metadata extraction. `props` is a JSON
    // string (the universal side-channel for crawl/source metadata);
    // `from_json` with a caller-DECLARED schema types it in-plan — no
    // inference pass over the corpus, no UDF — and the aggregate
    // groups on the extracted key. One scan, map-side partial agg;
    // the JSON parse is per-row narrow work that scales with
    // executors. (Parse failures yield NULL fields, grouped under the
    // NULL key rather than killing the job — same quarantine stance
    // as Jsonl.readPermissive.)
    "events_props_extract" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(from_json(col("props"),
                  org.apache.spark.sql.types.StructType.fromDDL("k INT"))
                  .getField("k").cast("long").as("k"),
                col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))),

    // events: per-user argmax via window function
    "events_top_event" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                round(col("value"), 6).as("value"))
    }),

    // events: tumbling-hour windowed counts (the batch twin of the
    // streaming activation/window aggregation; ns-long arithmetic keeps
    // the window boundary exact on both engines)
    "events_hourly" -> ((s, dir) =>
      eventsNs(s, dir)
        .withColumn("window_start_ns",
          col("ts") - pmod(col("ts"), lit(3600000000000L)))
        .groupBy("window_start_ns", "event_type")
        .agg(count(lit(1)).as("n"),
             round(sum("value"), 4).as("sum_value"))
        .select(col("window_start_ns").cast("long").as("window_start_ns"),
                col("event_type"), col("n"), col("sum_value"))),

    // events: sessionization (30-minute gap) via lag window
    // as-of (temporal) join: each purchase matched to the user's most
    // recent click at-or-before it — attribution, the canonical as-of
    // use case. Union + running-last window, never a quadratic range
    // join; ties on click ts resolve to max event_id (struct order),
    // replayed identically in the oracle
    "events_asof" -> ((s, dir) => {
      val ev = eventsNs(s, dir)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("long").as("ts"))
      graft.operators.AsOfJoin.joinAsOf(side("purchase"), side("click"),
          "user_id", "ts")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"),
          col("asof.event_id").as("c_id"), col("asof.ts").as("c_ts"))
    }),

    // interval (range) join: all purchases within the hour AFTER each
    // click by the same user — the attribution-candidate set. Bucketed
    // equi-join on (user, aligned-hour-bucket): the left side probes at
    // most two buckets, the exact range filters after; never the
    // per-key-quadratic θ-join
    "events_range_join" -> ((s, dir) => {
      val ev = eventsNs(s, dir)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("long").as("ts"))
      graft.operators.AsOfJoin.joinRange(side("click"), side("purchase"),
          "user_id", "ts", lo = 1L, hi = 3600000000000L)
        .select(col("l_event_id").as("c_id"), col("r_event_id").as("p_id"),
          (col("r_ts") - col("l_ts")).as("gap_ns"))
    }),

    // ordered 3-step funnel (view -> click -> purchase, strictly
    // increasing event times): greedy earliest-chain per user — an
    // increasing triple exists iff the greedy chain completes, so the
    // per-stage groupBys stay partial-aggregatable min()s and nothing
    // windows over raw events
    "events_funnel" -> ((s, dir) => {
      val ev = eventsNs(s, dir)
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type"), col("ts").cast("long").as("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vt"))
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("vt"))
        .groupBy("user_id").agg(min("ts").as("ct"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") > col("ct"))
        .groupBy("user_id").agg(min("ts").as("pt"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
    }),

    // per-user trailing-hour rolling sum: RANGE frame over exact
    // epoch-nanos longs — per-key window partitions (splittable across
    // the user space); round(.,4) absorbs frame-summation FP order
    "events_rolling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0L)
      eventsNs(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("long").as("ts"), col("value"))
        .withColumn("roll_sum", round(sum("value").over(w), 4))
    }),

    "events_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      eventsNs(s, dir) // ts: long epoch nanos whatever the file wrote
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
               col("ts") - col("prev_ts") > 1800000000000L, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").cast("long").as("n_sessions"),
             count(lit(1)).as("n_events"))
        .select(col("user_id").cast("long").as("user_id"),
                col("n_sessions"), col("n_events"))
    })
  )

  /** Round to 6 decimals HALF_UP — same mode as Spark's `round()` and
    * DuckDB's `round()`, so hashes match bit-exactly.
    */
  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** 4-decimal variant for cross-engine SUMS (the covariance trace):
    * different accumulation orders leave ~1e-11 absolute noise, far
    * inside 4 decimals but not guaranteed inside 6.
    */
  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exploded per-(sample, neuron) distances through the model's
    * activation path (`activate`, xpysom.py:323-354).
    */
  private def distanceQuery(s: SparkSession, dir: String, distance: String,
                            sqrtDist: Boolean, normP: Double = 2.0): DataFrame = {
    val e = emb(s, dir)
    val m = fixedModel(e, distance = distance, normP = normP)
    val base = m.activate(e, "embedding")
      .select(col("vec_id").cast("long").as("vec_id"),
              posexplode(col("activation")).as(Seq("nid", "dist")))
    val d = if (sqrtDist) sqrt(greatest(col("dist"), lit(0.0))) else col("dist")
    base.select(col("vec_id"), col("nid").cast("long").as("nid"),
                round(d, 6).as("dist"))
  }

  /** All-centers neighborhood dump on a 5x5 rect grid, sigma=1,
    * std_coeff=0.5 (driver-local math, like the reference kernels).
    */
  private def neighborhoodQuery(s: SparkSession, name: String): DataFrame = {
    val topo = Rectangular(5, 5)
    val n = Neighborhoods(name, topo, stdCoeff = 0.5, compact = false)
    val out = new Array[Double](25)
    val rows = (for (ci <- 0 until 5; cj <- 0 until 5) yield {
      n.compute(Array(ci), Array(cj), 1, 1.0, out)
      (for (i <- 0 until 5; j <- 0 until 5)
        yield (ci.toLong, cj.toLong, i.toLong, j.toLong, r6(out(i * 5 + j)))).toVector
    }).flatten
    s.createDataFrame(rows).toDF("ci", "cj", "i", "j", "g")
  }

  // ------------------------------------------------------------ oracles

  /** The split_by_hash train/val/test CASE (salt 'graft', 0.8/0.1/0.1)
    * — shared by the split_by_hash and split_leakage oracles so the
    * assignment spelling cannot drift between them.
    */
  private val duckSplitCase: String =
    """CASE WHEN substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 8) < 'cccccccd' THEN 'train'
      |            WHEN substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 8) < 'e6666666' THEN 'val'
      |            ELSE 'test' END""".stripMargin

  /** DuckDB token expression mirroring TextFunctions.tokens. */
  private val duckToks: String =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> length(t) > 0)"""

  /** DSIR oracle CTE (shared by dsir_weights / dsir_sample): the exact
    * arithmetic of Dsir.logRatios/logWeights — md5-prefix bucket hash,
    * add-one smoothing, 9-decimal-rounded DECIMAL(18,9) log-ratios,
    * exact DECIMAL weight sums.
    */
  private lazy val dsirWeightsCte: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks
       |     FROM documents WHERE text IS NOT NULL),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, u.t AS token, count(*) AS tf
       |  FROM t, LATERAL (SELECT unnest(toks) AS t) u GROUP BY doc_id, u.t),
       |bk AS MATERIALIZED (
       |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 4096 AS bucket, tf
       |  FROM tf),
       |tc AS (SELECT bucket, sum(tf) AS ct FROM bk WHERE doc_id % 97 = 0 GROUP BY bucket),
       |rc AS (SELECT bucket, sum(tf) AS cr FROM bk WHERE doc_id % 97 <> 0 GROUP BY bucket),
       |tt AS (SELECT COALESCE(sum(ct), 0) AS nt FROM tc),
       |rt AS (SELECT COALESCE(sum(cr), 0) AS nr FROM rc),
       |sp AS (SELECT unnest(generate_series(0, 4095)) AS bucket),
       |lr AS (
       |  SELECT sp.bucket,
       |         CAST(round(
       |           ln((CAST(COALESCE(tc.ct, 0) AS DOUBLE) + 1.0) / CAST(tt.nt + 4096 AS DOUBLE))
       |           - ln((CAST(COALESCE(rc.cr, 0) AS DOUBLE) + 1.0) / CAST(rt.nr + 4096 AS DOUBLE)),
       |           9) AS DECIMAL(18, 9)) AS lnr
       |  FROM sp LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
       |       CROSS JOIN tt CROSS JOIN rt),
       |w AS (
       |  SELECT b.doc_id,
       |         CAST(sum(CAST(b.tf AS DECIMAL(10, 0)) * lr.lnr) AS DOUBLE) AS weight
       |  FROM bk b JOIN lr USING (bucket) WHERE b.doc_id % 97 <> 0 GROUP BY b.doc_id)""".stripMargin

  private lazy val dsirWeightsSql: String =
    s"""$dsirWeightsCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |       CAST(round(weight, 6) AS DOUBLE) AS weight
       |FROM w""".stripMargin

  /** BM25 oracle (shared by `bm25_topk` and `bm25_indexed` — the
    * serving index must answer byte-identically to the scan path):
    * same pre-tokenized query batch, same Robertson constants, per-term
    * contributions rounded to 9 decimals and summed as DECIMAL(28,9) —
    * the formula is spelled with the exact association the Spark side
    * (`Retrieval.contribCol`) uses, so the doubles agree bitwise.
    */
  /** The BM25 CTE chain up to the ranked rows `r` (qid, doc_id, score,
    * rank) — shared verbatim by the `bm25_topk`/`bm25_indexed` oracles
    * and the lexical leg of the `retrieval_rrf` fusion oracle, so the
    * rankings being fused are the ones being independently verified.
    */
  /** `extraWhere` restricts the replayed corpus (the segmented-index
    * delete replay); "" = all documents. */
  private def bm25RankedCtesFor(extraWhere: String): String =
    s"""q(qid, token) AS (VALUES
       |  (0, 'hash'), (0, 'join'),
       |  (1, 'fast'), (1, 'scan'), (1, 'filter'),
       |  (2, 'stream'), (2, 'window'), (2, 'agg'),
       |  (3, 'customer'), (3, 'order'), (3, 'data'), (3, 'big'), (3, 'query')),
       |t AS MATERIALIZED (SELECT doc_id, $duckToks AS toks
       |     FROM documents WHERE text IS NOT NULL$extraWhere),
       |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, u.t AS token, count(*) AS tf
       |  FROM t, LATERAL (SELECT unnest(toks) AS t) u
       |  WHERE u.t IN (SELECT token FROM q) GROUP BY doc_id, u.t),
       |dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |c AS (
       |  SELECT q.qid, tf.doc_id,
       |         CAST(round(
       |           round(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
       |                          / (CAST(dfs.df AS DOUBLE) + 0.5)), 6)
       |           * ((CAST(tf.tf AS DOUBLE) * 2.2)
       |              / (CAST(tf.tf AS DOUBLE)
       |                 + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
       |                     / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))),
       |           9) AS DECIMAL(28, 9)) AS c
       |  FROM tf JOIN dfs USING (token) JOIN dl USING (doc_id)
       |       JOIN q USING (token) CROSS JOIN st),
       |s AS (SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
       |      FROM c GROUP BY qid, doc_id),
       |r AS (SELECT qid, doc_id, score,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY score DESC, doc_id) AS rank FROM s)""".stripMargin

  private lazy val bm25RankedCtes: String = bm25RankedCtesFor("")

  private lazy val bm25TopkSql: String =
    s"""WITH $bm25RankedCtes
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
       |       CAST(doc_id AS BIGINT) AS doc_id,
       |       CAST(round(score, 6) AS DOUBLE) AS score
       |FROM r WHERE rank <= 10""".stripMargin

  /** The brute-force-cosine CTE chain up to the ranked rows `ranked`
    * (qid, nid, sim, rn) — shared by the `ann_cosine_topk` oracle and
    * the embedding leg of the `retrieval_rrf` fusion oracle.
    */
  private lazy val annRankedCtes: String =
    """ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings
      |), norms AS (SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
      |qids AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 5),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dot
      |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id IN (SELECT qid FROM qids)
      |  GROUP BY a.vec_id, b.vec_id),
      |ranked AS (
      |  SELECT d.qid, d.nid,
      |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
      |              ELSE d.dot / sqrt(nq.nrm * nn.nrm) END AS sim,
      |         row_number() OVER (PARTITION BY d.qid
      |           ORDER BY (CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
      |                          ELSE d.dot / sqrt(nq.nrm * nn.nrm) END) DESC,
      |                    d.nid ASC) AS rn
      |  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
      |              JOIN norms nn ON nn.vec_id = d.nid)""".stripMargin

  private val allMarkers: String =
    graft.functions.TextFunctions.langMarkers.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** The gopher_filter stop-word list literal, generated from the
    * engine-side list (plain lowercase words, no quoting hazards).
    */
  private val duckStopwords: String =
    graft.functions.TextFunctions.englishStopwords
      .map(w => s"'$w'").mkString(", ")

  /** Per-language marker-hit scores over `toks` (shared by the lang_id
    * and stratified_sample oracles — one definition so they cannot
    * drift).
    */
  private lazy val langScoresSql: String =
    graft.functions.TextFunctions.langMarkers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"length(list_filter(toks, t -> list_contains($lst, t))) AS s_$lang"
    }.mkString(",\n       ")

  /** Argmax with the alphabetical tie-break, mirroring `langId`.
    * Derived from `langMarkers` like `langScoresSql`, so adding a
    * language updates engine and oracle together.
    */
  private lazy val langCaseSql: String = {
    val langs = graft.functions.TextFunctions.langMarkers.map(_._1)
    val whens = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${whens.mkString("\n            ")}\n            ELSE '${langs.last}' END"
  }

  /** The oracle map the driver dumps (Verify → oracle_sql.json).
    *
    * Default mode substitutes PRECOMPUTED expected-row oracles for the
    * handful of queries whose live DuckDB replay is minutes of CPU
    * (full minhash/LSH signature chains, within-cell cosine products):
    * the replay was run ONCE per scale factor by
    * `tools/gen_precomputed_oracles.py`, its DuckDB result rows were
    * embedded as sf-branched VALUES literals, and the gate then
    * compares the engine against those DuckDB-derived rows at ~zero
    * oracle cost. This keeps the whole 115-query sweep inside any
    * driver timeout (round 7's full-replay gate exceeded it and the
    * round recorded NO correctness rows). `GRAFT_FULL_REPLAY=1`
    * re-selects the live replay SQL everywhere — that is also how the
    * precomputed rows are (re)derived, so the cache's provenance is
    * mechanically checkable at any time.
    */
  lazy val oracles: Map[String, String] = {
    // IndependentOracles entries (BPE) have no live SQL form in ANY
    // mode — the independent Python derivation is their only oracle
    val base =
      (if (sys.env.contains("GRAFT_FULL_REPLAY")) liveOracles
       else liveOracles ++ PrecomputedOracles.sql.view
         .filterKeys(liveOracles.contains).toMap) ++ IndependentOracles.sql
    // the forced-distributed twins compute byte-identically to their
    // default-dispatch siblings — one independent oracle gates both
    // paths of each
    base ++ base.get("kmeans_centroids")
      .map("kmeans_train_distributed" -> _) ++
      base.get("kmeans_scalable_init")
        .map("kmeans_scalable_init_distributed" -> _)
  }

  /** Every oracle in full-replay form (the precomputed entries' source
    * of truth; `gen_precomputed_oracles.py` consumes this via
    * GRAFT_FULL_REPLAY=1).
    */
  lazy val liveOracles: Map[String, String] = pipelineOracles ++ relationalOracles ++ Map(
    "som_winner" ->
      s"""$cbDistCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |FROM d GROUP BY vec_id""".stripMargin,

    "som_activation_response" ->
      s"""$cbDistCte, bmu AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |         (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |  FROM d GROUP BY vec_id)
         |SELECT bmu_id, CAST(count(*) AS BIGINT) AS n_wins FROM bmu GROUP BY bmu_id""".stripMargin,

    "som_win_map" ->
      s"""$cbDistCte
         |SELECT (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id,
         |       CAST(vec_id AS BIGINT) AS vec_id
         |FROM d GROUP BY vec_id""".stripMargin,

    "som_labels_map" ->
      s"""$cbDistCte, bmu AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |  FROM d GROUP BY vec_id)
         |SELECT b.bmu_id, CAST(e.label AS BIGINT) AS label,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM bmu b JOIN embeddings e ON b.vec_id = e.vec_id
         |GROUP BY b.bmu_id, e.label""".stripMargin,

    "som_quantization" ->
      s"""$cbDistCte, bmu AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |  FROM d GROUP BY vec_id)
         |SELECT CAST(b.vec_id AS BIGINT) AS vec_id,
         |       CAST(u.i - 1 AS BIGINT) AS dim,
         |       CAST(c.w[u.i] AS DOUBLE) AS q
         |FROM bmu b JOIN cb c ON b.bmu_id = c.nid,
         |     LATERAL (SELECT generate_subscripts(c.w, 1) AS i) u""".stripMargin,

    "som_quantization_error" ->
      s"""$cbDistCte
         |SELECT CAST(round(avg(sqrt(m)), 6) AS DOUBLE) AS qe
         |FROM (SELECT vec_id, min(dist2) AS m FROM d GROUP BY vec_id)""".stripMargin,

    "som_topographic_error" ->
      s"""$cbDistCte, ranked AS (
         |  SELECT vec_id, nid, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, nid ASC) AS rn
         |  FROM d)
         |SELECT CAST(round(avg(CASE WHEN abs(b1.nid // 3 - b2.nid // 3) > 1
         |                            OR abs(b1.nid % 3 - b2.nid % 3) > 1
         |                           THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS te
         |FROM ranked b1 JOIN ranked b2 ON b1.vec_id = b2.vec_id AND b1.rn = 1 AND b2.rn = 2""".stripMargin,

    "som_distance_euclidean" ->
      s"""$cbDistCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, nid,
         |       CAST(round(sqrt(dist2), 6) AS DOUBLE) AS dist FROM d""".stripMargin,

    "som_distance_cosine" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |), d AS (
        |  SELECT e.vec_id, c.nid,
        |         sum(CAST(u.v AS DOUBLE) * CAST(c.w[u.i] AS DOUBLE)) AS dot,
        |         sum(CAST(u.v AS DOUBLE) * CAST(u.v AS DOUBLE)) AS x2,
        |         sum(CAST(c.w[u.i] AS DOUBLE) * CAST(c.w[u.i] AS DOUBLE)) AS w2
        |  FROM embeddings e CROSS JOIN cb c,
        |       LATERAL (SELECT unnest(e.embedding) AS v,
        |                       generate_subscripts(e.embedding, 1) AS i) u
        |  GROUP BY e.vec_id, c.nid
        |)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, nid,
        |       CAST(round(1 - CASE WHEN sqrt(x2 * w2) = 0 THEN 0
        |                           ELSE dot / sqrt(x2 * w2) END, 6) AS DOUBLE) AS dist
        |FROM d""".stripMargin,

    "som_distance_manhattan" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |)
        |SELECT CAST(e.vec_id AS BIGINT) AS vec_id, c.nid,
        |       CAST(round(sum(abs(CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))), 6) AS DOUBLE) AS dist
        |FROM embeddings e CROSS JOIN cb c,
        |     LATERAL (SELECT unnest(e.embedding) AS v,
        |                     generate_subscripts(e.embedding, 1) AS i) u
        |GROUP BY e.vec_id, c.nid""".stripMargin,

    "som_distance_norm_p3" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |)
        |SELECT CAST(e.vec_id AS BIGINT) AS vec_id, c.nid,
        |       CAST(round(sum(pow(abs(CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE)), 3)), 6) AS DOUBLE) AS dist
        |FROM embeddings e CROSS JOIN cb c,
        |     LATERAL (SELECT unnest(e.embedding) AS v,
        |                     generate_subscripts(e.embedding, 1) AS i) u
        |GROUP BY e.vec_id, c.nid""".stripMargin,

    "som_epoch_update" ->
      s"""$cbDistCte, bmu AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |  FROM d GROUP BY vec_id),
         |g AS (
         |  SELECT b.vec_id, c.nid,
         |         0.5 * exp(-CAST((c.nid // 3 - b.bmu_id // 3) * (c.nid // 3 - b.bmu_id // 3) AS DOUBLE) / 0.5)
         |             * exp(-CAST((c.nid % 3 - b.bmu_id % 3) * (c.nid % 3 - b.bmu_id % 3) AS DOUBLE) / 0.5) AS g
         |  FROM bmu b CROSS JOIN cb c),
         |num AS (
         |  SELECT g.nid, CAST(u.i - 1 AS BIGINT) AS dim,
         |         sum(g.g * CAST(u.v AS DOUBLE)) AS num
         |  FROM g JOIN embeddings e ON g.vec_id = e.vec_id,
         |       LATERAL (SELECT unnest(e.embedding) AS v,
         |                       generate_subscripts(e.embedding, 1) AS i) u
         |  GROUP BY g.nid, u.i),
         |den AS (SELECT nid, sum(g) AS den FROM g GROUP BY nid)
         |SELECT num.nid, num.dim,
         |       CAST(round(num.num / den.den, 6) AS DOUBLE) AS w
         |FROM num JOIN den ON num.nid = den.nid""".stripMargin,

    "som_decays" ->
      """SELECT CAST(t AS BIGINT) AS t,
        |       CAST(round(0.5 + (0.01 - 0.5) * t / 9.0, 6) AS DOUBLE) AS lin,
        |       CAST(round(0.5 * exp(-t * (-ln(0.01 / 0.5) / 10.0)), 6) AS DOUBLE) AS exp,
        |       CAST(round(0.5 / (1 + 2.0 * t / 10.0), 6) AS DOUBLE) AS asym
        |FROM generate_series(0, 9) s(t)""".stripMargin,

    "som_neighborhood_gaussian" ->
      """SELECT CAST(ci AS BIGINT) AS ci, CAST(cj AS BIGINT) AS cj,
        |       CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(round(exp(-CAST((i - ci) * (i - ci) AS DOUBLE) / 0.5)
        |                * exp(-CAST((j - cj) * (j - cj) AS DOUBLE) / 0.5), 6) AS DOUBLE) AS g
        |FROM generate_series(0, 4) a(ci), generate_series(0, 4) b(cj),
        |     generate_series(0, 4) c(i), generate_series(0, 4) e(j)""".stripMargin,

    "som_neighborhood_mexican_hat" ->
      """SELECT CAST(ci AS BIGINT) AS ci, CAST(cj AS BIGINT) AS cj,
        |       CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(round(exp(-CAST((i-ci)*(i-ci) + (j-cj)*(j-cj) AS DOUBLE) / 0.5)
        |                * (1 - 4.0 * CAST((i-ci)*(i-ci) + (j-cj)*(j-cj) AS DOUBLE)), 6)
        |            + 0.0 AS DOUBLE) AS g
        |FROM generate_series(0, 4) a(ci), generate_series(0, 4) b(cj),
        |     generate_series(0, 4) c(i), generate_series(0, 4) e(j)""".stripMargin,

    "som_neighborhood_bubble" ->
      """SELECT CAST(ci AS BIGINT) AS ci, CAST(cj AS BIGINT) AS cj,
        |       CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(CASE WHEN i > ci - 1 AND i < ci + 1 AND j > cj - 1 AND j < cj + 1
        |                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS g
        |FROM generate_series(0, 4) a(ci), generate_series(0, 4) b(cj),
        |     generate_series(0, 4) c(i), generate_series(0, 4) e(j)""".stripMargin,

    "som_neighborhood_triangle" ->
      """SELECT CAST(ci AS BIGINT) AS ci, CAST(cj AS BIGINT) AS cj,
        |       CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(round(greatest(0.0, 1.0 - abs(CAST(ci - i AS DOUBLE)))
        |                * greatest(0.0, 1.0 - abs(CAST(cj - j AS DOUBLE))), 6) AS DOUBLE) AS g
        |FROM generate_series(0, 4) a(ci), generate_series(0, 4) b(cj),
        |     generate_series(0, 4) c(i), generate_series(0, 4) e(j)""".stripMargin,

    "som_umatrix" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |), nb AS (
        |  SELECT a.nid AS n1, b.nid AS n2,
        |         sqrt(sum((CAST(a.w[u.i] AS DOUBLE) - CAST(b.w[u.i] AS DOUBLE))
        |                * (CAST(a.w[u.i] AS DOUBLE) - CAST(b.w[u.i] AS DOUBLE)))) AS dist
        |  FROM cb a JOIN cb b
        |    ON a.nid <> b.nid
        |   AND abs(a.nid // 3 - b.nid // 3) <= 1 AND abs(a.nid % 3 - b.nid % 3) <= 1,
        |       LATERAL (SELECT generate_subscripts(a.w, 1) AS i) u
        |  GROUP BY a.nid, b.nid
        |), um AS (SELECT n1, sum(dist) AS u FROM nb GROUP BY n1)
        |SELECT CAST(n1 // 3 AS BIGINT) AS i, CAST(n1 % 3 AS BIGINT) AS j,
        |       CAST(round(u / (SELECT max(u) FROM um), 6) AS DOUBLE) AS u
        |FROM um""".stripMargin,

    "som_hex_coords" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(CASE WHEN (5 - 1 - j) % 2 = 0 THEN i - 0.5 ELSE CAST(i AS DOUBLE) END AS DOUBLE) AS ex,
        |       CAST(j AS DOUBLE) AS ey
        |FROM generate_series(0, 4) a(i), generate_series(0, 4) b(j)""".stripMargin,

    // derived-invariant oracle: every codebook row is a dataset member,
    // exactly x*y = 9 rows, dim = the data's dim (data-derived, not a
    // constant). The engine side joins the actual sampled codebook
    // against the dataset — a non-member draw flips is_member to 0.
    "som_sample_init" ->
      """SELECT CAST(t AS BIGINT) AS nid, CAST(1 AS BIGINT) AS is_member,
        |       (SELECT CAST(len(embedding) AS BIGINT) FROM embeddings
        |        ORDER BY vec_id LIMIT 1) AS dim
        |FROM generate_series(0, 8) s(t)""".stripMargin,

    // derived-invariant oracle for the pca init: the expected check
    // values are structural constants EXCEPT n_dims and cov_trace,
    // which DuckDB derives from the embeddings independently (trace of
    // the sample covariance = sum of per-dimension var_samp) — pinning
    // the covariance the engine diagonalizes to the actual data. All
    // float literals CAST AS DOUBLE (bare literals parse as DECIMAL).
    "som_pca_init" ->
      """WITH tr AS (
        |  SELECT CAST(round(sum(vv), 4) AS DOUBLE) AS t FROM (
        |    SELECT var_samp(CAST(u.v AS DOUBLE)) AS vv
        |    FROM embeddings e,
        |         LATERAL (SELECT unnest(e.embedding) AS v,
        |                         generate_subscripts(e.embedding, 1) AS i) u
        |    GROUP BY u.i))
        |SELECT chk, v FROM (VALUES
        |  ('n_rows', CAST(9 AS DOUBLE)),
        |  ('n_dims', (SELECT CAST(len(embedding) AS DOUBLE) FROM embeddings
        |              ORDER BY vec_id LIMIT 1)),
        |  ('center_zero', CAST(0 AS DOUBLE)),
        |  ('antisym', CAST(0 AS DOUBLE)),
        |  ('separable', CAST(0 AS DOUBLE)),
        |  ('unit_pc0', CAST(1 AS DOUBLE)),
        |  ('unit_pc1', CAST(1 AS DOUBLE)),
        |  ('ortho_pc01', CAST(0 AS DOUBLE)),
        |  ('eig_resid', CAST(0 AS DOUBLE)),
        |  ('eig_desc', CAST(1 AS DOUBLE)),
        |  ('lam_sum_is_trace', CAST(1 AS DOUBLE)),
        |  ('pc_rows_match', CAST(0 AS DOUBLE)),
        |  ('cov_trace', (SELECT t FROM tr))) AS c(chk, v)""".stripMargin
  )

  /** Unrolled min-label propagation + pointer jumping over the n-gram
    * jaccard candidate edges — the SQL mirror of
    * `Dedup.resolveDuplicateClusters` (same init, same per-round
    * update, same 16-round bound).
    */
  /** Unrolled pointer-jumping connected-components levels over an
    * `edges(id, nbr)` CTE, starting from `lab0(id, keep_id)` — shared
    * by every resolver oracle. MATERIALIZED because step$i feeds both
    * sides of the jump join — inlined twice per level it would double
    * the plan `rounds` times over.
    */
  private def ccLevelsSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""nbr$i AS (
         |  SELECT e.id, min(l.keep_id) AS nk
         |  FROM edges e JOIN lab${i - 1} l ON l.id = e.nbr GROUP BY e.id
         |), step$i AS MATERIALIZED (
         |  SELECT l.id, least(l.keep_id, COALESCE(n.nk, l.keep_id)) AS keep_id
         |  FROM lab${i - 1} l LEFT JOIN nbr$i n ON n.id = l.id
         |), lab$i AS MATERIALIZED (
         |  SELECT s.id, least(s.keep_id, COALESCE(j.keep_id, s.keep_id)) AS keep_id
         |  FROM step$i s LEFT JOIN step$i j ON j.id = s.keep_id
         |)""".stripMargin
    }.mkString(", ")

  // shared by the quality_logit oracle and, as a nested CTE, by the
  // dedup_keep_best oracle
  private lazy val qualityLogitOracle: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, len(toks) AS n_tok,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE least(round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |                        / len(toks), 6), CAST(100.0 AS DOUBLE)) END AS f_mean,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |                        / len(toks), 6) END AS f_alpha,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(len(list_filter(toks, x -> list_contains([$duckStopwords], x))) AS DOUBLE)
         |                        / len(toks), 6) END AS f_stop
         |      FROM t),
         |z AS (SELECT doc_id,
         |        CAST(-2.0 AS DOUBLE)
         |          + CAST(0.4 AS DOUBLE) * round(ln(1.0 + n_tok), 6)
         |          + CAST(0.1 AS DOUBLE) * f_mean
         |          + CAST(1.5 AS DOUBLE) * f_alpha
         |          + CAST(2.0 AS DOUBLE) * f_stop AS z
         |      FROM g)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(round(1.0 / (1.0 + exp(-z)), 6) AS DOUBLE) AS score,
         |       round(1.0 / (1.0 + exp(-z)), 6) >= CAST(0.5 AS DOUBLE) AS keep
         |FROM z""".stripMargin

  private lazy val resolveClustersOracle: String = {
    val rounds = 16
    val levels = ccLevelsSql(rounds)
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id, substr(text, CAST(u.i AS INT), 3) AS g
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i) u
       |), sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM documents a JOIN documents b
       |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
       |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isz
       |  FROM g a JOIN g b ON a.g = b.g AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
       |  GROUP BY a.doc_id, b.doc_id
       |), e AS (
       |  SELECT p.id_a, p.id_b
       |  FROM cand p
       |  LEFT JOIN sizes sa ON sa.doc_id = p.id_a
       |  LEFT JOIN sizes sb ON sb.doc_id = p.id_b
       |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |  WHERE round(CAST(COALESCE(i.isz, 0) AS DOUBLE)
       |        / greatest(COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.isz, 0), 1), 6) >= 0.5
       |), edges AS (
       |  SELECT id_a AS id, id_b AS nbr FROM e
       |  UNION ALL
       |  SELECT id_b AS id, id_a AS nbr FROM e
       |), lab0 AS (
       |  SELECT id, least(id, min(nbr)) AS keep_id FROM edges GROUP BY id
       |), $levels
       |SELECT CAST(id AS BIGINT) AS id, CAST(keep_id AS BIGINT) AS keep_id
       |FROM lab$rounds""".stripMargin
  }

  private lazy val pipelineOracles: Map[String, String] = Map(
    // BM25: same query batch (pre-tokenized literals), same Robertson
    // constants, per-term contributions rounded to 9 decimals and
    // summed as DECIMAL(28,9) — the formula is spelled with the exact
    // association the Spark side uses, so the doubles agree bitwise
    "bm25_topk" -> bm25TopkSql,

    // the serving-index path must produce byte-identical results to
    // the scan path — one oracle, two engine spellings
    "bm25_indexed" -> bm25TopkSql,

    // the segmented lifecycle replay: the same scan-path chain over
    // the corpus MINUS the tombstoned doc_id%7==3 slice — df, n_docs
    // and avgdl in the oracle all derive from the survivors, exactly
    // what the engine's serve-time recomputation must reproduce
    "bm25_segmented" ->
      s"""WITH ${bm25RankedCtesFor(" AND doc_id % 7 <> 3")}
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(round(score, 6) AS DOUBLE) AS score
         |FROM r WHERE rank <= 10""".stripMargin,

    // DSIR: md5-prefix hashed-unigram buckets, add-one smoothing,
    // log-ratios rounded to 9 decimals as DECIMAL(18,9), per-doc
    // weights as exact DECIMAL sums of tf x ratio
    "dsir_weights" -> dsirWeightsSql,

    "dsir_sample" ->
      s"""$dsirWeightsCte
         |, r AS (SELECT doc_id, weight,
         |          row_number() OVER (ORDER BY weight DESC, doc_id) AS rank
         |        FROM w)
         |SELECT CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(round(weight, 6) AS DOUBLE) AS weight
         |FROM r WHERE rank <= 100""".stripMargin,

    "som_winner_cosine" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |), d AS (
        |  SELECT e.vec_id, c.nid,
        |         sum(CAST(u.v AS DOUBLE) * CAST(c.w[u.i] AS DOUBLE)) AS dot,
        |         sum(CAST(u.v AS DOUBLE) * CAST(u.v AS DOUBLE)) AS x2,
        |         sum(CAST(c.w[u.i] AS DOUBLE) * CAST(c.w[u.i] AS DOUBLE)) AS w2
        |  FROM embeddings e CROSS JOIN cb c,
        |       LATERAL (SELECT unnest(e.embedding) AS v,
        |                       generate_subscripts(e.embedding, 1) AS i) u
        |  GROUP BY e.vec_id, c.nid
        |)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |       (array_agg(nid ORDER BY
        |          1 - CASE WHEN sqrt(x2 * w2) = 0 THEN 0 ELSE dot / sqrt(x2 * w2) END ASC,
        |          nid ASC))[1] AS bmu_id
        |FROM d GROUP BY vec_id""".stripMargin,

    "som_umatrix_hex" ->
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS nid, embedding AS w
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 9)
        |), off AS (
        |  SELECT * FROM (VALUES
        |    (0, 0, 1), (0, 1, 0), (0, 0, -1), (0, -1, -1), (0, -1, 0), (0, -1, 1),
        |    (1, 1, 1), (1, 1, 0), (1, 1, -1), (1, 0, -1), (1, -1, 0), (1, 0, 1)
        |  ) AS t(par, di, dj)
        |), nb AS (
        |  SELECT a.nid AS n1, b.nid AS n2,
        |         sqrt(sum((CAST(a.w[u.i] AS DOUBLE) - CAST(b.w[u.i] AS DOUBLE))
        |                * (CAST(a.w[u.i] AS DOUBLE) - CAST(b.w[u.i] AS DOUBLE)))) AS dist
        |  FROM cb a
        |  JOIN off o ON o.par = CASE WHEN (a.nid % 3) % 2 = 0 THEN 0 ELSE 1 END
        |  JOIN cb b ON b.nid // 3 = a.nid // 3 + o.di AND b.nid % 3 = a.nid % 3 + o.dj
        |           AND a.nid // 3 + o.di BETWEEN 0 AND 2 AND a.nid % 3 + o.dj BETWEEN 0 AND 2,
        |       LATERAL (SELECT generate_subscripts(a.w, 1) AS i) u
        |  GROUP BY a.nid, b.nid
        |), um AS (SELECT n1, sum(dist) AS u FROM nb GROUP BY n1)
        |SELECT CAST(c.nid // 3 AS BIGINT) AS i, CAST(c.nid % 3 AS BIGINT) AS j,
        |       CAST(round(COALESCE(um.u, 0) / (SELECT max(u) FROM um), 6) AS DOUBLE) AS u
        |FROM cb c LEFT JOIN um ON um.n1 = c.nid""".stripMargin,

    "som_topographic_error_hex" ->
      s"""$cbDistCte, ranked AS (
         |  SELECT vec_id, nid, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, nid ASC) AS rn
         |  FROM d),
         |coords AS (
         |  SELECT vec_id, rn,
         |         (nid % 3) - CASE WHEN (3 - 1 - (nid // 3)) % 2 = 0 THEN 0.5 ELSE 0.0 END AS tex,
         |         CAST(nid // 3 AS DOUBLE) AS tey
         |  FROM ranked WHERE rn <= 2)
         |SELECT CAST(round(avg(CASE WHEN sqrt((b1.tex - b2.tex) * (b1.tex - b2.tex)
         |                                   + (b1.tey - b2.tey) * (b1.tey - b2.tey)) > 1.5
         |                           THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS te
         |FROM coords b1 JOIN coords b2 ON b1.vec_id = b2.vec_id AND b1.rn = 1 AND b2.rn = 2""".stripMargin,

    "som_winner_expr" ->
      s"""$cbDistCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |FROM d GROUP BY vec_id""".stripMargin,

    "som_save_load_winner" ->
      s"""$cbDistCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |FROM d GROUP BY vec_id""".stripMargin,

    "som_csv_source_winner" ->
      s"""$cbDistCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |FROM d GROUP BY vec_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH f AS (SELECT doc_id, md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |           FROM documents WHERE text IS NOT NULL)
         |SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n
         |FROM f GROUP BY fp""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // the bucketed layout changes the PLAN, not the answer: the oracle
    // is the plain join replay
    "bucketed_meta_join" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp,
         |       CAST(n_chars AS BIGINT) AS n_chars, lang
         |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // replay of the derived "next release" + full-outer fingerprint
    // diff; the CTEs materialize so the token chain runs once per side
    "corpus_diff" ->
      s"""WITH a AS MATERIALIZED (
         |  SELECT doc_id, md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM documents WHERE text IS NOT NULL),
         |bsrc AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 17 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 19 = 0),
         |b AS MATERIALIZED (
         |  SELECT doc_id, md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM bsrc)
         |SELECT * FROM (
         |  SELECT CAST(COALESCE(a.doc_id, b.doc_id) AS BIGINT) AS id,
         |         a.fp AS fp_a, b.fp AS fp_b,
         |         CASE WHEN a.fp IS NULL THEN 'added'
         |              WHEN b.fp IS NULL THEN 'removed'
         |              WHEN a.fp <> b.fp THEN 'changed'
         |              ELSE 'unchanged' END AS status
         |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |WHERE status <> 'unchanged'""".stripMargin,

    // the routed layout changes the SCAN, not the answer
    "routed_lang_read" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE text IS NOT NULL AND lang IN ('en', 'de')
        |GROUP BY lang""".stripMargin,

    // the JSONL trip is lossless, so the oracle is the downstream
    // replayed directly on the parquet table (same convention as the
    // CSV source row)
    "docs_jsonl_source" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp,
         |       lang, CAST(n_chars AS BIGINT) AS n_chars
         |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(u.i AS INT), 3) AS g
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i) u
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
        |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isz
        |  FROM g a JOIN g b ON a.g = b.g AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
        |       CAST(round(CAST(COALESCE(i.isz, 0) AS DOUBLE)
        |            / greatest(COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.isz, 0), 1), 6) AS DOUBLE) AS jaccard
        |FROM pairs p
        |LEFT JOIN sizes sa ON sa.doc_id = p.id_a
        |LEFT JOIN sizes sb ON sb.doc_id = p.id_b
        |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b""".stripMargin,

    // connected components over the (oracle-expressible) n-gram-jaccard
    // candidate edges. NOT a recursive reachability CTE — that computes
    // the transitive closure (O(component^2) rows, O(diameter)
    // iterations; a 3k-node duplicate chain took >30 CPU-min in DuckDB).
    // Instead 16 unrolled levels of neighbor-min + pointer jumping, each
    // level a pair of O(E) joins, covering any component diameter up to
    // 2^16. The engine side (union-find fast path, or the iterative
    // loop's ~3^15 coverage) is exact for any diameter, so on a corpus
    // whose components exceed 2^16 hops the ORACLE would under-resolve
    // and the gate would flag a mismatch — the test corpora top out at
    // diameter ~10^3, far inside the bound.
    "dedup_resolve_clusters" -> resolveClustersOracle,

    // the MinHash/SimHash signature pipelines replayed bit-for-bit in
    // DuckDB (HUGEINT 64-bit modular arithmetic) — see HashOracleSql
    "dedup_minhash" -> HashOracleSql.minhashCandidates,

    // the MinHash candidate replay (same CTEs as dedup_minhash) feeding
    // a byte==char Levenshtein: operands are ASCII-projected 256-char
    // prefixes, where DuckDB's byte-based levenshtein coincides exactly
    // with Spark's code-point one. 'g' flag: DuckDB regexp_replace is
    // first-match-only by default, Spark's replaces all.
    "dedup_edit_verify" ->
      s"""WITH pairs AS (
         |${HashOracleSql.minhashCandidates}
         |),
         |t AS (SELECT doc_id,
         |        substr(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), 1, 256) AS t
         |      FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
         |       CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS dist,
         |       CAST(round(1.0 - levenshtein(ta.t, tb.t)
         |              / greatest(length(ta.t), length(tb.t), 1), 6) AS DOUBLE) AS edit_sim
         |FROM pairs p
         |JOIN t ta ON ta.doc_id = p.id_a
         |JOIN t tb ON tb.doc_id = p.id_b
         |WHERE levenshtein(ta.t, tb.t) <= 64""".stripMargin,
    "dedup_simhash" -> HashOracleSql.simhashCandidates,
    "dedup_resolve_minhash" -> HashOracleSql.resolveMinhash,
    "dedup_drop_near" -> HashOracleSql.dropNearMinhash,
    // seeded-plane replay: the hyperplane tensor is regenerated from
    // the same seed and embedded as literals
    "ann_lsh_topk" -> HashOracleSql.lshTopK,
    // LSH replay + exhaustive ranking, intersected per query
    "ann_recall" -> HashOracleSql.annRecall,

    // full seeded-training replay (init stream + 3 unrolled epochs) —
    // see TrainOracleSql for the scope and the documented edge-corpus
    // limitation
    "som_train_activation_response" -> TrainOracleSql.trainActivationResponse,
    "som_train_distributed" -> TrainOracleSql.trainActivationResponse,
    "ann_som_topk" -> TrainOracleSql.annSomTopK,

    // byte-histogram stub feature recomputed from hex pairs: byte value
    // = 16*hi + lo hex digit, bin = byte // 16, f_k = count(bin=k)/total
    "multimodal_decode" ->
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents WHERE text IS NOT NULL
        |), b AS (
        |  SELECT p.doc_id,
        |         (strpos('0123456789ABCDEF', substr(p.h, CAST(2 * u.i - 1 AS INT), 1)) - 1) * 16
        |       + (strpos('0123456789ABCDEF', substr(p.h, CAST(2 * u.i AS INT), 1)) - 1) AS byte
        |  FROM p, LATERAL (SELECT unnest(generate_series(1, p.n)) AS i) u
        |), hist AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN byte // 16 = 6 THEN 1 ELSE 0 END) AS c6,
        |         sum(CASE WHEN byte // 16 = 7 THEN 1 ELSE 0 END) AS c7,
        |         count(*) AS tot
        |  FROM b GROUP BY doc_id
        |)
        |SELECT CAST(p.doc_id AS BIGINT) AS doc_id, CAST(p.n AS BIGINT) AS n_bytes,
        |       CAST(round(CASE WHEN COALESCE(hi.tot, 0) = 0 THEN 0.0
        |                       ELSE CAST(hi.c6 AS DOUBLE) / hi.tot END, 6) AS DOUBLE) AS f6,
        |       CAST(round(CASE WHEN COALESCE(hi.tot, 0) = 0 THEN 0.0
        |                       ELSE CAST(hi.c7 AS DOUBLE) / hi.tot END, 6) AS DOUBLE) AS f7
        |FROM p LEFT JOIN hist hi ON hi.doc_id = p.doc_id""".stripMargin,

    // REAL decode differential: expected features computed from the
    // pixel/sample GENERATING FORMULA (never the bytes) — the engine
    // builds genuine BMP/WAV containers and parses them back, so both
    // builder and parser must agree with this SQL on stride padding,
    // bottom-up rows, LE int16 sign, and header layout
    "multimodal_decode_real" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE text IS NOT NULL),
        |bmp AS (SELECT id, 4 + id % 5 AS w, 3 + id % 3 AS h FROM ids WHERE id % 2 = 0),
        |bmppix AS (
        |  SELECT b.id, b.w, b.h, UNNEST(range(0, b.w * b.h * 3)) AS p
        |  FROM bmp b),
        |bmpv AS (
        |  SELECT id, w, h, p % 3 AS c,
        |         (id * 31 + ((p // 3) // w) * 7 + ((p // 3) % w) * 3 + (p % 3) * 11) % 256 AS v
        |  FROM bmppix),
        |bmpagg AS (
        |  SELECT id, w, h,
        |    round(CAST(sum(CASE WHEN c = 0 THEN v END) AS DOUBLE) / (w * h), 6) AS f1,
        |    round(CAST(sum(CASE WHEN c = 1 THEN v END) AS DOUBLE) / (w * h), 6) AS f2,
        |    round(CAST(sum(CASE WHEN c = 2 THEN v END) AS DOUBLE) / (w * h), 6) AS f3,
        |    CAST(max(v) AS DOUBLE) AS f4
        |  FROM bmpv GROUP BY id, w, h),
        |wav AS (SELECT id, 8000 + (id % 4) * 4000 AS sr, 64 + id % 32 AS n FROM ids WHERE id % 2 = 1),
        |wavs AS (SELECT w.id, w.sr, w.n, UNNEST(range(0, w.n)) AS k FROM wav w),
        |wavv AS (
        |  SELECT id, sr, n, ((id * 2654435761 + k * 40503) % 65536) - 32768 AS s
        |  FROM wavs),
        |wavagg AS (
        |  SELECT id, sr, n,
        |    round(CAST(sum(s) AS DOUBLE) / n, 6) AS f1,
        |    round(sqrt(CAST(sum(s * s) AS DOUBLE) / n), 6) AS f2,
        |    CAST(max(abs(s)) AS DOUBLE) AS f3,
        |    CAST(0 AS DOUBLE) AS f4
        |  FROM wavv GROUP BY id, sr, n)
        |SELECT id AS doc_id, 'bmp' AS kind, CAST(w AS BIGINT) AS d1,
        |       CAST(h AS BIGINT) AS d2, f1, f2, f3, f4 FROM bmpagg
        |UNION ALL
        |SELECT id AS doc_id, 'wav' AS kind, CAST(sr AS BIGINT) AS d1,
        |       CAST(n AS BIGINT) AS d2, f1, f2, f3, f4 FROM wavagg""".stripMargin,

    // sampled-frame byte counts: pure arithmetic over octet_length
    "multimodal_frames" ->
      """WITH p AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
        |)
        |SELECT CAST(p.doc_id AS BIGINT) AS id, CAST(u.i AS BIGINT) AS frame_idx,
        |       CAST(least(32, p.n - u.i * 32) AS BIGINT) AS frame_bytes
        |FROM p, LATERAL (SELECT unnest(generate_series(0,
        |       CAST(ceil(p.n / 32.0) AS BIGINT) - 1, 2)) AS i) u""".stripMargin,

    // stride-sampled resize: reconstruct the sampled bytes from hex pairs
    "multimodal_resize" ->
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents WHERE text IS NOT NULL
        |), st AS (
        |  SELECT doc_id, h, n,
        |         CASE WHEN n <= 64 THEN 1 ELSE (n + 63) // 64 END AS stride
        |  FROM p
        |), sampled AS (
        |  SELECT st.doc_id, u.i AS i,
        |         substr(st.h, CAST(u.i * st.stride * 2 + 1 AS INT), 2) AS hh
        |  FROM st, LATERAL (SELECT unnest(generate_series(0,
        |         CASE WHEN st.n = 0 THEN -1 ELSE (st.n - 1) // st.stride END)) AS i) u
        |), agg AS (
        |  SELECT doc_id, string_agg(hh, '' ORDER BY i) AS hx, count(*) AS nb
        |  FROM sampled GROUP BY doc_id
        |)
        |SELECT CAST(st.doc_id AS BIGINT) AS doc_id, CAST(st.n AS BIGINT) AS n_bytes,
        |       CAST(COALESCE(agg.nb, 0) AS BIGINT) AS resized_bytes,
        |       COALESCE(agg.hx, '') AS resized_hex
        |FROM st LEFT JOIN agg ON agg.doc_id = st.doc_id""".stripMargin,

    "dedup_embedding" ->
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), norms AS (SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
        |  FROM ex a JOIN ex b
        |    ON a.i = b.i AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50
        |  GROUP BY a.vec_id, b.vec_id),
        |p AS (
        |  SELECT d.id_a, d.id_b,
        |         CASE WHEN sqrt(na.nrm * nb.nrm) = 0 THEN 0
        |              ELSE d.dot / sqrt(na.nrm * nb.nrm) END AS cos
        |  FROM dots d JOIN norms na ON na.vec_id = d.id_a
        |              JOIN norms nb ON nb.vec_id = d.id_b)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |       CAST(round(cos, 6) AS DOUBLE) AS cos
        |FROM p WHERE round(cos, 6) >= 0.25""".stripMargin,

    // PQ replay: 16 codebook rows sliced into 8 subspaces of 8 dims;
    // per-(vector, subspace) argmin of full squared L2 with (d2, cid)
    // tie order = the kernel's first-index-min rule
    "pq_encode" ->
      s"""$pqCodesCte
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(sub_id AS BIGINT) AS sub_id,
         |       CAST(code AS BIGINT) AS code
         |FROM codes""".stripMargin,

    "sq_encode" ->
      s"""WITH $sqCodesCtes
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(i - 1 AS BIGINT) AS dim_id,
         |       CAST(code AS BIGINT) AS code
         |FROM sqcodes""".stripMargin,

    // SQ serving replay: decode each code against the per-dimension
    // grid (same affine spelling as the engine), then the
    // raw-query-vs-decoded-candidate cosine ranking of ann_cosine_topk
    "sq_topk" ->
      s"""WITH $sqCodesCtes,
         |$sqServeCtes
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rn AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid, CAST(round(sim, 6) AS DOUBLE) AS sim
         |FROM sqranked WHERE rn <= 5""".stripMargin,

    // SQ quality pin: recall@5 of the decoded-grid cosine ranking
    // against the exact float ranking — both deterministic, so a
    // bounds/kernel regression flips these values in CORRECTNESS (the
    // pq_recall convention)
    "sq_recall" ->
      s"""WITH $annRankedCtes,
         |${sqCodesCtes},
         |$sqServeCtes,
         |sqhits AS (
         |  SELECT e.qid, count(*) AS n_hit
         |  FROM (SELECT qid, nid FROM ranked WHERE rn <= 5) e
         |  JOIN (SELECT qid, nid FROM sqranked WHERE rn <= 5) s2
         |    USING (qid, nid)
         |  GROUP BY e.qid)
         |SELECT CAST(q.qid AS BIGINT) AS qid,
         |       CAST(round(COALESCE(h.n_hit, 0) / 5.0, 6) AS DOUBLE) AS recall
         |FROM qids q LEFT JOIN sqhits h ON h.qid = q.qid""".stripMargin,

    // ADC replay: the query's exact per-(subspace, centroid) squared L2
    // joined to each vector's codes, summed over subspaces — the same
    // two-level association as the engine's table-then-sum
    "pq_topk" ->
      s"""$pqCodesCte,
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qv
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 5)
         |), qd AS MATERIALIZED (
         |  SELECT q.qid, (u.i - 1) // (len(q.qv) // 8) AS sub_id, c.cid,
         |         sum((CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))
         |           * (CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))) AS d2
         |  FROM q CROSS JOIN pqcb c,
         |       LATERAL (SELECT unnest(q.qv) AS v,
         |                       generate_subscripts(q.qv, 1) AS i) u
         |  GROUP BY q.qid, (u.i - 1) // (len(q.qv) // 8), c.cid
         |), adc AS (
         |  SELECT qd.qid, co.vec_id AS nid, sum(qd.d2) AS adc
         |  FROM codes co JOIN qd ON qd.sub_id = co.sub_id AND qd.cid = co.code
         |  WHERE co.vec_id != qd.qid
         |  GROUP BY qd.qid, co.vec_id
         |), rk AS (
         |  SELECT qid, nid, adc,
         |         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
         |  FROM adc)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid,
         |       CAST(round(adc, 6) AS DOUBLE) AS adc
         |FROM rk WHERE rank <= 5""".stripMargin,

    // composed IVF+PQ replay: cell assignment + per-query probe set from
    // cbDistCte's exact distances (argmin ties to the lower cell id = the
    // BMU convention), ADC distances from pqCodesCte's codes — the
    // candidate set is the probed cells' members, exactly like the
    // engine's isin-pruned scan
    "ann_ivfpq" ->
      s"""$cbDistCte,
         |${pqCodesCte.stripPrefix("WITH ")},
         |assign AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu
         |  FROM d GROUP BY vec_id
         |), q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qv
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 5)
         |), probe AS (
         |  SELECT qid, nid FROM (
         |    SELECT d.vec_id AS qid, d.nid,
         |           row_number() OVER (PARTITION BY d.vec_id
         |                              ORDER BY d.dist2 ASC, d.nid ASC) AS rn
         |    FROM d WHERE d.vec_id IN (SELECT qid FROM q)) WHERE rn <= 3
         |), qd AS MATERIALIZED (
         |  SELECT q.qid, (u.i - 1) // (len(q.qv) // 8) AS sub_id, c.cid,
         |         sum((CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))
         |           * (CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))) AS d2
         |  FROM q CROSS JOIN pqcb c,
         |       LATERAL (SELECT unnest(q.qv) AS v,
         |                       generate_subscripts(q.qv, 1) AS i) u
         |  GROUP BY q.qid, (u.i - 1) // (len(q.qv) // 8), c.cid
         |), cand AS (
         |  SELECT p.qid, a.vec_id AS nid
         |  FROM probe p JOIN assign a ON a.bmu = p.nid
         |  WHERE a.vec_id <> p.qid
         |), iadc AS (
         |  SELECT ca.qid, ca.nid, sum(qd.d2) AS adc
         |  FROM cand ca
         |  JOIN codes co ON co.vec_id = ca.nid
         |  JOIN qd ON qd.qid = ca.qid AND qd.sub_id = co.sub_id AND qd.cid = co.code
         |  GROUP BY ca.qid, ca.nid
         |), irk AS (
         |  SELECT qid, nid, adc,
         |         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
         |  FROM iadc)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid,
         |       CAST(round(adc, 6) AS DOUBLE) AS adc
         |FROM irk WHERE rank <= 5""".stripMargin,

    // composed IVF+SQ replay: cell assignment + probe sets from
    // cbDistCte's exact distances (the ann_ivfpq pattern), candidates
    // ranked by cosine of the raw query against the sqCodesCtes-decoded
    // grid (the sq_topk pattern) — both approximations replayed exactly
    "ann_ivfsq" ->
      s"""$cbDistCte,
         |$sqCodesCtes,
         |assign AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu
         |  FROM d GROUP BY vec_id
         |), iq AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 5),
         |probe AS (
         |  SELECT qid, nid FROM (
         |    SELECT d.vec_id AS qid, d.nid,
         |           row_number() OVER (PARTITION BY d.vec_id
         |                              ORDER BY d.dist2 ASC, d.nid ASC) AS rn
         |    FROM d WHERE d.vec_id IN (SELECT qid FROM iq)) WHERE rn <= 3
         |), $sqDecCte,
         |isqn AS (SELECT vec_id, sum(dv * dv) AS nrm FROM sqdec GROUP BY vec_id),
         |isqqn AS (SELECT vec_id, sum(v * v) AS nrm FROM sqex
         |          WHERE vec_id IN (SELECT qid FROM iq) GROUP BY vec_id),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS nid
         |  FROM probe p JOIN assign a ON a.bmu = p.nid
         |  WHERE a.vec_id <> p.qid
         |), idots AS (
         |  SELECT ca.qid, ca.nid, sum(e.v * dd.dv) AS dot
         |  FROM cand ca
         |  JOIN sqex e ON e.vec_id = ca.qid
         |  JOIN sqdec dd ON dd.vec_id = ca.nid AND dd.i = e.i
         |  GROUP BY ca.qid, ca.nid
         |), isim AS (
         |  SELECT dt.qid, dt.nid,
         |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
         |              ELSE dt.dot / sqrt(nq.nrm * nn.nrm) END AS sim
         |  FROM idots dt JOIN isqqn nq ON nq.vec_id = dt.qid
         |               JOIN isqn nn ON nn.vec_id = dt.nid
         |), isrk AS (
         |  SELECT qid, nid, sim,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY sim DESC, nid ASC) AS rank
         |  FROM isim)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid,
         |       CAST(round(sim, 6) AS DOUBLE) AS sim
         |FROM isrk WHERE rank <= 5""".stripMargin,

    // the incremental-append parity replay: IDENTICAL chain to
    // ann_ivfsq except the SQ bounds train on the even-vec_id base
    // rows only (the frozen quantizer the engine appends under) —
    // append(base)+append(batch) must serve exactly this rebuild
    "ann_ivfsq_append" ->
      s"""$cbDistCte,
         |${sqCodesCtesFor("WHERE vec_id % 2 = 0")},
         |assign AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu
         |  FROM d GROUP BY vec_id
         |), iq AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 5),
         |probe AS (
         |  SELECT qid, nid FROM (
         |    SELECT d.vec_id AS qid, d.nid,
         |           row_number() OVER (PARTITION BY d.vec_id
         |                              ORDER BY d.dist2 ASC, d.nid ASC) AS rn
         |    FROM d WHERE d.vec_id IN (SELECT qid FROM iq)) WHERE rn <= 3
         |), $sqDecCte,
         |isqn AS (SELECT vec_id, sum(dv * dv) AS nrm FROM sqdec GROUP BY vec_id),
         |isqqn AS (SELECT vec_id, sum(v * v) AS nrm FROM sqex
         |          WHERE vec_id IN (SELECT qid FROM iq) GROUP BY vec_id),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS nid
         |  FROM probe p JOIN assign a ON a.bmu = p.nid
         |  WHERE a.vec_id <> p.qid
         |), idots AS (
         |  SELECT ca.qid, ca.nid, sum(e.v * dd.dv) AS dot
         |  FROM cand ca
         |  JOIN sqex e ON e.vec_id = ca.qid
         |  JOIN sqdec dd ON dd.vec_id = ca.nid AND dd.i = e.i
         |  GROUP BY ca.qid, ca.nid
         |), isim AS (
         |  SELECT dt.qid, dt.nid,
         |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
         |              ELSE dt.dot / sqrt(nq.nrm * nn.nrm) END AS sim
         |  FROM idots dt JOIN isqqn nq ON nq.vec_id = dt.qid
         |               JOIN isqn nn ON nn.vec_id = dt.nid
         |), isrk AS (
         |  SELECT qid, nid, sim,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY sim DESC, nid ASC) AS rank
         |  FROM isim)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid,
         |       CAST(round(sim, 6) AS DOUBLE) AS sim
         |FROM isrk WHERE rank <= 5""".stripMargin,

    // the tombstone-delete replay: the ann_ivfsq chain with the
    // vec_id%10==3 rows excluded from the CANDIDATE side only (queries
    // still come from the embeddings table, deletion removes index
    // rows, not the right to query)
    "ann_ivfsq_delete" ->
      s"""$cbDistCte,
         |$sqCodesCtes,
         |assign AS (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu
         |  FROM d GROUP BY vec_id
         |), iq AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 5),
         |probe AS (
         |  SELECT qid, nid FROM (
         |    SELECT d.vec_id AS qid, d.nid,
         |           row_number() OVER (PARTITION BY d.vec_id
         |                              ORDER BY d.dist2 ASC, d.nid ASC) AS rn
         |    FROM d WHERE d.vec_id IN (SELECT qid FROM iq)) WHERE rn <= 3
         |), $sqDecCte,
         |isqn AS (SELECT vec_id, sum(dv * dv) AS nrm FROM sqdec GROUP BY vec_id),
         |isqqn AS (SELECT vec_id, sum(v * v) AS nrm FROM sqex
         |          WHERE vec_id IN (SELECT qid FROM iq) GROUP BY vec_id),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS nid
         |  FROM probe p JOIN assign a ON a.bmu = p.nid
         |  WHERE a.vec_id <> p.qid AND a.vec_id % 10 <> 3
         |), idots AS (
         |  SELECT ca.qid, ca.nid, sum(e.v * dd.dv) AS dot
         |  FROM cand ca
         |  JOIN sqex e ON e.vec_id = ca.qid
         |  JOIN sqdec dd ON dd.vec_id = ca.nid AND dd.i = e.i
         |  GROUP BY ca.qid, ca.nid
         |), isim AS (
         |  SELECT dt.qid, dt.nid,
         |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
         |              ELSE dt.dot / sqrt(nq.nrm * nn.nrm) END AS sim
         |  FROM idots dt JOIN isqqn nq ON nq.vec_id = dt.qid
         |               JOIN isqn nn ON nn.vec_id = dt.nid
         |), isrk AS (
         |  SELECT qid, nid, sim,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY sim DESC, nid ASC) AS rank
         |  FROM isim)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(nid AS BIGINT) AS nid,
         |       CAST(round(sim, 6) AS DOUBLE) AS sim
         |FROM isrk WHERE rank <= 5""".stripMargin,

    // both rankings replayed: the ADC ranking (codes + query tables) and
    // the exact squared-L2 ranking over the full vectors, intersected
    // per query
    "pq_recall" ->
      s"""$pqCodesCte,
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qv
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 5)
         |), qd AS MATERIALIZED (
         |  SELECT q.qid, (u.i - 1) // (len(q.qv) // 8) AS sub_id, c.cid,
         |         sum((CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))
         |           * (CAST(u.v AS DOUBLE) - CAST(c.w[u.i] AS DOUBLE))) AS d2
         |  FROM q CROSS JOIN pqcb c,
         |       LATERAL (SELECT unnest(q.qv) AS v,
         |                       generate_subscripts(q.qv, 1) AS i) u
         |  GROUP BY q.qid, (u.i - 1) // (len(q.qv) // 8), c.cid
         |), adc AS (
         |  SELECT qd.qid, co.vec_id AS nid, sum(qd.d2) AS adc
         |  FROM codes co JOIN qd ON qd.sub_id = co.sub_id AND qd.cid = co.code
         |  WHERE co.vec_id != qd.qid
         |  GROUP BY qd.qid, co.vec_id
         |), prk AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
         |  FROM adc),
         |exd AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |         sum((e.v - CAST(q.qv[e.i] AS DOUBLE))
         |           * (e.v - CAST(q.qv[e.i] AS DOUBLE))) AS d2
         |  FROM pqex e CROSS JOIN q
         |  WHERE e.vec_id != q.qid
         |  GROUP BY q.qid, e.vec_id
         |), erk AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM exd),
         |hits AS (
         |  SELECT p.qid, count(*) AS n_hit
         |  FROM (SELECT qid, nid FROM prk WHERE rank <= 5) p
         |  JOIN (SELECT qid, nid FROM erk WHERE rank <= 5) x
         |    ON p.qid = x.qid AND p.nid = x.nid
         |  GROUP BY p.qid)
         |SELECT CAST(q.qid AS BIGINT) AS qid,
         |       CAST(round(CAST(COALESCE(hits.n_hit, 0) AS DOUBLE)
         |                  / CAST(5.0 AS DOUBLE), 6) AS DOUBLE) AS recall
         |FROM q LEFT JOIN hits ON q.qid = hits.qid""".stripMargin,

    "dedup_incremental" ->
      s"""WITH fp AS (
         |  SELECT doc_id, source,
         |         md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(b.doc_id AS BIGINT) AS doc_id
         |FROM fp b
         |WHERE b.source >= 'src5'
         |  AND NOT EXISTS (SELECT 1 FROM fp c
         |                  WHERE c.source < 'src5' AND c.fp = b.fp)""".stripMargin,

    // the Bloom gate is a pure optimization: no false negatives from the
    // sketch, false positives cleared by the exact confirm join — so the
    // oracle is the SAME anti-join replay as dedup_incremental
    "dedup_bloom_gate" ->
      s"""WITH fp AS (
         |  SELECT doc_id, source,
         |         md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(b.doc_id AS BIGINT) AS doc_id
         |FROM fp b
         |WHERE b.source >= 'src5'
         |  AND NOT EXISTS (SELECT 1 FROM fp c
         |                  WHERE c.source < 'src5' AND c.fp = b.fp)""".stripMargin,

    // index + sketch + pushdown are all pure optimizations: the oracle
    // stays the plain fingerprint anti-join
    "dedup_bloom_index" ->
      s"""WITH fp AS (
         |  SELECT doc_id, source,
         |         md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(b.doc_id AS BIGINT) AS doc_id
         |FROM fp b
         |WHERE b.source >= 'src5'
         |  AND NOT EXISTS (SELECT 1 FROM fp c
         |                  WHERE c.source < 'src5' AND c.fp = b.fp)""".stripMargin,

    "emb_norm_stats" ->
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, sqrt(sum(v * v)) AS nrm
        |      FROM ex GROUP BY vec_id, label)
        |SELECT CAST(label AS BIGINT) AS label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(round(min(nrm), 6) AS DOUBLE) AS min_norm,
        |       CAST(round(max(nrm), 6) AS DOUBLE) AS max_norm,
        |       CAST(round(sum(nrm) / count(*), 6) AS DOUBLE) AS mean_norm
        |FROM n GROUP BY label""".stripMargin,

    // ground truth = exact word-shingle jaccard over the deterministic
    // FIXED-SIZE sample (the prSampleN docs with the smallest
    // md5('pr'||doc_id), tiebreak doc_id — the DuckDB ORDER BY/LIMIT
    // spelling of the engine's topn_smallest heap), all in-sample
    // pairs; shingles md5-hashed to 60-bit ints on BOTH engines so the
    // sets compare as integers. The prediction leg nests the minhash
    // signature replay restricted to the SAME sample (banding is
    // per-pair, so banding the sample equals banding the corpus
    // restricted to sampled endpoints — and the oracle replay cost is
    // now constant in corpus size). /64 agreement fractions are exact
    // at 6 decimals, so the 0.5 cuts agree bit-for-bit across engines.
    "dedup_pr" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL
         |           AND doc_id IN ($prSampleSql)),
         |t AS (SELECT doc_id, $duckToks AS toks FROM d),
         |sh AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |         list_sort(list_distinct(list_transform(
         |           list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |             i -> array_to_string(toks[i:i+2], ' '))),
         |           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))) AS hs
         |  FROM t WHERE len(toks) >= 3),
         |tr AS MATERIALIZED (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON b.id > a.id
         |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |        / greatest(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)), 1) >= 0.5),
         |pr AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |${HashOracleSql.minhashCandidatesWhere(s"doc_id IN ($prSampleSql)")}
         |  ) WHERE est_jaccard >= 0.5),
         |hit AS (SELECT tr.id_a FROM tr JOIN pr
         |        ON pr.id_a = tr.id_a AND pr.id_b = tr.id_b)
         |SELECT CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_truth,
         |       CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_pred,
         |       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |       CAST(round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |            / greatest((SELECT count(*) FROM pr), 1), 6) AS DOUBLE) AS precision,
         |       CAST(round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |            / greatest((SELECT count(*) FROM tr), 1), 6) AS DOUBLE) AS recall""".stripMargin,

    "label_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label,
        |       CAST(u.i - 1 AS BIGINT) AS dim,
        |       CAST(round(sum(CAST(u.v AS DOUBLE)) / count(*), 6) AS DOUBLE) AS centroid,
        |       CAST(count(*) AS BIGINT) AS n_vecs
        |FROM embeddings,
        |     LATERAL (SELECT unnest(embedding) AS v,
        |                     generate_subscripts(embedding, 1) AS i) u
        |WHERE embedding IS NOT NULL
        |GROUP BY label, u.i""".stripMargin,

    // SOM-cell assignment (cbDistCte, same as som_winner) + within-cell
    // cosine pairs + the shared pointer-jump CC levels
    "dedup_semantic" ->
      s"""$cbDistCte, bmu AS MATERIALIZED (
         |  SELECT vec_id, (array_agg(nid ORDER BY dist2 ASC, nid ASC))[1] AS bmu_id
         |  FROM d GROUP BY vec_id
         |), ex AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |), norms AS (SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
         |dots AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
         |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id > a.vec_id
         |  JOIN bmu ba ON ba.vec_id = a.vec_id
         |  JOIN bmu bb ON bb.vec_id = b.vec_id AND bb.bmu_id = ba.bmu_id
         |  GROUP BY a.vec_id, b.vec_id),
         |p AS (
         |  SELECT d2.id_a, d2.id_b,
         |         CASE WHEN sqrt(na.nrm * nb.nrm) = 0 THEN 0
         |              ELSE d2.dot / sqrt(na.nrm * nb.nrm) END AS cos
         |  FROM dots d2 JOIN norms na ON na.vec_id = d2.id_a
         |               JOIN norms nb ON nb.vec_id = d2.id_b),
         |e AS (SELECT id_a, id_b FROM p WHERE round(cos, 6) >= 0.25),
         |edges AS (
         |  SELECT id_a AS id, id_b AS nbr FROM e
         |  UNION ALL
         |  SELECT id_b AS id, id_a AS nbr FROM e
         |), lab0 AS (
         |  SELECT id, least(id, min(nbr)) AS keep_id FROM edges GROUP BY id
         |), ${ccLevelsSql(16)}
         |SELECT CAST(l.id AS BIGINT) AS vec_id,
         |       CAST(b.bmu_id AS BIGINT) AS bmu_id,
         |       CAST(l.keep_id AS BIGINT) AS keep_id
         |FROM lab16 l JOIN bmu b ON b.vec_id = l.id""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH $annRankedCtes
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rn AS BIGINT) AS rank,
        |       CAST(nid AS BIGINT) AS nid, CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM ranked WHERE rn <= 5""".stripMargin,

    // same exact-cosine replay as ann_cosine_topk, restricted to
    // cross-label pairs and re-ranked AFTER the label filter (8 query
    // ids; NULL labels never pair — the <> predicate rejects them)
    "mine_hard_negatives" ->
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), norms AS (SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE label IS NOT NULL ORDER BY vec_id LIMIT 8),
        |dots AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dot
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT qid FROM qids)
        |  GROUP BY a.vec_id, b.vec_id),
        |ranked AS (
        |  SELECT d.qid, d.nid,
        |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
        |              ELSE d.dot / sqrt(nq.nrm * nn.nrm) END AS sim,
        |         row_number() OVER (PARTITION BY d.qid
        |           ORDER BY (CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
        |                          ELSE d.dot / sqrt(nq.nrm * nn.nrm) END) DESC,
        |                    d.nid ASC) AS rn
        |  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
        |              JOIN norms nn ON nn.vec_id = d.nid
        |  JOIN embeddings la ON la.vec_id = d.qid
        |  JOIN embeddings lb ON lb.vec_id = d.nid
        |  WHERE lb.label <> la.label)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rn AS BIGINT) AS rank,
        |       CAST(nid AS BIGINT) AS nid, CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM ranked WHERE rn <= 5""".stripMargin,

    // triplet assembly: the rank-1 rows of the same-label and
    // different-label variants of the mine_hard_negatives replay,
    // joined per anchor; margin subtracts the ROUNDED sims (the
    // engine's spelling). dots feeds both ranked legs -> MATERIALIZED.
    "mine_triplets" ->
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE label IS NOT NULL ORDER BY vec_id LIMIT 8),
        |dots AS MATERIALIZED (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dot
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT qid FROM qids)
        |  GROUP BY a.vec_id, b.vec_id),
        |scored AS MATERIALIZED (
        |  SELECT d.qid, d.nid, la.label AS qlab, lb.label AS nlab,
        |         CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
        |              ELSE d.dot / sqrt(nq.nrm * nn.nrm) END AS sim
        |  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
        |              JOIN norms nn ON nn.vec_id = d.nid
        |  JOIN embeddings la ON la.vec_id = d.qid
        |  JOIN embeddings lb ON lb.vec_id = d.nid),
        |rankedp AS (
        |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |           ORDER BY sim DESC, nid ASC) AS rn
        |  FROM scored WHERE nlab = qlab),
        |rankedn AS (
        |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |           ORDER BY sim DESC, nid ASC) AS rn
        |  FROM scored WHERE nlab <> qlab)
        |SELECT CAST(p.qid AS BIGINT) AS qid,
        |       CAST(p.nid AS BIGINT) AS pos_id,
        |       CAST(n.nid AS BIGINT) AS neg_id,
        |       CAST(round(p.sim, 6) AS DOUBLE) AS pos_sim,
        |       CAST(round(n.sim, 6) AS DOUBLE) AS neg_sim,
        |       CAST(round(round(p.sim, 6) - round(n.sim, 6), 6) AS DOUBLE) AS margin
        |FROM rankedp p JOIN rankedn n ON n.qid = p.qid
        |WHERE p.rn = 1 AND n.rn = 1""".stripMargin,

    // the same exact-cosine ranked replay WITHOUT a label filter (the
    // anchor's true kNN), then a per-anchor agreement vote
    "label_consistency" ->
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), norms AS (SELECT vec_id, sum(v * v) AS nrm FROM ex GROUP BY vec_id),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE label IS NOT NULL ORDER BY vec_id LIMIT 8),
        |dots AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dot
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT qid FROM qids)
        |  GROUP BY a.vec_id, b.vec_id),
        |ranked AS (
        |  SELECT d.qid, d.nid,
        |         row_number() OVER (PARTITION BY d.qid
        |           ORDER BY (CASE WHEN sqrt(nq.nrm * nn.nrm) = 0 THEN 0
        |                          ELSE d.dot / sqrt(nq.nrm * nn.nrm) END) DESC,
        |                    d.nid ASC) AS rn
        |  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
        |              JOIN norms nn ON nn.vec_id = d.nid),
        |votes AS (
        |  SELECT r.qid, la.label,
        |         sum(CASE WHEN lb.label = la.label THEN 1 ELSE 0 END) AS n_agree,
        |         count(*) AS n_nbrs
        |  FROM ranked r
        |  JOIN embeddings la ON la.vec_id = r.qid
        |  JOIN embeddings lb ON lb.vec_id = r.nid
        |  WHERE r.rn <= 5
        |  GROUP BY r.qid, la.label)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(label AS BIGINT) AS label,
        |       CAST(n_agree AS BIGINT) AS n_agree,
        |       CAST(n_nbrs AS BIGINT) AS n_nbrs,
        |       CAST(round(CAST(n_agree AS DOUBLE) / n_nbrs, 6) AS DOUBLE) AS agreement,
        |       round(CAST(n_agree AS DOUBLE) / n_nbrs, 6) < CAST(0.5 AS DOUBLE) AS suspect
        |FROM votes""".stripMargin,

    // hybrid retrieval: reciprocal-rank fusion of the bm25_topk and
    // ann_cosine_topk rankings — both legs replay their own (already
    // independently verified) oracle CTE chains, then fuse with the
    // identical round9-DECIMAL 1/(60+rank) convention the engine uses
    "retrieval_rrf" ->
      s"""WITH $bm25RankedCtes,
        |$annRankedCtes,
        |rrf_u AS (
        |  SELECT qid, doc_id,
        |         CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9)
        |              AS DECIMAL(28, 9)) AS c
        |  FROM r WHERE rank <= 10
        |  UNION ALL
        |  SELECT qid, nid AS doc_id,
        |         CAST(round(1.0 / (60.0 + CAST(rn AS DOUBLE)), 9)
        |              AS DECIMAL(28, 9)) AS c
        |  FROM ranked WHERE rn <= 5),
        |rrf_s AS (SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
        |          FROM rrf_u GROUP BY qid, doc_id),
        |rrf_r AS (SELECT qid, doc_id, score,
        |                 row_number() OVER (PARTITION BY qid
        |                   ORDER BY score DESC, doc_id) AS rank FROM rrf_s)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
        |       CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(round(score, 6) AS DOUBLE) AS score
        |FROM rrf_r WHERE rank <= 10""".stripMargin,

    // thresholds are round(rate * 2^32) in lowercase hex; hex-prefix
    // string comparison is ASCII-ordered so both engines draw uniformly
    // from the same 2^32 buckets
    "sample_by_hash" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id
        |FROM documents
        |WHERE text IS NOT NULL
        |  AND substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 8) < '40000000'""".stripMargin,

    // the aggregate's keep-n-smallest (bucket, id) selection == rank in
    // that order; salt is "" so the bucket is md5 of the bare id string
    "fixed_per_lang" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
        |FROM r WHERE rn <= 20""".stripMargin,

    // Efraimidis-Spirakis replay: u from the first 13 md5 hex digits
    // (52-bit uniform, +0.5 so u>0), draw = round(-ln(u)/w, 9), k
    // smallest (draw, id) win. The 9-digit round happens BEFORE the
    // rank on both engines — the established CE/tfidf transcendental
    // convention — so ulp differences in ln cannot flip the cut.
    "weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |           / 4503599627370496.0 AS u
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(round(-ln(u) / n_chars, 9) AS DOUBLE) AS draw
        |FROM t ORDER BY draw, doc_id LIMIT 50""".stripMargin,

    // same in-plan pipeline as the engine: per-stratum counts -> binding
    // N = min(cnt/share) -> rate = share*N/cnt -> md5 threshold draw.
    // All arithmetic in DOUBLE in the same order for bit parity.
    "mixture_sample" ->
      """WITH d AS (SELECT doc_id, lang FROM documents WHERE text IS NOT NULL),
        |tgt(stratum, share) AS (VALUES
        |  ('de', CAST(0.2 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
        |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE))),
        |c AS (SELECT d.lang AS stratum, CAST(count(*) AS DOUBLE) AS cnt
        |      FROM d JOIN tgt ON d.lang = tgt.stratum GROUP BY 1),
        |cs AS (SELECT c.stratum, c.cnt, tgt.share
        |       FROM c JOIN tgt ON c.stratum = tgt.stratum),
        |n AS (SELECT min(cnt / share) AS n_total FROM cs),
        |r AS (SELECT stratum, (share * n_total) / cnt AS rate
        |      FROM cs CROSS JOIN n)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
        |       CAST(round(r.rate, 6) AS DOUBLE) AS rate
        |FROM d JOIN r ON d.lang = r.stratum
        |WHERE substr(md5(concat('graft', CAST(d.doc_id AS VARCHAR))), 1, 8) <
        |  CASE WHEN r.rate >= 1.0 THEN 'g'
        |       ELSE lpad(lower(to_hex(CAST(round(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
        |  END""".stripMargin,

    "script_ratios" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
        |       CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
        |       CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
        |       CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT) AS n_arabic,
        |       CAST(round(CASE WHEN length(text) = 0 THEN 0.0
        |                       ELSE CAST(len(regexp_extract_all(text, '\p{Latin}')) AS DOUBLE)
        |                            / length(text) END, 6) AS DOUBLE) AS latin_ratio
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // same class union on both engines: Java \s alone includes VT where
    // RE2's does not, but [\s\x00-\x1f] is identical
    "normalize_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       trim(regexp_replace(nfc_normalize(text), '[\s\x00-\x1f]+', ' ', 'g')) AS norm_text,
        |       CAST(length(text) AS BIGINT) AS n_raw,
        |       CAST(length(trim(regexp_replace(nfc_normalize(text), '[\s\x00-\x1f]+', ' ', 'g'))) AS BIGINT) AS n_norm
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // per-(doc, code point) counts -> round-9 DECIMAL p*log2(p) terms
    // (ln/ln2 spelling matches the kernel) -> negate + round 6; docs
    // with zero code points short-circuit to (0, 0, 0.0) like the kernel
    "char_entropy" ->
      """WITH t AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |cnt AS (
        |  SELECT doc_id, ch, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM t WHERE length(text) > 0)
        |  GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, length(text) AS n FROM t WHERE length(text) > 0),
        |terms AS (
        |  SELECT cnt.doc_id,
        |         CAST(round((CAST(c AS DOUBLE) / n) *
        |              (ln(CAST(c AS DOUBLE) / n) / ln(CAST(2.0 AS DOUBLE))), 9)
        |              AS DECIMAL(28, 9)) AS term
        |  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id),
        |e AS (SELECT doc_id, count(*) AS n_distinct, -sum(term) AS ent
        |      FROM terms GROUP BY doc_id)
        |SELECT CAST(tot.doc_id AS BIGINT) AS doc_id,
        |       CAST(tot.n AS BIGINT) AS n_cp,
        |       CAST(e.n_distinct AS BIGINT) AS n_distinct,
        |       CAST(round(e.ent, 6) AS DOUBLE) AS entropy
        |FROM tot JOIN e ON e.doc_id = tot.doc_id
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0.0 AS DOUBLE)
        |FROM t WHERE length(text) = 0""".stripMargin,

    "split_by_hash" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       $duckSplitCase AS split
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // the split_by_hash assignment joined to the dedup_exact
    // fingerprint, grouped: any fingerprint with >= 2 distinct splits
    "split_leakage" ->
      s"""WITH s AS (
        |  SELECT md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp,
        |         $duckSplitCase AS split
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT fp, count(*) AS n_docs,
        |             list_sort(list(DISTINCT split)) AS ss
        |      FROM s GROUP BY fp)
        |SELECT fp, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(len(ss) AS BIGINT) AS n_splits,
        |       array_to_string(ss, ',') AS splits
        |FROM g WHERE len(ss) >= 2""".stripMargin,

    // same audit over the corpus + 16 planted copies under doc_id+1e9
    // (non-empty by construction: the copies hash to independent splits)
    "split_leakage_planted" ->
      s"""WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000000, text
        |  FROM documents WHERE CAST(doc_id AS BIGINT) < 16),
        |s AS (
        |  SELECT md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp,
        |         $duckSplitCase AS split
        |  FROM u WHERE text IS NOT NULL),
        |g AS (SELECT fp, count(*) AS n_docs,
        |             list_sort(list(DISTINCT split)) AS ss
        |      FROM s GROUP BY fp)
        |SELECT fp, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(len(ss) AS BIGINT) AS n_splits,
        |       array_to_string(ss, ',') AS splits
        |FROM g WHERE len(ss) >= 2""".stripMargin,

    "text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(length(toks) AS BIGINT) AS n_tokens,
         |       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
         |       CAST(length(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{}-]')) AS BIGINT) AS n_punct,
         |       CAST(CASE WHEN length(toks) = 0 THEN 0
         |            ELSE round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
         |                       / length(toks), 6) END AS DOUBLE) AS mean_tok_len
         |FROM t""".stripMargin,

    "lang_id" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |       $langScoresSql
         |FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       $langCaseSql AS lang_pred
         |FROM s""".stripMargin,

    "stratified_sample" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |       $langScoresSql
         |FROM t),
         |l AS (SELECT doc_id, $langCaseSql AS lang FROM s)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
         |FROM l
         |WHERE substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 8) <
         |      CASE lang WHEN 'en' THEN '80000000'
         |                WHEN 'de' THEN '40000000'
         |                ELSE '1999999a' END""".stripMargin,

    "token_freq_topk" ->
      s"""WITH t AS (SELECT unnest($duckToks) AS token FROM documents WHERE text IS NOT NULL)
         |SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM t GROUP BY token
         |ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // idf = round(ln(nDocs / df), 6) — nDocs counts non-null-text docs
    // (empty docs included), mirroring Corpus.documentFrequencies
    "doc_freq" ->
      s"""WITH t AS (SELECT list_distinct($duckToks) AS toks FROM documents WHERE text IS NOT NULL),
         |nd AS (SELECT count(*) AS n FROM t)
         |SELECT token, CAST(count(*) AS BIGINT) AS df,
         |       CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / count(*)), 6) AS DOUBLE) AS idf
         |FROM (SELECT unnest(toks) AS token FROM t)
         |GROUP BY token""".stripMargin,

    // tfidf multiplies the ALREADY-ROUNDED idf (the engine joins the
    // documentFrequencies output), hence round(tf * round(ln(...),6), 6)
    "tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |nd AS (SELECT count(*) AS n FROM t),
         |tf AS (SELECT doc_id, token, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS token FROM t) GROUP BY doc_id, token),
         |dfs AS (SELECT token AS tok2, count(*) AS df
         |        FROM (SELECT unnest(list_distinct(toks)) AS token FROM t) GROUP BY token)
         |SELECT CAST(tf.doc_id AS BIGINT) AS doc_id, tf.token,
         |       CAST(tf.tf AS BIGINT) AS tf, CAST(dfs.df AS BIGINT) AS df,
         |       CAST(round(tf.tf * round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / dfs.df), 6), 6) AS DOUBLE) AS tfidf
         |FROM tf JOIN dfs ON dfs.tok2 = tf.token""".stripMargin,

    "contamination" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |         i -> array_to_string(toks[i:i+2], ' ')))) AS sh
         |       FROM t WHERE len(toks) >= 3),
         |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
         |d AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(e.sh) AS BIGINT) AS n_contaminated,
         |       CAST(round(CAST(count(e.sh) AS DOUBLE) / count(*), 6) AS DOUBLE) AS ratio
         |FROM d LEFT JOIN ev e ON e.sh = d.sh
         |GROUP BY d.doc_id""".stripMargin,

    // three-stage sequential replay: Gopher verdict (gopher_filter's
    // thresholds at 30/1), exact-dedup min-id per fingerprint AMONG
    // SURVIVORS, then the stratified md5 threshold (en 0.6 -> 9999999a,
    // default 0.15 -> 26666666, salt 'cur')
    "curation_e2e" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, toks, len(toks) AS n_tok,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |                        / len(toks), 6) END AS mean_tok_len,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |                        / len(toks), 6) END AS alpha_ratio,
         |        len(list_filter(toks, x -> list_contains(['the', 'and', 'of', 'to', 'is', 'in', 'that', 'it'], x))) AS n_stop
         |      FROM t),
         |k AS (SELECT doc_id, toks FROM g
         |      WHERE n_tok BETWEEN 30 AND 100000 AND mean_tok_len BETWEEN 3 AND 10
         |        AND alpha_ratio >= 0.8 AND n_stop >= 1),
         |d AS (SELECT doc_id, toks,
         |        row_number() OVER (
         |          PARTITION BY md5(COALESCE(array_to_string(toks, ' '), ''))
         |          ORDER BY doc_id) AS rn
         |      FROM k),
         |s AS (SELECT doc_id, toks,
         |       $langScoresSql
         |FROM d WHERE rn = 1),
         |l AS (SELECT doc_id, $langCaseSql AS lang FROM s)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
         |FROM l
         |WHERE substr(md5(concat('cur', CAST(doc_id AS VARCHAR))), 1, 8) <
         |      CASE lang WHEN 'en' THEN '9999999a' ELSE '26666666' END""".stripMargin,

    // per-term round(.,9) then DECIMAL(28,9) summation on BOTH sides:
    // ln values agree bit-for-bit (the idf precedent), and the decimal
    // sum is exact/associative, so hash-agg order cannot move ce
    "unigram_ce" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, u.t AS token, count(*) AS tf
         |  FROM t, LATERAL (SELECT unnest(toks) AS t) u GROUP BY doc_id, u.t),
         |cnt AS MATERIALIZED (SELECT token, sum(tf) AS c FROM tf GROUP BY token),
         |tot AS (SELECT sum(c) AS n FROM cnt),
         |terms AS (
         |  SELECT f.doc_id, f.tf,
         |         CAST(round(f.tf * -ln(CAST(c.c AS DOUBLE) / CAST(tt.n AS DOUBLE)), 9)
         |              AS DECIMAL(28, 9)) AS term
         |  FROM tf f JOIN cnt c ON c.token = f.token, tot tt)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(sum(tf) AS BIGINT) AS n_tok,
         |       CAST(round(CAST(sum(term) AS DOUBLE) / sum(tf), 6) AS DOUBLE) AS ce,
         |       CAST(round(exp(round(CAST(sum(term) AS DOUBLE) / sum(tf), 6)), 6) AS DOUBLE) AS ppl
         |FROM terms GROUP BY doc_id""".stripMargin,

    "lang_top_tokens" ->
      s"""WITH t AS (SELECT lang, unnest($duckToks) AS token
         |           FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT lang AS grp, token, count(*) AS n FROM t GROUP BY 1, 2),
         |r AS (SELECT grp, token, n,
         |        row_number() OVER (PARTITION BY grp ORDER BY n DESC, token ASC) AS rank
         |      FROM c)
         |SELECT grp AS lang, CAST(rank AS BIGINT) AS rank, token,
         |       CAST(n AS BIGINT) AS n
         |FROM r WHERE rank <= 5""".stripMargin,

    "zipf_fit" ->
      s"""WITH t AS (SELECT unnest($duckToks) AS token
         |           FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT token, count(*) AS n FROM t GROUP BY token
         |      ORDER BY n DESC, token LIMIT 100),
         |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS DOUBLE)) AS x,
         |             ln(CAST(n AS DOUBLE)) AS y
         |      FROM c),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS cnt, sum(x) AS sx, sum(y) AS sy,
         |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM r)
         |SELECT CAST(cnt AS BIGINT) AS n_points,
         |       CAST(round((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 6) AS DOUBLE)
         |         AS zipf_slope
         |FROM s""".stripMargin,

    // unigram-CE replay + exact (ce, doc_id) rank cut — the engine's
    // distributed prefix-sum rank equals row_number here
    "ppl_filter" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, u.t AS token, count(*) AS tf
         |  FROM t, LATERAL (SELECT unnest(toks) AS t) u GROUP BY doc_id, u.t),
         |cnt AS MATERIALIZED (SELECT token, sum(tf) AS c FROM tf GROUP BY token),
         |tot AS (SELECT sum(c) AS n FROM cnt),
         |terms AS (
         |  SELECT f.doc_id, f.tf,
         |         CAST(round(f.tf * -ln(CAST(c.c AS DOUBLE) / CAST(tt.n AS DOUBLE)), 9)
         |              AS DECIMAL(28, 9)) AS term
         |  FROM tf f JOIN cnt c ON c.token = f.token, tot tt),
         |ce AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST(round(CAST(sum(term) AS DOUBLE) / sum(tf), 6) AS DOUBLE) AS ce
         |  FROM terms GROUP BY doc_id),
         |rk AS MATERIALIZED (
         |  SELECT doc_id, ce,
         |         row_number() OVER (ORDER BY ce, doc_id) - 1 AS rank FROM ce),
         |n AS (SELECT count(*) AS n FROM rk)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, ce, CAST(rank AS BIGINT) AS rank
         |FROM rk, n
         |WHERE CAST(rank AS DOUBLE) < CAST(0.5 AS DOUBLE) * CAST(n.n AS DOUBLE)""".stripMargin,

    // bigram replay: adjacent-pair stream, bigram/context/unigram count
    // tables, Jelinek-Mercer interpolation with the EXACT double
    // constants (1.0 - 0.7 interpolates to its true double value), and
    // the unigram_ce DECIMAL-sum convention
    "bigram_ce" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |t2 AS MATERIALIZED (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bo AS MATERIALIZED (
         |  SELECT doc_id, toks[u.i] || ' ' || toks[u.i + 1] AS bg
         |  FROM t2, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u),
         |btf AS MATERIALIZED (SELECT doc_id, bg, count(*) AS btf FROM bo GROUP BY doc_id, bg),
         |cb AS MATERIALIZED (SELECT bg, sum(btf) AS cb FROM btf GROUP BY bg),
         |cv AS MATERIALIZED (
         |  SELECT split_part(bg, ' ', 1) AS ctx, sum(cb) AS cv FROM cb GROUP BY 1),
         |uni AS MATERIALIZED (
         |  SELECT u.t AS token, count(*) AS c
         |  FROM t, LATERAL (SELECT unnest(toks) AS t) u GROUP BY u.t),
         |tot AS (SELECT sum(c) AS n FROM uni),
         |terms AS (
         |  SELECT f.doc_id, f.btf,
         |         CAST(round(f.btf * -ln(
         |             CAST(${0.7} AS DOUBLE) * (CAST(b.cb AS DOUBLE) / CAST(v.cv AS DOUBLE))
         |           + CAST(${1.0 - 0.7} AS DOUBLE) * (CAST(u2.c AS DOUBLE) / CAST(tt.n AS DOUBLE))), 9)
         |              AS DECIMAL(28, 9)) AS term
         |  FROM btf f JOIN cb b ON b.bg = f.bg
         |  JOIN cv v ON v.ctx = split_part(f.bg, ' ', 1)
         |  JOIN uni u2 ON u2.token = split_part(f.bg, ' ', 2), tot tt)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(sum(btf) AS BIGINT) AS n_big,
         |       CAST(round(CAST(sum(term) AS DOUBLE) / sum(btf), 6) AS DOUBLE) AS ce2,
         |       CAST(round(exp(round(CAST(sum(term) AS DOUBLE) / sum(btf), 6)), 6) AS DOUBLE) AS ppl2
         |FROM terms GROUP BY doc_id""".stripMargin,

    // same chunking arithmetic as doc_chunks at (16, 0); dup = identical
    // normalized span text >= 2 occurrences corpus-wide (the engine
    // groups md5(span), equality classes identical modulo md5 collision)
    "dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, toks, greatest(1, (len(toks) + 15) // 16) AS nc
         |      FROM t WHERE len(toks) > 0),
         |sp AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(toks[(u.i * 16 + 1):(u.i * 16 + 16)], ' ') AS span
         |  FROM c, LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS i) u),
         |tot AS (SELECT span, count(*) AS cnt FROM sp GROUP BY span)
         |SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN t.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |       CAST(round(CAST(sum(CASE WHEN t.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |                  / count(*), 6) AS DOUBLE) AS dup_ratio
         |FROM sp s JOIN tot t ON s.span = t.span GROUP BY s.doc_id""".stripMargin,

    // first-occurrence rank over (doc_id, chunk_id) mirrors the engine's
    // window; reassembly via ordered string_agg of surviving spans
    "span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, toks, greatest(1, (len(toks) + 15) // 16) AS nc
         |      FROM t WHERE len(toks) > 0),
         |sp AS MATERIALIZED (
         |  SELECT doc_id, u.i AS chunk_id,
         |         array_to_string(toks[(u.i * 16 + 1):(u.i * 16 + 16)], ' ') AS span
         |  FROM c, LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS i) u),
         |rk AS (SELECT doc_id, chunk_id, span,
         |         row_number() OVER (PARTITION BY span ORDER BY doc_id, chunk_id) AS rn
         |       FROM sp)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       COALESCE(string_agg(span, ' ' ORDER BY chunk_id)
         |                  FILTER (WHERE rn = 1), '') AS clean_text
         |FROM rk GROUP BY doc_id""".stripMargin,

    // GROUPING() bit order matches Spark's grouping_id (first listed
    // column = most significant bit) for the two-column rollup
    "corpus_rollup" ->
      """SELECT source, lang,
        |       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY ROLLUP(source, lang)""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS vt FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS ct
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pt
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
        |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
        |       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
        |       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_full_funnel""".stripMargin,

    // quantile_cont == Spark's exact percentile: both linear-interpolate
    // at index p*(n-1) on the sorted values
    "doc_len_quantiles" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
        |  FROM documents WHERE text IS NOT NULL GROUP BY lang),
        |ps(i, p) AS (VALUES (1, CAST(0.25 AS DOUBLE)), (2, CAST(0.5 AS DOUBLE)),
        |                    (3, CAST(0.75 AS DOUBLE)))
        |SELECT q.lang, ps.p, CAST(round(qs[ps.i], 6) AS DOUBLE) AS q
        |FROM q, ps""".stripMargin,

    "len_histogram" ->
      """SELECT CAST(n_chars - (n_chars % 100) AS BIGINT) AS bucket_start,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // one UNION ALL leg per profiled column; both engines compare
    // strings with binary collation, so min_s/max_s agree byte-for-byte
    "profile_docs" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       min(CAST($c AS VARCHAR)) AS min_s,
           |       max(CAST($c AS VARCHAR)) AS max_s
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n"),

    // exact integer sums divided in double precision — no avg(), whose
    // incremental mean is association-order-dependent cross-engine
    "corpus_stats" ->
      s"""WITH t AS (SELECT source, lang, text, $duckToks AS toks FROM documents)
         |SELECT source, lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(text) AS BIGINT) AS n_with_text,
         |       CAST(COALESCE(sum(len(toks)), 0) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(sum(length(text)), 0) AS BIGINT) AS n_chars,
         |       CAST(CASE WHEN count(text) = 0 THEN 0
         |            ELSE round(CAST(COALESCE(sum(len(toks)), 0) AS DOUBLE)
         |                       / count(text), 6) END AS DOUBLE) AS avg_tokens,
         |       CAST(CASE WHEN count(text) = 0 THEN 0
         |            ELSE round(CAST(COALESCE(sum(length(text)), 0) AS DOUBLE)
         |                       / count(text), 6) END AS DOUBLE) AS avg_chars
         |FROM t GROUP BY source, lang""".stripMargin,

    // thresholds mirror the gopher_filter query: tok in [30, 100000],
    // mean len in [3, 10] (on the ROUNDED value, like the engine),
    // alpha ratio >= 0.8, stop hits >= 1. The stop-word literal is
    // GENERATED from TextFunctions.englishStopwords (the engine-side
    // list), so the two sides cannot drift.
    "gopher_filter" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, len(toks) AS n_tok,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |                        / len(toks), 6) END AS mean_tok_len,
         |        CASE WHEN len(toks) = 0 THEN 0
         |             ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |                        / len(toks), 6) END AS alpha_ratio,
         |        len(list_filter(toks, x -> list_contains([$duckStopwords], x))) AS n_stop
         |      FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |       CAST(mean_tok_len AS DOUBLE) AS mean_tok_len,
         |       CAST(alpha_ratio AS DOUBLE) AS alpha_ratio,
         |       CAST(n_stop AS BIGINT) AS n_stop,
         |       (n_tok BETWEEN 30 AND 100000 AND mean_tok_len BETWEEN 3 AND 10
         |        AND alpha_ratio >= 0.8 AND n_stop >= 1) AS pass
         |FROM g""".stripMargin,

    // same feature replay as gopher_filter, then the logistic dot
    // product in the engine's left-to-right addition order; features
    // rounded to 6 BEFORE the product, score after the sigmoid (the
    // ln/exp ulp convention). Constants CAST AS DOUBLE — bare literals
    // parse as DECIMAL in DuckDB.
    "quality_logit" -> qualityLogitOracle,

    // the resolver replay (nested CTE) + the quality replay (nested
    // CTE) + a per-cluster argmax on (score DESC, id ASC) — the window
    // here is oracle-side only; the engine uses a partial max aggregate
    "dedup_keep_best" ->
      s"""WITH lab AS (
         |$resolveClustersOracle
         |),
         |sc AS (
         |$qualityLogitOracle
         |),
         |j AS (SELECT lab.id, lab.keep_id, sc.score
         |      FROM lab JOIN sc ON sc.doc_id = lab.id),
         |r AS (SELECT keep_id AS cluster, id, score,
         |        row_number() OVER (PARTITION BY keep_id
         |          ORDER BY score DESC, id ASC) AS rn,
         |        count(*) OVER (PARTITION BY keep_id) AS nm
         |      FROM j)
         |SELECT CAST(cluster AS BIGINT) AS cluster,
         |       CAST(id AS BIGINT) AS best_id,
         |       CAST(score AS DOUBLE) AS best_score,
         |       CAST(nm AS BIGINT) AS n_members
         |FROM r WHERE rn = 1""".stripMargin,

    // same two regex passes + six literal replaces + the normalize_text
    // whitespace class; patterns are shared Java/RE2 syntax and 'g'
    // makes DuckDB's regexp_replace global like Spark's
    "strip_markup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(text, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[\s\x00-\x1f]+', ' ', 'g')) AS clean
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "ttr_stats" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         |       CAST(len(toks) AS BIGINT) AS n_tok,
         |       CAST(CASE WHEN len(toks) = 0 THEN 0.0
         |            ELSE round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
         |            END AS DOUBLE) AS ttr
         |FROM t""".stripMargin,

    "vocab_size" ->
      s"""SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
         |       CAST(count(*) AS BIGINT) AS n_instances
         |FROM (SELECT unnest(toks) AS tok
         |      FROM (SELECT $duckToks AS toks
         |            FROM documents WHERE text IS NOT NULL))""".stripMargin,

    "doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, toks,
         |        greatest(1, (len(toks) - 8 + 55) // 56) AS nc
         |      FROM t WHERE len(toks) > 0)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(u.i AS BIGINT) AS chunk_id,
         |       CAST(least(64, len(toks) - u.i * 56) AS BIGINT) AS n_tok,
         |       array_to_string(toks[(u.i * 56 + 1):(u.i * 56 + 64)], ' ') AS chunk_text
         |FROM c, LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS i) u""".stripMargin,

    // the engine computes the prefix sum distributively (per-partition
    // totals + broadcast starts); the oracle states the same quantity as
    // the declarative window cumsum — exact integer agreement required
    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, len($duckToks) AS n_tok
         |           FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, n_tok,
         |        COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
         |      FROM t WHERE n_tok > 0)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(n_tok AS BIGINT) AS n_tok,
         |       CAST(tok_offset AS BIGINT) AS tok_offset,
         |       CAST(tok_offset // 96 AS BIGINT) AS seq_first,
         |       CAST((tok_offset + n_tok - 1) // 96 AS BIGINT) AS seq_last
         |FROM p""".stripMargin,

    "shuffle_order" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       md5(concat('graft', CAST(doc_id AS VARCHAR))) AS skey,
        |       CAST(row_number() OVER (
        |         ORDER BY md5(concat('graft', CAST(doc_id AS VARCHAR))), doc_id) - 1
        |         AS BIGINT) AS rank
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "pack_fill" ->
      s"""WITH t AS (SELECT doc_id, len($duckToks) AS n_tok
         |           FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |        CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |      FROM t WHERE n_tok > 0),
         |e AS (SELECT doc_id, n_tok, tok_offset, u.s AS seq_id
         |      FROM p, LATERAL (SELECT unnest(generate_series(
         |        tok_offset // 96, (tok_offset + n_tok - 1) // 96)) AS s) u)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(least(tok_offset + n_tok, (seq_id + 1) * 96)
         |                - greatest(tok_offset, seq_id * 96)) AS BIGINT) AS n_tokens
         |FROM e GROUP BY seq_id""".stripMargin,

    "repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id,
         |        CAST(len(toks) AS DOUBLE) AS t1,
         |        CAST(len(toks) - 1 AS DOUBLE) AS t2,
         |        CAST(len(toks) - 2 AS DOUBLE) AS t3,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) AS d1,
         |        CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |             i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE) AS d2,
         |        CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |             i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE) AS d3
         |      FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(CASE WHEN t1 <= 0 THEN 0 ELSE round(1 - d1 / t1, 6) END AS DOUBLE) AS rep1,
         |       CAST(CASE WHEN t2 <= 0 THEN 0 ELSE round(1 - d2 / t2, 6) END AS DOUBLE) AS rep2,
         |       CAST(CASE WHEN t3 <= 0 THEN 0 ELSE round(1 - d3 / t3, 6) END AS DOUBLE) AS rep3
         |FROM g""".stripMargin,

    "pattern_counts" ->
      """WITH t AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0
        |             THEN text || ' contact user' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
        |                  || '@example.com or https://ex.org/p/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
        |                  || ' ref 123456789'
        |             ELSE text END AS text2
        |      FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |       CAST(len(regexp_extract_all(text2, 'https?://[^\s]+')) AS BIGINT) AS n_url,
        |       CAST(len(regexp_extract_all(text2, '[0-9]{7,}')) AS BIGINT) AS n_digit_run
        |FROM t""".stripMargin,

    // top-200 vocabulary under the (count desc, token asc) total order,
    // then a LEFT JOIN marks in-vocab terms; the doc side is per-doc
    // (token, tf) pairs like the engine's kernel form
    "oov_rate" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, unnest($duckToks) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |v AS MATERIALIZED (
         |  SELECT token FROM (SELECT token, count(*) AS n FROM t GROUP BY 1)
         |  ORDER BY n DESC, token LIMIT 200),
         |p AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2)
         |SELECT CAST(p.doc_id AS BIGINT) AS id,
         |       CAST(sum(p.tf) AS BIGINT) AS n_tok,
         |       CAST(round(CAST(sum(CASE WHEN v.token IS NULL THEN p.tf ELSE 0 END) AS DOUBLE)
         |                  / CAST(sum(p.tf) AS DOUBLE), 6) AS DOUBLE) AS oov_rate
         |FROM p LEFT JOIN v ON p.token = v.token
         |GROUP BY 1""".stripMargin,

    // shard + checksum replay: hex prefixes through ::BIGINT (the
    // weighted_sample convention), checksum summed in HUGEINT and cast
    // to VARCHAR like the engine's DECIMAL(38,0) -> string
    "export_manifest" ->
      s"""WITH f AS (
         |  SELECT doc_id, md5(COALESCE(array_to_string($duckToks, ' '), '')) AS fp
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(('0x' || substr(md5('graft' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8))::BIGINT % 8 AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(('0x' || substr(fp, 1, 15))::BIGINT) AS VARCHAR) AS fp_sum
         |FROM f GROUP BY 1""".stripMargin,

    // same enrichment; the 'g' flag makes DuckDB's regexp_replace
    // global like Spark's, and the email->url->digits order matches
    "redact_pii" ->
      """WITH t AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0
        |             THEN text || ' contact user' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
        |                  || '@example.com or https://ex.org/p/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
        |                  || ' ref 123456789'
        |             ELSE text END AS text2
        |      FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(text2,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         'https?://[^\s]+', '<URL>', 'g'),
        |         '[0-9]{7,}', '<NUM>', 'g') AS red_text
        |FROM t""".stripMargin,

    "quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |        CAST(length(toks) AS DOUBLE) AS nt,
         |        CAST(length(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{}-]')) AS DOUBLE) AS np,
         |        CAST(length(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS nd,
         |        CAST(length(text) AS DOUBLE) AS nc,
         |        CAST(length(list_filter(toks, t -> list_contains($allMarkers, t))) AS DOUBLE) AS ns
         |      FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(round(
         |         least(nt / 20.0, 1.0) * 0.4
         |         + greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0 ELSE np / nc END) * 5.0) * 0.2
         |         + greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0 ELSE nd / nc END) * 5.0) * 0.2
         |         + least((CASE WHEN nt = 0 THEN 0 ELSE ns / nt END) * 4.0, 1.0) * 0.2, 6) AS DOUBLE) AS q
         |FROM m""".stripMargin,

    // prefix-under-budget replay: the same rounded quality composite as
    // quality_score, then a running token sum in (score desc, doc_id)
    // order cut at 5000 — doc_id is unique, so the default RANGE frame
    // equals ROWS and the window is unambiguous
    "budget_select" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |        CAST(length(toks) AS DOUBLE) AS nt,
         |        CAST(length(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{}-]')) AS DOUBLE) AS np,
         |        CAST(length(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS nd,
         |        CAST(length(text) AS DOUBLE) AS nc,
         |        CAST(length(list_filter(toks, t -> list_contains($allMarkers, t))) AS DOUBLE) AS ns,
         |        CAST(length(toks) AS BIGINT) AS n_tok
         |      FROM t),
         |q AS (SELECT doc_id, n_tok,
         |        round(
         |          least(nt / 20.0, 1.0) * 0.4
         |          + greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0 ELSE np / nc END) * 5.0) * 0.2
         |          + greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0 ELSE nd / nc END) * 5.0) * 0.2
         |          + least((CASE WHEN nt = 0 THEN 0 ELSE ns / nt END) * 4.0, 1.0) * 0.2, 6) AS score
         |      FROM m WHERE n_tok > 0),
         |c AS (SELECT doc_id, score, n_tok,
         |        sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum_tok
         |      FROM q)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(round(score, 6) AS DOUBLE) AS score,
         |       CAST(n_tok AS BIGINT) AS n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= 5000""".stripMargin
  )

  private lazy val relationalOracles: Map[String, String] = Map(
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |       CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_disc,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_revenue_by_order" ->
      """SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
        |                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey""".stripMargin,

    "events_hourly" ->
      """SELECT CAST(epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS BIGINT) AS window_start_ns,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "events_agg" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(avg(value), 6) AS DOUBLE) AS avg_value
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "events_props_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "events_top_event" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
        |       CAST(round(value, 6) AS DOUBLE) AS value
        |FROM r WHERE rn = 1""".stripMargin,

    // rank-1 of (ts DESC, event_id DESC) = the engine's running-last
    // over (ts, side, id-led struct); IS NOT DISTINCT FROM keeps
    // null-key purchases matching null-key clicks like the window
    // partition does
    "events_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
        |      FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |         c.event_id AS c_id, c.ts AS c_ts,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON c.user_id IS NOT DISTINCT FROM p.user_id AND c.ts <= p.ts)
        |SELECT CAST(p_id AS BIGINT) AS p_id,
        |       CAST(user_id AS BIGINT) AS user_id,
        |       CAST(p_ts AS BIGINT) AS p_ts,
        |       CAST(c_id AS BIGINT) AS c_id,
        |       CAST(c_ts AS BIGINT) AS c_ts
        |FROM m WHERE rn = 1""".stripMargin,

    // the bucketed equi-join is a pure optimization — the oracle is the
    // plain inequality join it must exactly equal
    "events_range_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT CAST(c.event_id AS BIGINT) AS c_id,
        |       CAST(p.event_id AS BIGINT) AS p_id,
        |       CAST(p.ts - c.ts AS BIGINT) AS gap_ns
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts + 1 AND p.ts <= c.ts + 3600000000000""".stripMargin,

    "events_rolling" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |       CAST(user_id AS BIGINT) AS user_id,
        |       CAST(epoch_ns(ts) AS BIGINT) AS ts, value,
        |       CAST(round(sum(value) OVER (
        |         PARTITION BY user_id ORDER BY epoch_ns(ts)
        |         RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW), 4)
        |         AS DOUBLE) AS roll_sum
        |FROM events""".stripMargin,

    "events_sessionize" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_ns(ts) - epoch_ns(prev) > 1800000000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY user_id""".stripMargin
  )
}
