package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.som.{Codebook, Som, SomData, SomModel}

/** Structured Streaming surface for the SOM engine. The reference has no
  * streaming API (SURVEY §2.9); this extends the same operator semantics
  * to unbounded inputs the Spark-native way:
  *
  *  - inference is the `som_bmu` Catalyst expression, so any streaming
  *    DataFrame can be BMU-tagged with a plain `withColumn` — no special
  *    sink, full codegen;
  *  - `activation_response` over a stream becomes a watermarked windowed
  *    count (the streaming analogue of `xpysom.py:819-829`);
  *  - training continues across micro-batches via `foreachBatch`: each
  *    batch advances the epoch counter by one step of the decay
  *    schedule — the streaming analogue of the batch epoch loop
  *    (`xpysom.py:515-577`).
  */
object StreamingSom {

  /** BMU-tag a (possibly streaming) DataFrame. */
  def assignBmu(stream: DataFrame, model: SomModel,
                featuresCol: String = "features"): DataFrame =
    model.withBmu(stream, featuresCol)

  /** Windowed per-neuron win counts over event time with a watermark —
    * streaming activation response. `tsCol` must be a TimestampType
    * column; `windowDur`/`watermarkDur` are duration strings ("1 hour").
    */
  def activationResponseStream(stream: DataFrame, model: SomModel,
                               featuresCol: String, tsCol: String,
                               windowDur: String, watermarkDur: String): DataFrame =
    model.withBmu(stream, featuresCol)
      .withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur), col("bmu_id"))
      .agg(count(lit(1)).as("n_wins"))

  /** Streaming exact dedup: fingerprint each document (same md5-of-
    * normalized-tokens as the batch `doc_fingerprint`) and drop rows
    * whose fingerprint was already seen within the watermark
    * (`dropDuplicatesWithinWatermark`). State holds one entry per
    * distinct fingerprint and expires past the watermark — the
    * bounded-state contract an unbounded ingest pipeline needs (global
    * exact dedup over an infinite stream would need infinite state;
    * run the batch `Dedup.dropExactDuplicates` over the sealed corpus
    * for that).
    */
  def dropDuplicatesStream(stream: DataFrame, textCol: String, tsCol: String,
                           watermarkDur: String): DataFrame =
    stream
      .withColumn("__fp", graft.functions.TextFunctions.docFingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDur)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** End-to-end streaming curation: the append-mode composition of the
    * batch `curation_e2e` lineage's quality + dedup stages, finished
    * with a per-window curated-document count.
    *
    *   1. Gopher quality gate — `Corpus.gopherKeep`, a pure expression
    *      filter, stateless on a stream;
    *   2. watermarked exact-dedup — [[dropDuplicatesStream]], one state
    *      entry per distinct fingerprint inside the watermark;
    *   3. windowed count of curated documents — the ingest-rate signal
    *      a production corpus pipeline alarms on.
    *
    * Two stateful operators chained in one query (dedup feeding a
    * windowed aggregation) is the Spark-4 multiple-stateful-operator
    * shape; both states are watermark-bounded. Spec-pinned against the
    * equivalent batch pipeline (`StreamingSpec`).
    */
  def curationStream(stream: DataFrame, textCol: String, tsCol: String,
                     windowDur: String, watermarkDur: String,
                     minTok: Int = 50, maxTok: Int = 100000,
                     minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                     minAlphaRatio: Double = 0.8, minStopHits: Int = 2,
                     stopWords: Seq[String] =
                       graft.functions.TextFunctions.langMarkers.toMap.apply("en")): DataFrame = {
    val kept = graft.operators.Corpus.gopherKeep(stream, textCol,
      minTok, maxTok, minMeanLen, maxMeanLen, minAlphaRatio,
      minStopHits, stopWords)
    dropDuplicatesStream(kept, textCol, tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** The full streaming ingest-to-release path in one composition:
    * landing-directory JSONL stream (or any document stream) -> Gopher
    * quality gate -> watermarked exact dedup -> content-keyed shard
    * assignment, returning the DataFrame to hand a `partitionBy("shard")`
    * file sink (append mode — shard assignment is a pure expression, so
    * the sink lays out the same shard=K/ tree and every document lands
    * in the SAME shard as the batch release writer; `StreamingSpec`
    * pins batch==stream shard assignment through this composition).
    * One watermark-bounded state store (the dedup fingerprints); the
    * quality gate and sharding are stateless.
    */
  def curationExportStream(stream: DataFrame, textCol: String,
                           idCol: String, tsCol: String,
                           watermarkDur: String, numShards: Int,
                           minTok: Int = 50, maxTok: Int = 100000,
                           minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                           minAlphaRatio: Double = 0.8, minStopHits: Int = 2,
                           stopWords: Seq[String] =
                             graft.functions.TextFunctions.langMarkers.toMap.apply("en")): DataFrame = {
    val kept = graft.operators.Corpus.gopherKeep(stream, textCol,
      minTok, maxTok, minMeanLen, maxMeanLen, minAlphaRatio,
      minStopHits, stopWords)
    dropDuplicatesStream(kept, textCol, tsCol, watermarkDur)
      .withColumn("shard", graft.sources.Shards.shardOf(col(idCol), numShards))
  }

  /** Windowed token frequencies over a document stream — the streaming
    * face of `Corpus.tokenFrequencies` (vocabulary drift monitoring,
    * per-window token counts). The token array is materialized in a
    * child projection (one tokenizer evaluation per row — see
    * `TextFunctions.wordShinglesOfTokens`), the explode is narrow, and
    * the windowed groupBy keeps watermark-bounded state: one entry per
    * (window, token) until the watermark closes the window. Top-k
    * selection is left to the consumer — a global rank inside an
    * unbounded stream would need unbounded state; rank per closed
    * window downstream instead.
    */
  def tokenFrequenciesStream(stream: DataFrame, textCol: String, tsCol: String,
                             windowDur: String, watermarkDur: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDur)
      .select(col(tsCol), graft.functions.TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col(tsCol), explode(col("__t")).as("token"))
      .groupBy(window(col(tsCol), windowDur), col("token"))
      .agg(count(lit(1)).as("n"))

  /** Streaming near-duplicate candidate pairs: SimHash-band each
    * document (codegen `SimHash64`), then a watermarked stream-stream
    * self-join on (band, chunk) with a bounded event-time gap — the
    * unbounded-input twin of `Dedup.simhashCandidates`. State is bounded
    * by the watermark on both sides (Spark drops buffered rows older
    * than watermark + `maxGapDur`); recall follows the batch banding
    * contract (hamming < numBands guaranteed) for pairs arriving within
    * the time window. Emits (id_a, id_b, hamming) with id_a < id_b.
    */
  def nearDupCandidatesStream(stream: DataFrame, textCol: String,
                              idCol: String, tsCol: String,
                              watermarkDur: String, maxGapDur: String,
                              maxHamming: Int = 7,
                              numBands: Int = 8): DataFrame = {
    graft.operators.Dedup.validateBanding(maxHamming, numBands)
    // band decomposition shared with the batch path (Dedup.bandChunks):
    // the streaming and batch candidate sets stay in lockstep by
    // construction
    def banded(alias: String): DataFrame =
      stream
        .select(col(idCol).cast("long").as(s"${alias}_id"),
                col(tsCol).as(s"${alias}_ts"),
                graft.plans.GraftFunctions.simhash64(col(textCol)).as(s"${alias}_fp"))
        .select(col(s"${alias}_id"), col(s"${alias}_ts"), col(s"${alias}_fp"),
          explode(graft.operators.Dedup.bandChunks(col(s"${alias}_fp"), numBands)).as("bb"))
        .select(col(s"${alias}_id"), col(s"${alias}_ts"), col(s"${alias}_fp"),
                col("bb.band").as(s"${alias}_band"), col("bb.chunk").as(s"${alias}_chunk"))
        .withWatermark(s"${alias}_ts", watermarkDur)
    val a = banded("a")
    val b = banded("b")
    a.join(b,
        col("a_band") === col("b_band") && col("a_chunk") === col("b_chunk") &&
        col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $maxGapDur") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $maxGapDur"))
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"),
        col("a_ts"))
      .where(col("hamming") <= maxHamming)
      // a pair can surface once per colliding band: dedup within the
      // watermark (bounded state; plain dropDuplicates would keep pair
      // state forever on an unbounded stream)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .drop("a_ts")
  }

  /** Deterministic fixed-size sample PER EVENT-TIME WINDOW on an
    * unbounded stream: each window keeps the n smallest (md5-bucket,
    * id) pairs via the bounded-heap `TopNSmallestByKey` aggregate — a
    * content-keyed reservoir whose state per open window is ≤ n pairs
    * by construction (a true random reservoir is neither reproducible
    * nor mergeable across partitions; this one is both, and selects
    * EXACTLY the rows the batch `Sampling.sampleFixedPerStratum` would
    * pick with the window as the stratum). Append mode emits each
    * window's selection once, when the watermark closes it.
    */
  def windowSampleStream(stream: DataFrame, idCol: String, tsCol: String,
                         windowDur: String, watermarkDur: String, n: Int,
                         salt: String = ""): DataFrame =
    stream.withWatermark(tsCol, watermarkDur)
      .groupBy(window(col(tsCol), windowDur))
      .agg(graft.plans.TopNFunctions.topn_smallest(
        substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
        col(idCol).cast("long"), n).as("sel"))
      .select(col("window.start").as("w_start"),
        explode(col("sel.id")).as("id"))

  /** Streaming interval join — the unbounded-input twin of
    * `AsOfJoin.joinRange`: every (left, right) pair sharing `keyCol`
    * with `right.ts` in `[left.ts + lo, left.ts + hi]`. Spelled as a
    * native stream-stream equi-join with an event-time range condition,
    * which is exactly the form Spark can bound state for: given
    * watermarks on both sides and the range bound, each side's buffer
    * retains only rows inside watermark + window — no unbounded state,
    * no batch backfill job. `lo`/`hi` are INTERVAL strings (streaming
    * watermarks require real timestamp columns, not epoch-nanos longs;
    * the batch operator's long arithmetic has no streaming analogue).
    * Output columns are prefixed `l_`/`r_` like the batch twin.
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, lo: String, hi: String,
                      watermarkDur: String): DataFrame = {
    val l = left.select(left.columns.map(c => col(c).as(s"l_$c")).toIndexedSeq: _*)
      .withWatermark(s"l_$tsCol", watermarkDur)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")).toIndexedSeq: _*)
      .withWatermark(s"r_$tsCol", watermarkDur)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
      col(s"r_$tsCol") >= col(s"l_$tsCol") + expr(s"INTERVAL $lo") &&
      col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $hi"))
  }

  /** Stateful streaming sessionization via `mapGroupsWithState` — the
    * unbounded-input twin of the batch `events_sessionize` query: per
    * user, a session counter advances whenever the gap to the previous
    * event exceeds `gapNs`. Emits the running (user_id, n_sessions,
    * n_events) in update mode. Events are ordered within each
    * micro-batch; cross-batch order follows arrival (the standard
    * contract for this pattern). NB: when `idleTimeoutMs` expires a key,
    * its running totals reset — a returning user restarts at session 1
    * (bounded state trades away monotone counters for expired keys).
    */
  def sessionizeStream(events: DataFrame, userCol: String, tsCol: String,
                       gapNs: Long, idleTimeoutMs: Long = 0L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // normalize ts to long nanos: timestamp types would otherwise cast to
    // epoch SECONDS and silently never exceed a nanosecond gap
    val tsNs = events.schema(tsCol).dataType match {
      case TimestampType    => (unix_micros(col(tsCol)) * 1000L).as("__ts")
      case TimestampNTZType =>
        (unix_micros(col(tsCol).cast(TimestampType)) * 1000L).as("__ts")
      case _                => col(tsCol).cast("long").as("__ts")
    }
    val timeout =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      // filter raw nulls BEFORE the cast: a null key/ts row is skipped,
      // while a non-numeric user id still fails loudly under ANSI mode
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).cast("long").as("__u"), tsNs)
      .where(col("__ts").isNotNull)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](timeout) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            val result = state.getOption.map(s => (user, s._2, s._3))
              .getOrElse((user, 0L, 0L))
            state.remove() // bound the state store for idle/churned keys
            result
          } else {
            var (lastTs, nSessions, nEvents) =
              state.getOption.getOrElse((0L, 0L, 0L))
            rows.map(_._2).toArray.sorted.foreach { ts =>
              if (nEvents == 0 || ts - lastTs > gapNs) nSessions += 1
              nEvents += 1
              // late arrivals merge into the current session but must not
              // move the frontier backwards
              lastTs = math.max(lastTs, ts)
            }
            state.update((lastTs, nSessions, nEvents))
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            (user, nSessions, nEvents)
          }
      }
      .toDF("user_id", "n_sessions", "n_events")
  }

  /** Online ANN serving: a static PQ index answers a STREAM of query
    * vectors — the production topology where the index is the big side
    * (billions of m-byte codes, disk-partitioned, loaded once) and the
    * queries arrive in bounded micro-batches. Call `answer` from
    * `foreachBatch`: the micro-batch's query vectors are collected to
    * the driver (bounded by contract — `maxQueriesPerBatch` enforces
    * it, the trigger sizes it) and the WHOLE batch is answered by ONE
    * codegen scan of the codes ([[graft.operators.Similarity.pqTopKFromCodes]]),
    * so per-micro-batch cost is one scan + a bounded-heap reduction
    * regardless of how many queries the trigger packed in. Queries are
    * external by default (`excludeSelf = false`: a query id is not a
    * corpus id). Per-query answers are independent, so the union of
    * micro-batch answers equals one batch answer over all queries —
    * `StreamingSpec` pins that equality.
    */
  final class PqServer(codes: DataFrame, cb: Array[Double], m: Int, k: Int,
                       kNN: Int, maxQueriesPerBatch: Int = 10000,
                       excludeSelf: Boolean = false) extends Serializable {
    def answer(microBatch: DataFrame, idCol: String = "id",
               vecCol: String = "embedding"): DataFrame = {
      val rows = microBatch
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .collect()
      require(rows.length <= maxQueriesPerBatch,
        s"micro-batch carries ${rows.length} queries > maxQueriesPerBatch " +
          s"$maxQueriesPerBatch — size the trigger down or raise the bound")
      if (rows.isEmpty) {
        val spark = codes.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("nid", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("adc", org.apache.spark.sql.types.DoubleType))))
      } else {
        // a null id or embedding in the query stream would otherwise
        // surface as an opaque NPE inside foreachBatch — fail with the
        // offending row instead, before anything is scanned
        rows.foreach { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1),
            s"PqServer: query micro-batch row has a null $idCol or $vecCol " +
              s"($r) — filter or fix the query stream upstream")
        }
        val queries = rows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        graft.operators.Similarity.pqTopKFromCodes(
          codes, cb, m, k, queries, kNN, excludeSelf = excludeSelf)
      }
    }
  }

  /** Continuous index ingest: the streaming twin of
    * [[graft.operators.Similarity.appendToIvfSqIndex]] — call from
    * `foreachBatch` to encode each embedding micro-batch with the
    * FROZEN quantizers (coarse cells + SQ bounds) and append its code
    * files into the persisted cell-partitioned layout. Per-micro-batch
    * cost is one encode scan of the batch plus file adds in its own
    * cells — never a corpus read — and serving keeps pruning to probed
    * cell directories throughout, so the index is queryable WHILE it
    * ingests. Union of micro-batch appends == one batch append == one
    * one-shot rebuild under the same frozen quantizers
    * (`StreamingSpec` pins the equality through a real stream).
    */
  def appendIvfSqBatch(microBatch: DataFrame, vecCol: String, idCol: String,
                       model: SomModel, sq: graft.operators.Similarity.SqModel,
                       path: String): Unit =
    graft.operators.Similarity.appendToIvfSqIndex(
      microBatch, vecCol, idCol, model, sq, path)

  /** Continuous LEXICAL index ingest: the streaming twin of
    * [[graft.operators.Retrieval.appendBm25Segment]] — call from
    * `foreachBatch`; micro-batch `batchId` becomes segment `b<batchId>`.
    * [[graft.operators.Retrieval.bm25TopKSegmented]] serves exact BM25
    * over whatever has arrived (df and corpus stats are recomputed over
    * survivors at serve time, so there is nothing to invalidate), and
    * [[graft.operators.Retrieval.compactBm25Index]] folds the
    * accumulated segments in place when their count starts to dominate
    * serve planning. A micro-batch replayed after its segment committed
    * (foreachBatch is at-least-once) finds the segment live and is
    * skipped.
    */
  def appendBm25SegmentBatch(microBatch: DataFrame, textCol: String,
                             idCol: String, name: String, path: String,
                             nBuckets: Int, batchId: Long): Unit =
    if (!graft.sources.IndexLog.snapshot(microBatch.sparkSession, path)
        .data.contains(s"b$batchId"))
      graft.operators.Retrieval.appendBm25Segment(
        microBatch, textCol, idCol, name, path, nBuckets, s"b$batchId")

  /** Incremental k-means (mini-batch, Sculley 2010 shape): call
    * `update` from `foreachBatch`. Cumulative per-cluster scale-9 sums
    * and counts accumulate across micro-batches — each batch is
    * assigned under the CURRENT centroids (`Kmeans.assignSums`: one
    * block pass, ≤ k buffers collected), then every
    * touched centroid moves to its cumulative exact mean. One update
    * over the whole dataset therefore equals one batch Lloyd's
    * iteration (spec-pinned); clusters no batch has touched keep their
    * initial centroid. Deterministic given the micro-batch sequence.
    */
  final class IncrementalKmeans(initial: graft.operators.Kmeans.Model)
      extends Serializable {
    import graft.operators.Kmeans
    @volatile private var c: Array[Array[Double]] =
      initial.centroids.map(_.clone())
    private val sums = Array.fill(initial.k)(new Array[Long](initial.dim))
    private val counts = new Array[Long](initial.k)

    def model: Kmeans.Model = Kmeans.Model(c.map(_.clone()))

    def update(batch: DataFrame, vecCol: String, idCol: String): Unit =
      synchronized {
        val next = c.map(_.clone())
        Kmeans.assignSums(batch, vecCol, idCol, Kmeans.Model(c))
          .foreach { case (cid, s, n) =>
            var d = 0
            while (d < initial.dim) {
              sums(cid)(d) = Math.addExact(sums(cid)(d), s(d)); d += 1
            }
            counts(cid) = Math.addExact(counts(cid), n)
            d = 0
            while (d < initial.dim) {
              next(cid)(d) = graft.plans.VecScale9Kernel.mean9(sums(cid)(d),
                counts(cid))
              d += 1
            }
          }
        c = next
      }
  }

  /** Incremental quality-gate training (mini-batch SGD): call `update`
    * from `foreachBatch` with a FEATURE frame
    * (`LogitTrain.features` applied to the micro-batch). Each batch
    * takes one gradient step at the current weights —
    * `w −= lr · mean(grad over the batch)` with the same scale-9
    * exact-sum arithmetic as the full-batch loop
    * ([[graft.operators.LogitTrain.applyStep]] is shared code), so ONE
    * update over the whole dataset equals `train(iters = 1)`
    * bit-for-bit (spec-pinned). Deterministic given the micro-batch
    * sequence; empty batches are no-ops.
    */
  final class IncrementalLogit(lr: Double,
                               initial: Array[Double] =
                                 new Array[Double](graft.operators.LogitTrain.dim))
      extends Serializable {
    import graft.operators.LogitTrain
    require(initial.length == LogitTrain.dim,
      s"expected ${LogitTrain.dim} initial weights, got ${initial.length}")
    @volatile private var w: Array[Double] = initial.clone()
    @volatile private var lastMse: Double = Double.NaN
    @volatile private var steps: Long = 0L

    def weights: Array[Double] = w.clone()
    def mse: Double = lastMse
    def stepCount: Long = steps

    def update(featBatch: DataFrame): Unit = synchronized {
      // no isEmpty pre-check: gradSums on an empty frame returns
      // (zero sums, n = 0) and the guard below makes it a no-op — an
      // isEmpty action would cost an extra Spark job per micro-batch
      val (s, n) = LogitTrain.gradSums(featBatch, w)
      if (n > 0) {
        val (w2, m) = LogitTrain.applyStep(w, s, n, lr)
        w = w2
        lastMse = m
        steps += 1
      }
    }
  }

  /** Incremental trainer: call `update` from `foreachBatch`. Each
    * micro-batch runs one epoch (one Spark job: the block epoch over one
    * un-cached pass of the batch) at the current position of the decay
    * schedule, capped at `totalEpochs` (after which eta/sigma stay at
    * their final values). A batch without a non-null feature row leaves
    * both the codebook and the schedule position unchanged.
    */
  final class IncrementalTrainer(som: Som, initial: Codebook,
                                 totalEpochs: Int) extends Serializable {
    require(totalEpochs >= 1, s"totalEpochs must be >= 1, got $totalEpochs")
    @volatile private var cb: Codebook = initial
    private var step = 0

    def codebook: Codebook = cb
    def model: SomModel = new SomModel(som.config, cb)

    def update(batch: DataFrame, featuresCol: String = "features"): Unit =
      synchronized {
        val data = graft.Parts.of(SomData.blocks(batch, featuresCol),
          Array.empty[Array[Float]])
        som.epoch(data, cb, math.min(step, totalEpochs - 1), totalEpochs)
          .foreach { next => cb = next; step += 1 }
      }
  }
}
