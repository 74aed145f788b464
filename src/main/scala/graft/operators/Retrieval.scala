package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFunctions

/** Full-text retrieval over a document corpus: BM25 scoring of a small
  * query batch against every document, top-k per query.
  *
  * This is the retrieval half of a training-data curation loop (mine
  * documents matching benchmark/eval queries, audit what a corpus
  * contains for a topic) and the lexical complement of the embedding
  * ANN path in [[Similarity]].
  *
  * Scale shape (the part that matters at 100 TB):
  *  - the query batch is driver-literal and broadcast — the corpus
  *    never shuffles on anything query-sized;
  *  - per-document `(token, tf)` pairs come from the one-pass
  *    `token_tf` kernel and are filtered to the query vocabulary by a
  *    broadcast join BEFORE any exchange, so every shuffle in the plan
  *    carries query-vocabulary-shaped rows (docs x |query terms|
  *    matches, never total token instances);
  *  - corpus statistics (N, total length) and per-term document
  *    frequencies are partial-aggregated (map-side combine) and
  *    broadcast back — each is at most |query vocabulary| rows;
  *  - per-(query, doc) scores reduce through the bounded-heap
  *    `topn_smallest_by_double` aggregate, so each map task emits at
  *    most k candidates per query before the shuffle and no window
  *    function ever pins a query's full candidate set to one task.
  *
  * Determinism: per-term contributions round to 9 decimals and sum as
  * DECIMAL(28,9) — exact and order-independent, so the scores (and the
  * (score desc, doc_id asc) top-k cut) are bit-stable across
  * partitionings and engines; the DuckDB oracle replays the identical
  * formula.
  */
object Retrieval {

  /** Driver-side query tokenization (tiny, literal batches) — same
    * lower+whitespace semantics as `TextKernels.tokensOf`.
    */
  private def queryTerms(queries: Seq[(Long, String)]): Seq[(Long, String)] = {
    require(queries.nonEmpty, "bm25 needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25 query ids must be distinct")
    val qTerms = queries.flatMap { case (qid, q) =>
      q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    require(qTerms.nonEmpty, "bm25 queries contain no tokens")
    qTerms
  }

  /** The per-(query, doc, term) BM25 contribution over attribute
    * columns (tf, df, dl, n_docs, sum_dl): 6-dp-rounded Lucene idf x
    * Robertson tf norm, rounded to 9 decimals as DECIMAL(28,9) so the
    * per-(query, doc) sum is order-independent. ONE definition —
    * the scan path, the serving index, and (transitively) the DuckDB
    * oracle's spelled-out copy stay bitwise-identical by construction.
    */
  private def contribCol(k1: Double, b: Double): Column = {
    val tfD = col("tf").cast("double")
    val dlNorm = col("dl").cast("double") /
      (col("sum_dl").cast("double") / col("n_docs").cast("double"))
    val idf = round(log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))), 6)
    val norm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlNorm))
    round(idf * norm, 9).cast(DecimalType(28, 9))
  }

  /** DECIMAL-exact per-(query, doc) score reduction + bounded-heap
    * top-k on (-score, doc_id): ascending heap order == (score desc,
    * doc_id asc) — deterministic under score ties, at most k rows per
    * partition per query cross the wire.
    */
  private def topKByScore(contrib: DataFrame, k: Int): DataFrame =
    contrib.groupBy("qid", "doc_id")
      .agg(sum(col("c")).as("sdec"))
      .select(col("qid"), col("doc_id"),
        col("sdec").cast("double").as("score"))
      .groupBy("qid")
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("score")), col("doc_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), negate(col("p.s")).as("score"))

  /** BM25 top-k per query. `queries` are (qid, free text); text is
    * tokenized with the corpus tokenizer's semantics (lower,
    * whitespace). Returns (qid, rank, doc_id, score) with rank 1..k in
    * (score desc, doc_id asc) order; queries none of whose terms occur
    * in the corpus return no rows.
    *
    * k1/b are the standard Robertson defaults; idf is the
    * non-negative `ln(1 + (N - df + 0.5)/(df + 0.5))` variant (Lucene's
    * choice), so rare-term contributions stay positive.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: Seq[(Long, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"bm25TopK needs k > 0, got $k")
    val spark = docs.sparkSession
    import spark.implicits._

    val qTerms = queryTerms(queries)
    val qdf = broadcast(qTerms.toDF("qid", "token"))
    val qvocab = broadcast(qTerms.map(_._2).distinct.toDF("token"))

    // one schema-narrow pass over the corpus: id, doc length, and the
    // per-doc (token, tf) pairs (two fused kernel evals per row, no
    // shuffle — the document is the group)
    val d = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
        graft.plans.GraftFunctions.token_tf(col(textCol)).as("__kvs"))

    // corpus stats: exact longs (count + sum of longs), so avgdl is the
    // same double on every engine and partitioning
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    // (doc, term, tf) restricted to the query vocabulary BEFORE any
    // shuffle — the broadcast inner join is the filter
    val pairs = d
      .select(col("doc_id"), col("dl"), explode(col("__kvs")).as("kv"))
      .select(col("doc_id"), col("dl"),
        col("kv.token").as("token"), col("kv.tf").as("tf"))
      .join(qvocab, Seq("token"))

    // document frequency per query term: `pairs` rows are per-doc
    // DISTINCT terms, so count(*) IS df; ≤ |query vocab| rows out
    val dfs = pairs.groupBy("token").agg(count(lit(1)).as("df"))

    // per-(query, doc, term) contribution via the shared formula
    // (spelled identically by the DuckDB oracle — bitwise parity)
    val contrib = pairs
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .join(qdf, Seq("token"))
      .select(col("qid"), col("doc_id"), contribCol(k1, b).as("c"))

    topKByScore(contrib, k)
  }

  /** Build a BM25 SERVING index: the repeated-query path. The scan
    * form above re-reads the corpus per batch (three passes); this
    * amortizes everything corpus-sized into a one-time build —
    * postings `(token, doc_id, tf, dl, df)` (df denormalized onto each
    * row so serving never joins a frequency table) written as a
    * token-bucketed, token-sorted table, plus a 1-row stats file
    * (`<path>_stats`). Serving then reads ONLY the buckets holding the
    * batch's terms (Spark bucket pruning on the `isin` filter —
    * `RetrievalSpec` pins SelectedBucketsCount < total), so per-batch
    * cost is bounded by the query vocabulary's postings, flat in
    * corpus size.
    *
    * The build is one corpus scan + ONE token shuffle — the exchange
    * the bucketed write needs anyway. Document frequencies come from a
    * count window over the already-shuffled postings, not a separate
    * aggregate + join: the postings cross the wire once instead of
    * three times (agg, join, re-bucket), which cut the 200k-doc build
    * from 8.6 s to 5.2 s (COVERAGE.md, BM25 index). A hot token (stopword at
    * 100 TB) makes one window group in one task — but the token-
    * bucketed LAYOUT already serializes that token's postings through
    * one bucket writer, so the window adds no new skew ceiling, and
    * WindowExec spills; the write's `sortBy(token)` reuses the
    * window's sort order.
    */
  def writeBm25Index(docs: DataFrame, textCol: String, idCol: String,
                     name: String, path: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"writeBm25Index needs nBuckets > 0, got $nBuckets")
    val spark = docs.sparkSession
    val d = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
        graft.plans.GraftFunctions.token_tf(col(textCol)).as("__kvs"))
    val pairs = d
      .select(col("doc_id"), col("dl"), explode(col("__kvs")).as("kv"))
      .select(col("kv.token").as("token"), col("doc_id"), col("dl"),
        col("kv.tf").as("tf"))
    val full = pairs
      .repartition(nBuckets, col("token")) // THE bucket exchange (explicit count: AQE never coalesces it)
      .withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("token")))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"), col("df"))
    graft.sources.Bucketed.writeBucketed(full, name, path, "token", nBuckets,
      compactFirst = false) // already one bucket per task

    d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(path + "_stats")
  }

  /** Serve a query batch from a [[writeBm25Index]] index: same output,
    * same arithmetic, same (score desc, doc_id asc) cut as
    * [[bm25TopK]] (`RetrievalSpec` pins row-for-row equality) — but
    * the only corpus-sized input is the bucket-pruned postings scan
    * for the batch's terms.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      name: String, path: String,
                      queries: Seq[(Long, String)], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"bm25TopKIndexed needs k > 0, got $k")
    import spark.implicits._
    val qTerms = queryTerms(queries)
    val qdf = broadcast(qTerms.toDF("qid", "token"))
    val terms = qTerms.map(_._2).distinct
    val stats = spark.read.parquet(path + "_stats") // 1 row
    val contrib = graft.sources.Bucketed.table(spark, name)
      .where(col("token").isin(terms: _*)) // bucket-pruned scan
      .crossJoin(broadcast(stats))
      .join(qdf, Seq("token"))
      .select(col("qid"), col("doc_id"), contribCol(k1, b).as("c"))
    topKByScore(contrib, k)
  }

  // --------------------------------------------- segmented (appendable)

  /** Append `docs` as a NEW SEGMENT of a segmented BM25 index rooted
    * at `path` — the lexical sibling of the IVF append: nightly
    * batches become segments, never rebuilds. Layout per segment `s`
    * (catalog table `<name>__<s>`):
    *
    *   <path>/seg_<s>/        postings (token, doc_id, tf, dl),
    *                          token-bucketed + token-sorted
    *   <path>/seg_<s>_stats/  1 row (n_docs, sum_dl) — exact longs
    *   <path>/seg_<s>_docs/   (doc_id, dl) doc-values, the exact
    *                          stats correction table for deletes
    *
    * The live segments and deletes are what the newest
    * [[graft.sources.IndexLog]] manifest lists: the append writes the
    * segment's files, then commits its name. A name that is already
    * live is rejected before anything is written; the name of a segment
    * that never committed or was compacted away may be used again.
    * Append cost is segment-sized: one scan of the new docs + one token
    * shuffle.
    *
    * Unlike [[writeBm25Index]], df is NOT stored: a cross-segment df
    * would be invalidated by every append (df is corpus-global). The
    * serve path's bucket-pruned scan reads every surviving posting of
    * each queried term ANYWAY, so [[bm25TopKSegmented]] recomputes df
    * exactly there with one map-side-combined per-term aggregate —
    * which makes appends AND deletes exact by construction instead of
    * by invalidation. Segments must carry disjoint doc_ids (the same
    * contract as the IVF appends).
    */
  def appendBm25Segment(docs: DataFrame, textCol: String, idCol: String,
                        name: String, path: String, nBuckets: Int,
                        segment: String): Unit = {
    require(nBuckets > 0, s"appendBm25Segment needs nBuckets > 0, got $nBuckets")
    require(segment.matches("[A-Za-z0-9_-]+"),
      s"segment must be a plain token, got '$segment'")
    val spark = docs.sparkSession
    require(!graft.sources.IndexLog.snapshot(spark, path).data.contains(segment),
      s"segment '$segment' is already live in $path")
    // three write actions (postings, stats, doc-values) share ONE
    // tokenization scan via the persist — without it each action
    // re-runs the text scan + token kernels over the whole batch
    val d = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
        graft.plans.GraftFunctions.token_tf(col(textCol)).as("__kvs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = d
        .select(col("doc_id"), col("dl"), explode(col("__kvs")).as("kv"))
        .select(col("kv.token").as("token"), col("doc_id"), col("dl"),
          col("kv.tf").as("tf"))
      writeSegment(pairs, d.select(col("doc_id"), col("dl")), name, path,
        nBuckets, segment)
    } finally d.unpersist(blocking = false)
    graft.sources.IndexLog.append(spark, path, segment)
  }

  /** The files of segment `seg` — an append's or a compaction's, before
    * its commit: bucketed `postings`, and from the `(doc_id, dl)`
    * doc-values the 1-row stats and the doc-values. Every segment's
    * postings carry one column order, (token, doc_id, dl, tf), because
    * the serve unions segments by position (a compaction's anti-join
    * puts `doc_id` first).
    */
  private[graft] def writeSegment(postings: DataFrame, docValues: DataFrame,
                                  name: String, path: String, nBuckets: Int,
                                  seg: String): Unit = {
    graft.sources.Bucketed.writeBucketed(
      postings.select("token", "doc_id", "dl", "tf"), s"${name}__$seg",
      s"$path/seg_$seg", "token", nBuckets)
    docValues.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/seg_${seg}_stats")
    docValues.write.mode("overwrite").parquet(s"$path/seg_${seg}_docs")
  }

  /** One read of a file kind (`stats` or `docs`) across `segs`. */
  private def segmentTable(spark: org.apache.spark.sql.SparkSession,
                           path: String, segs: Seq[String], kind: String,
                           schema: String): DataFrame =
    spark.read.schema(schema).parquet(segs.map(s => s"$path/seg_${s}_$kind"): _*)

  /** The distinct doc_ids `snap` tombstones, broadcast; None without any. */
  private def deadDocs(spark: org.apache.spark.sql.SparkSession, path: String,
                       snap: graft.sources.IndexLog.Snapshot): Option[DataFrame] =
    graft.sources.IndexLog.tombstones(spark, path, snap, "doc_id")
      .map(t => broadcast(t.distinct()))

  /** Tombstone doc_ids out of a segmented BM25 index — one id-list
    * tombstone file of the index's log, the immutable segment files
    * untouched (the IVF tombstone contract). [[bm25TopKSegmented]]
    * drops them at serve; [[compactBm25Index]] folds them for real.
    */
  def deleteFromBm25Index(ids: DataFrame, idCol: String, path: String): Unit =
    graft.sources.IndexLog.delete(
      ids.select(col(idCol).cast("long").as("doc_id")), path)

  /** Serve a query batch from a segmented index as its newest manifest
    * lists it: per live segment one bucket-pruned postings scan,
    * unioned; tombstoned docs anti-joined out; df recomputed EXACTLY
    * over the surviving scanned rows (a map-side-combined per-token
    * count — each posting row is a distinct (doc, term), so count(*)
    * per token IS df — broadcast-joined back, so no posting row
    * re-shuffles); corpus stats = Σ segment stats minus the tombstoned
    * docs' doc-values (exact longs). Output is row-for-row what
    * [[bm25TopK]] returns over the surviving corpus — the spec and
    * the `bm25_segmented` oracle pin it.
    */
  def bm25TopKSegmented(spark: org.apache.spark.sql.SparkSession,
                        name: String, path: String,
                        queries: Seq[(Long, String)], k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"bm25TopKSegmented needs k > 0, got $k")
    import spark.implicits._
    val qTerms = queryTerms(queries)
    val qdf = broadcast(qTerms.toDF("qid", "token"))
    val terms = qTerms.map(_._2).distinct
    val snap = graft.sources.IndexLog.snapshot(spark, path)
    val segs = snap.data
    require(segs.nonEmpty, s"no segments under $path")
    val tomb = deadDocs(spark, path, snap)

    val scanned = segs.map { s =>
      graft.sources.Bucketed.table(spark, s"${name}__$s")
        .where(col("token").isin(terms: _*)) // bucket-pruned per segment
    }.reduce(_ union _)
    val posts = tomb.fold(scanned)(t => scanned.join(t, Seq("doc_id"), "left_anti"))

    val statsAll = segmentTable(spark, path, segs, "stats",
        "n_docs LONG, sum_dl LONG")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    val stats = tomb match {
      case None => statsAll
      case Some(t) =>
        val dead = segmentTable(spark, path, segs, "docs", "doc_id LONG, dl LONG")
          .join(t, Seq("doc_id"))
          .agg(count(lit(1)).as("dead_n"),
            coalesce(sum("dl"), lit(0L)).as("dead_dl"))
        statsAll.crossJoin(dead)
          .select((col("n_docs") - col("dead_n")).as("n_docs"),
            (col("sum_dl") - col("dead_dl")).as("sum_dl"))
    }

    // df per term = count of surviving postings (each posting row is a
    // distinct (doc, term)) via a MAP-SIDE-COMBINED aggregate, broadcast
    // back — the bm25TopK spelling. The previous count(*) window over
    // the unioned postings forced an Exchange of every scanned posting
    // row (the union of per-segment bucketed tables does not preserve
    // bucketing) AND pinned each hot token's full posting list on ONE
    // task at serve time; the aggregate reduces every partition to
    // ≤ |query vocab| rows before its exchange and re-attaches df with
    // a broadcast join, so NO posting row is ever re-shuffled at serve.
    // Same df values by construction — count per token either way.
    val dfs = posts.groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = posts
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .join(qdf, Seq("token"))
      .select(col("qid"), col("doc_id"), contribCol(k1, b).as("c"))
    topKByScore(contrib, k)
  }

  /** Fold a segmented index into ONE new segment in place: the newest
    * snapshot's surviving postings (its tombstones applied) re-bucket
    * once, stats and doc-values recompute from the survivors, and the
    * new segment replaces exactly the snapshot's segments and
    * tombstones by [[graft.sources.IndexLog]]'s commit rule — segments
    * appended and deletes committed while the fold ran stay live. The
    * maintenance pass that bounds per-serve segment fan-out — run it
    * when segment count (not data size) starts to dominate serve
    * planning.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       name: String, path: String, nBuckets: Int): Unit =
    compactBm25Snapshot(spark, name, path,
      graft.sources.IndexLog.snapshot(spark, path), nBuckets)

  /** [[compactBm25Index]] of a given snapshot `snap` of `path`. */
  private[graft] def compactBm25Snapshot(spark: org.apache.spark.sql.SparkSession,
                                         name: String, path: String,
                                         snap: graft.sources.IndexLog.Snapshot,
                                         nBuckets: Int): Unit = {
    require(nBuckets > 0, s"compactBm25Index needs nBuckets > 0, got $nBuckets")
    require(snap.data.nonEmpty, s"no segments under $path")
    val tomb = deadDocs(spark, path, snap)
    val all = snap.data.map(s =>
      graft.sources.Bucketed.table(spark, s"${name}__$s")).reduce(_ union _)
    val dv = segmentTable(spark, path, snap.data, "docs", "doc_id LONG, dl LONG")
    val seg = s"c${graft.sources.IndexLog.freshName()}"
    writeSegment(tomb.fold(all)(t => all.join(t, Seq("doc_id"), "left_anti")),
      tomb.fold(dv)(t => dv.join(t, Seq("doc_id"), "left_anti")),
      name, path, nBuckets, seg)
    graft.sources.IndexLog.replace(spark, path, snap, Seq(seg))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    * of per-query rankings — the standard calibration-free way to
    * combine lexical ([[bm25TopK]]) and embedding
    * ([[Similarity.bruteForceTopK]] and friends) retrieval into one
    * hybrid ranking: every list contributes `1 / (kRrf + rank)` for
    * each (qid, id) it ranks, items sum contributions across lists,
    * and ties break on the lower id. A qid present in only some lists
    * fuses over those lists alone; kRrf = 60 is the paper's constant.
    *
    * Each input must expose `qid`, `rank` (1-based) and `idCol`
    * columns (rename first when a ranking calls its id something else,
    * e.g. the ANN paths' `nid`); extra columns are ignored.
    *
    * Scale shape: the inputs are already top-k-bounded, so fusion cost
    * is independent of corpus size by construction — the union carries
    * at most |lists| x |queries| x k rows, the per-(qid, id) sum
    * partial-aggregates map-side, and the final cut reuses the
    * bounded-heap (score desc, id asc) reduction. Determinism: the
    * shared BM25 convention — contributions round to 9 decimals as
    * DECIMAL(28,9) and sum exactly, order-independent.
    *
    * Returns (qid, rank, doc_id, score) with rank 1..topK.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String = "doc_id",
              kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf > 0, s"rrfFuse needs kRrf > 0, got $kRrf")
    require(topK > 0, s"rrfFuse needs topK > 0, got $topK")
    val contribs = rankings.map { r =>
      r.select(col("qid").cast("long").as("qid"),
        col(idCol).cast("long").as("doc_id"),
        round(lit(1.0) / (lit(kRrf.toDouble) + col("rank").cast("double")), 9)
          .cast(DecimalType(28, 9)).as("c"))
    }
    topKByScore(contribs.reduce(_ union _), topK)
  }
}
