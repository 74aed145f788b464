package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
  * arXiv:2302.03169): score every raw-corpus document by how much more
  * likely its hashed-token profile is under a target distribution than
  * under the raw distribution, then keep the top-scoring documents.
  * The standard recipe for steering a 100 TB crawl toward a small
  * high-quality target set (a benchmark, a curated corpus) without
  * training a classifier.
  *
  * Features are hashed unigrams: token -> md5-prefix bucket in
  * [0, buckets). Per-bucket probabilities use add-one smoothing, so
  * every bucket has a finite log-ratio even when one side never hits
  * it.
  *
  * Scale shape:
  *  - both corpora reduce to (bucket, count) histograms — the only
  *    full-corpus aggregations, and they shuffle `buckets`-bounded
  *    partial sums (map-side combine), never tokens;
  *  - the log-ratio table is `buckets` rows, broadcast to the scoring
  *    pass; scoring shuffles per-doc DISTINCT (doc, bucket)
  *    contributions — vocabulary-shaped, a fraction of token volume;
  *  - selection reduces through the bounded-heap
  *    `topn_smallest_by_double` aggregate (k rows per partition cross
  *    the wire, no global sort, no per-key window).
  *
  * Determinism: log-ratios round to 9 decimals and become
  * DECIMAL(18,9); per-doc weights are DECIMAL sums of tf x ratio —
  * exact and order-independent, so weights and the (weight desc,
  * doc_id asc) selection cut are bit-stable across partitionings and
  * engines (the DuckDB oracle replays the identical arithmetic,
  * including the md5 bucket hash).
  */
object Dsir {

  /** md5-prefix hash bucket in [0, buckets): the first 8 hex chars as
    * an unsigned 32-bit value, mod buckets. Engine-portable: DuckDB
    * spells it `('0x' || substr(md5(t), 1, 8))::BIGINT % buckets`.
    * Computed by the fused [[graft.plans.Md5PrefixLong]] kernel —
    * bit-identical to the `conv(substr(md5(t),1,8),16,10)` spelling
    * (spec-pinned) without the per-row hex-string/substring/conv-parse
    * allocations, which were ~70% of the bucketing scan's pair-stream
    * cost (OPTIMIZATION_r11.md §8).
    */
  def hashBucket(token: Column, buckets: Int): Column =
    graft.plans.GraftFunctions.md5_prefix_long(token, 8) % buckets

  /** Per-document (bucket, tf) pairs — per-doc distinct terms from the
    * one-pass `token_tf` kernel, bucketed; no shuffle (the document is
    * the group).
    */
  def bucketPairs(df: DataFrame, textCol: String, idCol: String,
                  buckets: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.plans.GraftFunctions.token_tf(col(textCol))).as("kv"))
      .select(col("doc_id"),
        hashBucket(col("kv.token"), buckets).as("bucket"),
        col("kv.tf").as("tf"))

  /** The `buckets`-row log importance-ratio table:
    * `round(ln p_target(b) - ln p_raw(b), 9)` as DECIMAL(18,9), with
    * add-one smoothing over token-instance counts. Absent buckets get
    * the smoothed floor on the side that never saw them.
    */
  def logRatios(target: DataFrame, raw: DataFrame, textCol: String,
                idCol: String, buckets: Int): DataFrame = {
    val spark = target.sparkSession
    import spark.implicits._
    // the histograms are <= `buckets` rows by construction — collect
    // them ONCE and rebuild the dense ratio table as a literal frame.
    // Leaving them lazy would re-run each corpus-scale aggregation
    // subtree twice (once for the per-bucket join, once for its total):
    // one target scan + one raw scan is the floor, and this hits it.
    def histogram(df: DataFrame): Map[Long, Long] =
      bucketPairs(df, textCol, idCol, buckets)
        .groupBy("bucket").agg(sum(col("tf")).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = histogram(target)
    val rc = histogram(raw)
    val nt = tc.values.sum // exact longs: engine-independent totals
    val nr = rc.values.sum
    // dense spine so absent buckets still carry their smoothed ratio (a
    // scoring-time inner join must find every bucket). The arithmetic
    // is spelled exactly as the DuckDB oracle spells it — (count + 1.0)
    // over CAST(total + buckets AS DOUBLE) — so the doubles agree
    // bitwise.
    val spine = (0L until buckets.toLong)
      .map(b => (b, tc.getOrElse(b, 0L), rc.getOrElse(b, 0L)))
      .toDF("bucket", "ct", "cr")
    val lnT = log((col("ct") + lit(1.0)) / lit((nt + buckets).toDouble))
    val lnR = log((col("cr") + lit(1.0)) / lit((nr + buckets).toDouble))
    spine.select(col("bucket"),
      round(lnT - lnR, 9).cast(DecimalType(18, 9)).as("lnr"))
  }

  /** Per-document log importance weight: the DECIMAL-exact sum of
    * tf x log-ratio over the document's buckets. Documents with no
    * tokens have no profile and are absent (the CE queries'
    * convention).
    */
  def logWeights(raw: DataFrame, textCol: String, idCol: String,
                 ratios: DataFrame, buckets: Int): DataFrame =
    bucketPairs(raw, textCol, idCol, buckets)
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("tf").cast(DecimalType(10, 0)) * col("lnr")).as("wdec"))
      .select(col("doc_id"), col("wdec").cast("double").as("weight"))

  /** Top-k selection by (weight desc, doc_id asc) — the deterministic
    * "take the most target-like documents" cut. Returns
    * (rank, doc_id, weight), rank 1..k.
    */
  def selectTopK(weights: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"selectTopK needs k > 0, got $k")
    weights
      .agg(graft.plans.TopNFunctions.topn_smallest_by_double(
        negate(col("weight")), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("r", "p")))
      .select((col("r") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), negate(col("p.s")).as("weight"))
  }
}
