package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{BpeFunctions, BpeKernels}

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, arXiv:1508.07909) and encoding — the "fit a subword
  * vocabulary to THIS corpus" step of a training-data pipeline.
  *
  * Scale shape: the only corpus-scale operation is the initial
  * word-count aggregation, whose shuffle carries per-doc DISTINCT
  * (token, tf) partial sums (the `token_tf` kernel keeps raw token
  * instances out of the exchange). Everything after runs on the
  * VOCABULARY table (words x counts — millions of rows for a 100 TB
  * corpus, not billions): each merge round is one vocabulary-sized
  * adjacent-pair aggregation, a single-row argmax collect, and a
  * kernel rewrite of the symbol column. Lineage is truncated with an
  * eager `localCheckpoint` every round, so the plan never grows with
  * the number of merges; per-round cost is flat in corpus size once
  * word counts exist.
  *
  * Determinism: the argmax tie-breaks totally on (count desc, left
  * asc, right asc), strings in UTF-8 byte order; the greedy merge pass
  * is order-defined; so the merge table is a pure function of the
  * corpus. One merge loop runs over two row sources — the distributed
  * vocabulary table, or (at most [[localVocabThreshold]] words) the
  * same table collected — and both call the same symbolize and merge
  * kernels. The oracle is an
  * INDEPENDENT Python implementation (tools/gen_bpe_oracle.py) whose
  * expected rows the driver's DuckDB gate replays, plus a naive
  * from-the-paper Scala re-implementation differential-tested in
  * `BpeSpec`.
  */
object Bpe {

  /** (word, n) corpus word counts — the trainer's input, exposed for
    * reuse. One shuffle of per-doc distinct (token, tf) partials.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(explode(graft.plans.GraftFunctions.token_tf(col(textCol))).as("kv"))
      .groupBy(col("kv.token").as("word"))
      .agg(sum(col("kv.tf")).as("n"))

  /** Learn `numMerges` merges. Returns (rank, left, right, n): rank
    * 1-based in learn order, (left, right) the merged symbol pair, n
    * its pair count at merge time. Stops early when no adjacent pair
    * reaches `minPairCount` (by default 2 — merging singletons adds
    * vocabulary without compression, the reference formulation's stop
    * condition).
    */
  /** Vocabulary size at or under which the merge loop runs over the
    * collected (word, count) table instead of the distributed one.
    * Corpus-scale work (the word-count shuffle) is identical either
    * way; what the collected form removes is the 2-Spark-jobs-PER-MERGE
    * floor (pair aggregation + checkpoint materialization) — for a
    * 10k-word vocabulary and 64 merges that is 128 scheduled jobs doing
    * microseconds of real work each. 2M entries x ~60 bytes is ~100 MB
    * of driver heap, well inside the probe/driver sizing; a 100 TB
    * web-crawl vocabulary (tens of millions of distinct tokens) stays
    * on the distributed loop. Both forms run the same kernels
    * (`bpe_symbolize`/`bpe_merge_pair`) with the same byte-order
    * tie-break (`BpeSpec` pins local == distributed on the same corpus).
    */
  val localVocabThreshold = 2000000L

  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  minPairCount: Long = 2L,
                  localThreshold: Long = localVocabThreshold): DataFrame = {
    require(numMerges > 0, s"trainMerges needs numMerges > 0, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._

    val wc = wordCounts(docs, textCol)
    if (localThreshold > 0) {
      // cap-and-collect probe: one job that either returns the whole
      // vocabulary or proves it is too big (same contract as the
      // tiny-input training fast path)
      val capped = wc.limit((math.min(localThreshold, Int.MaxValue - 1L) + 1).toInt)
        .collect()
      if (capped.length <= localThreshold)
        return trainMergesLocal(
          capped.map(r => (UTF8String.fromString(r.getString(0)), r.getLong(1))),
          numMerges, minPairCount).toSeq.toDF("rank", "left", "right", "n")
    }

    var words = wc
      .select(BpeFunctions.bpe_symbolize(col("word")).as("syms"), col("n"))
      .localCheckpoint(true)

    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var exhausted = false
    while (round <= numMerges && !exhausted) {
      // adjacent symbol pairs weighted by word count; the aggregation
      // is vocabulary-sized and combines map-side
      val best = words
        .where(size(col("syms")) >= 2)
        .select(col("n"),
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("la"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("lb"))
        .select(col("n"), explode(arrays_zip(col("la"), col("lb"))).as("p"))
        .groupBy(col("p.la").as("left"), col("p.lb").as("right"))
        .agg(sum(col("n")).as("pn"))
        .orderBy(col("pn").desc, col("left"), col("right"))
        .limit(1)
        .collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) exhausted = true
      else {
        val (l, r, pn) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((round, l, r, pn))
        val prev = words
        words = words
          .select(BpeFunctions.bpe_merge_pair(col("syms"), l, r).as("syms"),
            col("n"))
          .localCheckpoint(true) // plan stays one rewrite deep per round
        prev.unpersist(blocking = false)
        round += 1
      }
    }
    words.unpersist(blocking = false)
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** The merge loop over the collected vocabulary: the distributed
    * rounds' own kernels ([[BpeKernels.symbolize]],
    * [[BpeKernels.mergePair]]) and their tie-break, (count desc, left
    * asc, right asc) with `UTF8String.compareTo` — the byte order the
    * rounds' `orderBy` uses (code-point order, unlike `String`'s UTF-16
    * order).
    */
  private def trainMergesLocal(wordCounts: Array[(UTF8String, Long)],
                               numMerges: Int, minPairCount: Long)
      : Array[(Int, String, String, Long)] = {
    var words = wordCounts.map { case (w, n) => (BpeKernels.symbolize(w), n) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var done = false
    while (round <= numMerges && !done) {
      // adjacent symbol pairs weighted by word count
      val pairs = new java.util.HashMap[(UTF8String, UTF8String), java.lang.Long]()
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.numElements() - 1) {
          val key = (syms.getUTF8String(i), syms.getUTF8String(i + 1))
          val prev = pairs.get(key)
          pairs.put(key, if (prev == null) n else prev + n)
          i += 1
        }
      }
      var bestL: UTF8String = null; var bestR: UTF8String = null; var bestN = 0L
      pairs.forEach { (pair, count) =>
        val (l, r) = pair
        val n = count.longValue
        val better =
          if (bestL == null) true
          else if (n != bestN) n > bestN
          else {
            val c = l.compareTo(bestL)
            if (c != 0) c < 0 else r.compareTo(bestR) < 0
          }
        if (better) { bestL = l; bestR = r; bestN = n }
      }
      if (bestL == null || bestN < minPairCount) done = true
      else {
        merges += ((round, bestL.toString, bestR.toString, bestN))
        words = words.map { case (syms, n) =>
          (BpeKernels.mergePair(syms, bestL, bestR), n)
        }
        round += 1
      }
    }
    merges.toArray
  }

  /** Collect a merge table into the driver-side (left, right) list the
    * encode kernel ships — bounded by numMerges, by construction.
    */
  def collectMerges(mergesDf: DataFrame): Seq[(String, String)] =
    mergesDf.orderBy("rank").collect()
      .map(row => (row.getAs[String]("left"), row.getAs[String]("right"))).toSeq

  /** Encode every document with a learned merge table: (id, subwords).
    * One kernel pass per row (tokenize + per-word merge loop with a
    * per-thread word cache), no shuffle.
    */
  def encode(docs: DataFrame, textCol: String, idCol: String,
             merges: Seq[(String, String)]): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        BpeFunctions.bpe_encode(
          graft.plans.GraftFunctions.tokens_of(col(textCol)), merges)
          .as("subwords"))

  /** Per-document encode statistics: whitespace token count, subword
    * count, and their ratio (the "fertility" a tokenizer team watches
    * when sizing a vocabulary). Ratio rounds to 6 decimals.
    */
  def encodeStats(docs: DataFrame, textCol: String, idCol: String,
                  merges: Seq[(String, String)]): DataFrame =
    // token array materialized as a child-projection attribute: ONE
    // tokenizer eval per row feeds both the count and the encoder
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.plans.GraftFunctions.tokens_of(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tok"),
        size(BpeFunctions.bpe_encode(col("__t"), merges)).cast("long")
          .as("n_subwords"))
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"), col("n_subwords"),
        round(col("n_subwords").cast("double") /
          col("n_tok").cast("double"), 6).as("fertility"))
}
