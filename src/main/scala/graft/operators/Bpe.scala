package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Parts
import graft.plans.{BpeFunctions, BpeKernels}

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, arXiv:1508.07909) and encoding — the "fit a subword
  * vocabulary to THIS corpus" step of a training-data pipeline.
  *
  * Scale shape: the only corpus-scale operation is the initial
  * word-count aggregation, whose shuffle carries per-doc DISTINCT
  * (token, tf) partial sums (the `token_tf` kernel keeps raw token
  * instances out of the exchange). Everything after runs on the
  * VOCABULARY (words x counts — millions of rows for a 100 TB corpus,
  * not billions), held as one block of symbol sequences per partition
  * ([[graft.Parts]]). The driver keeps the pair counts; each merge
  * rewrites, in every block, only the words that hold the chosen pair,
  * and sums the blocks' sparse pair-count deltas: the incremental
  * update of reference BPE trainers, one Spark job per merge. Each
  * merge's blocks are local-checkpointed by that job, so the lineage
  * stays one merge deep whatever the number of merges.
  *
  * Determinism: the argmax tie-breaks totally on (count desc, left
  * asc, right asc), strings in UTF-8 byte order; the greedy merge pass
  * is order-defined; the deltas are exact long sums; so the merge table
  * is a pure function of the corpus, whatever its partitioning and
  * whether the blocks sit on the cluster or on the driver
  * ([[localVocabThreshold]]). The oracle is an
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

  /** Vocabularies of at most this many words run the merge loop on the
    * driver, by the rule of [[graft.Parts.load]]. Corpus-scale work (the
    * word-count shuffle) is identical either way; what the driver form
    * removes is the one Spark job PER MERGE — for a 10k-word vocabulary
    * and 64 merges, 64 scheduled jobs doing microseconds of real work
    * each. 2M entries x ~60 bytes is ~100 MB of driver heap; a 100 TB
    * web-crawl vocabulary (tens of millions of distinct tokens) stays on
    * the cluster. Both forms run the same loop (`BpeSpec` pins them
    * equal on the same corpus).
    */
  val localVocabThreshold = 2000000L

  /** Learn `numMerges` merges. Returns (rank, left, right, n): rank
    * 1-based in learn order, (left, right) the merged symbol pair, n
    * its pair count at merge time. Stops early when no adjacent pair
    * reaches `minPairCount` (by default 2 — merging singletons adds
    * vocabulary without compression, the reference formulation's stop
    * condition). A vocabulary of at most `localThreshold` words is
    * merged on the driver (0 keeps it on the cluster).
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  minPairCount: Long = 2L,
                  localThreshold: Long = localVocabThreshold): DataFrame = {
    require(numMerges > 0, s"trainMerges needs numMerges > 0, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._

    val pairs = new PairTable
    // the job that reads the vocabulary also returns its pair counts
    val (loaded, counts) = Parts.load(wordCounts(docs, textCol).rdd.mapPartitions(rows =>
        Iterator(Vocab.of(rows.map(r => (r.getString(0), r.getLong(1)))))),
      Vocab.of(Iterator.empty), localThreshold)(_.counts.length.toLong, _.delta)
    var words = loaded
    // the blocks `words` was made from; released once `words` is cached
    var prev: Parts[Vocab] = null
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    try {
      counts.foreach(pairs.add)
      var best = pairs.best
      while (merges.length < numMerges && best.exists(_._2 >= minPairCount)) {
        val ((l, r), n) = best.get
        merges += ((merges.length + 1, l.toString, r.toString, n))
        prev = words
        words = words.map(_.merge(l, r)).checkpoint()
        // the one job per merge: caches `words` and returns its deltas
        pairs.add(words.map(_.delta).reduce(Vocab.addInto))
        prev.release()
        prev = null
        best = pairs.best
      }
    } finally {
      words.release()
      if (prev != null) prev.release()
    }
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  private type Pair = (UTF8String, UTF8String)
  /** Pair -> count, or a change of counts. */
  private type PairCounts = scala.collection.mutable.HashMap[Pair, Long]

  /** One partition's vocabulary: each word's symbols and count, and
    * `delta`, what the step that made this block changed in its pair
    * counts (for the first block, all of them).
    */
  private final case class Vocab(syms: Array[Array[UTF8String]], counts: Array[Long],
                                 delta: PairCounts) {
    /** This block after merging (l, r): the words holding the pair
      * rewritten, the others shared, and the delta of their pairs.
      */
    def merge(l: UTF8String, r: UTF8String): Vocab = {
      val delta = new PairCounts
      val out = syms.clone()
      var i = 0
      while (i < syms.length) {
        val m = BpeKernels.mergePair(syms(i), l, r)
        if (!(m eq syms(i))) {
          Vocab.addPairs(delta, syms(i), -counts(i))
          Vocab.addPairs(delta, m, counts(i))
          out(i) = m
        }
        i += 1
      }
      Vocab(out, counts, delta)
    }
  }

  private object Vocab {
    def of(words: Iterator[(String, Long)]): Vocab = {
      val (ws, ns) = words.toArray.unzip
      val syms = ws.map(w => BpeKernels.symbolize(UTF8String.fromString(w)))
      val delta = new PairCounts
      syms.indices.foreach(i => addPairs(delta, syms(i), ns(i)))
      Vocab(syms, ns, delta)
    }

    /** Adds `n` to the count of every adjacent pair of `syms`. */
    def addPairs(into: PairCounts, syms: Array[UTF8String], n: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        into.update(p, Math.addExact(into.getOrElse(p, 0L), n))
        i += 1
      }
    }

    /** `b` summed into `a`, exactly. */
    def addInto(a: PairCounts, b: PairCounts): PairCounts = {
      b.foreachEntry((p, n) => a.update(p, Math.addExact(a.getOrElse(p, 0L), n)))
      a
    }
  }

  /** The driver's pair counts, best first: count desc, then left and
    * right in UTF-8 byte order (`UTF8String.compareTo`, code-point
    * order, unlike `String`'s UTF-16 order).
    */
  private final class PairTable {
    private val counts = new PairCounts
    private val ranked = new java.util.TreeSet[(Pair, Long)](
      (a: (Pair, Long), b: (Pair, Long)) => {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c
        else {
          val cl = a._1._1.compareTo(b._1._1)
          if (cl != 0) cl else a._1._2.compareTo(b._1._2)
        }
      })

    def add(delta: PairCounts): Unit = delta.foreachEntry { (p, d) =>
      val old = counts.getOrElse(p, 0L)
      if (old > 0) ranked.remove((p, old))
      val now = Math.addExact(old, d)
      if (now > 0) { counts.update(p, now); ranked.add((p, now)) }
      else counts.remove(p)
    }

    def best: Option[(Pair, Long)] =
      if (ranked.isEmpty) None else Some(ranked.first())
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
