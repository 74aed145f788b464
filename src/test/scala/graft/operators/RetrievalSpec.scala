package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 retrieval coverage: hand-computed scores on a toy corpus, the
  * deterministic (score desc, doc_id asc) cut, and partitioning
  * invariance of the DECIMAL score sums.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "apple banana apple"),
    (1L, "apple cherry"),
    (2L, "banana banana banana date"),
    (3L, "elderberry fig"),
    (4L, "Apple BANANA") // tokenizer lowers: matches apple/banana
  ).toDF("doc_id", "text")

  /** The operator's exact arithmetic, re-derived with plain doubles
    * (rounding differences vs the DECIMAL path are below the 1e-9
    * assert tolerance on this corpus).
    */
  private def bm25(tf: Long, df: Long, dl: Long, nDocs: Long, sumDl: Long,
                   k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = BigDecimal(math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dlNorm = dl.toDouble / (sumDl.toDouble / nDocs.toDouble)
    val norm = tf.toDouble * (k1 + 1.0) / (tf.toDouble + k1 * ((1.0 - b) + b * dlNorm))
    BigDecimal(idf * norm).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("scores match the hand formula; non-matching docs absent") {
    val r = Retrieval.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> "apple", 1L -> "banana date", 2L -> "missingterm"), k = 10)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3)))
      .toMap
    // corpus stats: N=5, sum_dl = 3+2+4+2+2 = 13
    // 'apple' df=3 (docs 0,1,4): doc0 tf=2 dl=3; doc1 tf=1 dl=2; doc4 tf=1 dl=2
    val a0 = bm25(2, 3, 3, 5, 13); val a1 = bm25(1, 3, 2, 5, 13)
    assert(a0 > a1)
    val q0 = (1L to 3L).flatMap(rk => r.get((0L, rk)))
    assert(q0.map(_._1) == Seq(0L, 1L, 4L)) // tf breaks first, then id on the 1/4 tie
    assert(math.abs(q0(0)._2 - a0) < 1e-9)
    assert(math.abs(q0(1)._2 - a1) < 1e-9)
    assert(q0(1)._2 == q0(2)._2) // identical tf/dl -> identical score, id asc
    // 'banana date': doc2 matches both terms, summed contributions
    val b2 = bm25(3, 3, 4, 5, 13) + bm25(1, 1, 4, 5, 13)
    assert(math.abs(r((1L, 1L))._2 - b2) < 1e-9)
    assert(r((1L, 1L))._1 == 2L)
    // query 2 has no corpus hits: no rows at all
    assert(!r.keys.exists(_._1 == 2L))
  }

  test("k cuts the ranking; ranks contiguous from 1") {
    val r = Retrieval.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> "apple banana"), k = 2).collect()
    assert(r.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    assert(r.length == 2)
  }

  test("partitioning-invariant (DECIMAL contribution sums)") {
    val q = Seq(0L -> "apple banana", 1L -> "cherry fig")
    val a = Retrieval.bm25TopK(docs, "text", "doc_id", q, 10)
      .orderBy("qid", "rank").collect().toSeq
    val b = Retrieval.bm25TopK(docs.repartition(7), "text", "doc_id", q, 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(a == b)
  }

  test("serving index answers byte-identically to the scan path, bucket-pruned") {
    val tag = s"spec_${System.nanoTime()}"
    val name = s"graft_bm25_$tag"
    val path = s"/tmp/$name"
    try {
      Retrieval.writeBm25Index(docs, "text", "doc_id", name, path, nBuckets = 8)
      val q = Seq(0L -> "apple banana", 1L -> "cherry date", 2L -> "missingterm")
      val viaScan = Retrieval.bm25TopK(docs, "text", "doc_id", q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val served = Retrieval.bm25TopKIndexed(spark, name, path, q, 10)
      val viaIndex = served.orderBy("qid", "rank").collect().toSeq
      assert(viaIndex == viaScan)
      // the isin filter must prune buckets: the postings scan reads
      // fewer than the 8 written buckets for a 5-term batch
      val scanNode = served.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanNode)
      assert(m.isDefined, s"no bucket pruning in plan:\n$scanNode")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"isin filter selected every bucket: ${m.get.matched}")
    } finally {
      graft.sources.Bucketed.drop(spark, name)
      graft.BenchData.deleteRecursively(path)
      graft.BenchData.deleteRecursively(path + "_stats")
    }
  }

  test("segmented index: two appends == one scan; tombstones and compaction stay exact") {
    // a bigger corpus so df/avgdl genuinely differ between the base
    // segment and the union — any stale-df shortcut would show
    val rnd = new scala.util.Random(53)
    val vocab = Seq("apple", "banana", "cherry", "date", "fig", "grape",
      "kiwi", "lemon", "mango", "olive")
    val all = (0L until 120L).map { i =>
      val n = 3 + (i % 5).toInt
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val corpus = all.toDF("doc_id", "text")
    val segA = all.filter(_._1 % 3 != 2)
    val segB = all.filter(_._1 % 3 == 2)
    val q = Seq(0L -> "apple banana", 1L -> "cherry grape fig", 2L -> "mango")
    val tag = s"seg_${System.nanoTime()}"
    val name = s"graft_bm25s_$tag"
    val path = s"/tmp/$name"
    val segments = scala.collection.mutable.Set("a", "b")
    try {
      Retrieval.appendBm25Segment(segA.toDF("doc_id", "text"), "text",
        "doc_id", name, path, nBuckets = 8, segment = "a")
      // segment A alone == scan over segment A's docs
      val onlyA = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val scanA = Retrieval.bm25TopK(segA.toDF("doc_id", "text"), "text",
        "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(onlyA == scanA)
      // after the append, the UNION is served with corpus-level df and
      // avgdl — exactly the full-corpus scan
      Retrieval.appendBm25Segment(segB.toDF("doc_id", "text"), "text",
        "doc_id", name, path, nBuckets = 8, segment = "b")
      val seg2 = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val scanAll = Retrieval.bm25TopK(corpus, "text", "doc_id", q, 10)
        .orderBy("qid", "rank").collect().toSeq
      assert(seg2 == scanAll)
      // tombstone a slice: serve == scan over the survivors (df, n_docs
      // and avgdl all shift — recomputation keeps every piece exact)
      val dead = all.map(_._1).filter(_ % 7 == 3)
      Retrieval.deleteFromBm25Index(dead.toDF("doc_id"), "doc_id", path)
      val segDel = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val scanDel = Retrieval.bm25TopK(
        all.filterNot(r => dead.contains(r._1)).toDF("doc_id", "text"),
        "text", "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(segDel == scanDel)
      // in-place compaction with a delete committed between its
      // snapshot and its commit: the fold covers the snapshot's two
      // segments and first delete, and the late delete stays live
      val snap = graft.sources.IndexLog.snapshot(spark, path)
      val lateDead = all.map(_._1).filterNot(dead.contains).take(2)
      Retrieval.deleteFromBm25Index(lateDead.toDF("doc_id"), "doc_id", path)
      Retrieval.compactBm25Snapshot(spark, name, path, snap, nBuckets = 8)
      val live = graft.sources.IndexLog.snapshot(spark, path)
      segments ++= live.data
      assert(live.data.size == 1 && !live.data.exists(Set("a", "b")))
      assert(live.tombstones.size == 1)
      val fenced = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val scanFenced = Retrieval.bm25TopK(
        all.filterNot(r => dead.contains(r._1) || lateDead.contains(r._1))
          .toDF("doc_id", "text"),
        "text", "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(fenced == scanFenced)
      // a second compaction folds the late delete too: same answers
      Retrieval.compactBm25Index(spark, name, path, nBuckets = 8)
      val folded = graft.sources.IndexLog.snapshot(spark, path)
      segments ++= folded.data
      assert(folded.data.size == 1 && folded.tombstones.isEmpty)
      assert(Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq == scanFenced)
    } finally {
      segments.foreach(s => graft.sources.Bucketed.drop(spark, s"${name}__$s"))
      graft.BenchData.deleteRecursively(path)
    }
  }

  test("segmented index: appending a live segment name is rejected, the live segment intact") {
    val segA = Seq((0L, "apple banana"), (1L, "banana cherry"))
    val segA2 = Seq((2L, "apple apple"), (3L, "cherry date"))
    val q = Seq(0L -> "apple banana cherry")
    val name = s"graft_bm25live_${System.nanoTime()}"
    val path = s"/tmp/$name"
    try {
      Retrieval.appendBm25Segment(segA.toDF("doc_id", "text"), "text",
        "doc_id", name, path, nBuckets = 4, segment = "a")
      val e = intercept[IllegalArgumentException] {
        Retrieval.appendBm25Segment(segA2.toDF("doc_id", "text"), "text",
          "doc_id", name, path, nBuckets = 4, segment = "a")
      }
      assert(e.getMessage.contains("segment 'a' is already live"), e.getMessage)
      val served = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val scanA = Retrieval.bm25TopK(segA.toDF("doc_id", "text"), "text",
        "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(served == scanA)
    } finally {
      graft.sources.Bucketed.drop(spark, s"${name}__a")
      graft.BenchData.deleteRecursively(path)
    }
  }

  test("validation: empty/duplicate queries rejected") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "text", "doc_id", Seq.empty, 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> "a", 0L -> "b"), 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "text", "doc_id", Seq(0L -> "a"), 0)
    }
  }

  private def rrfTerm(rank: Long, kRrf: Int = 60): Double =
    BigDecimal(1.0 / (kRrf + rank.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("rrf: hand-computed fusion of two lists, cross-list sum wins") {
    // list A ranks (10, 20, 30); list B ranks (20, 10, 40):
    // doc 10: 1/61 + 1/62, doc 20: 1/62 + 1/61 (TIE with 10 -> lower
    // id first), doc 30: 1/63, doc 40: 1/63 (tie -> 30 first)
    val a = Seq((0L, 1L, 10L), (0L, 2L, 20L), (0L, 3L, 30L))
      .toDF("qid", "rank", "doc_id")
    val b = Seq((0L, 1L, 20L), (0L, 2L, 10L), (0L, 3L, 40L))
      .toDF("qid", "rank", "doc_id")
    val got = Retrieval.rrfFuse(Seq(a, b)).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    val both = rrfTerm(1) + rrfTerm(2)
    assert(math.abs(got(0)._3 - both) < 1e-9)
    assert(math.abs(got(1)._3 - both) < 1e-9)
    assert(math.abs(got(2)._3 - rrfTerm(3)) < 1e-9)
    assert(math.abs(got(3)._3 - rrfTerm(3)) < 1e-9)
  }

  test("rrf: single-list qids fuse over that list alone; topK cuts") {
    val a = Seq((0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L),
      (7L, 1L, 99L)).toDF("qid", "rank", "doc_id")
    // qid 7 appears only in list A; list B renames its id column (the
    // ANN paths' nid) and is fused after normalization
    val b = Seq((0L, 1L, 10L)).toDF("qid", "rank", "nid")
      .withColumnRenamed("nid", "doc_id")
    val got = Retrieval.rrfFuse(Seq(a, b), topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // qid 0: doc 10 fused from both lists leads; topK=2 drops doc 12
    assert(got == Set((0L, 1L, 10L), (0L, 2L, 11L), (7L, 1L, 99L)))
  }

  test("rrf: partitioning-invariant (DECIMAL contribution sums)") {
    val a = (1L to 40L).map(i => (i % 4, (i % 10) + 1, i))
      .toDF("qid", "rank", "doc_id")
    val one = Retrieval.rrfFuse(Seq(a.coalesce(1), a.coalesce(1)))
      .orderBy("qid", "rank").collect().toSeq
    val many = Retrieval.rrfFuse(Seq(a.repartition(7), a.repartition(13)))
      .orderBy("qid", "rank").collect().toSeq
    assert(one == many)
  }

  test("rrf: validation") {
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq.empty) }
    val a = Seq((0L, 1L, 10L)).toDF("qid", "rank", "doc_id")
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq(a), kRrf = 0) }
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq(a), topK = 0) }
  }
}
