package graft.operators

import graft.SparkSpec
import graft.plans.BpeKernels
import org.apache.spark.unsafe.types.UTF8String

/** BPE trainer/encoder coverage.
  *
  * Three implementations are in play: the engine
  * (`Bpe`/`BpeKernels`), the independent Python oracle
  * (tools/gen_bpe_oracle.py, driver-gate), and `naiveTrain`/
  * `naiveEncode` below — a third from-the-paper re-implementation in
  * plain Scala collections sharing no code with the kernels. The
  * differential tests here close the triangle the driver gate opens.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- naive
  // from-the-paper reference: merge loop over a word-count map
  // (Sennrich et al. 2016 §3.2), plain List[String] symbols

  private def naiveMergePass(syms: List[String], a: String, b: String): List[String] =
    syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: naiveMergePass(rest, a, b)
      case x :: rest => x :: naiveMergePass(rest, a, b)
      case Nil => Nil
    }

  // one symbol per code point (a surrogate pair is one character)
  private def naiveSymbols(word: String): List[String] =
    word.codePoints.toArray.toList.map(cp => new String(Character.toChars(cp)))

  // unsigned UTF-8 byte order — code-point order, unlike String's
  // UTF-16 code-unit order
  private val byteOrder: Ordering[String] =
    Ordering.by[String, Seq[Int]](_.getBytes("UTF-8").toSeq.map(_ & 0xff))(
      Ordering.Implicits.seqOrdering)

  private def naiveTrain(wc: Map[String, Long], numMerges: Int,
                         minPair: Long = 2L): Seq[(Int, String, String, Long)] = {
    var words: Map[String, (List[String], Long)] =
      wc.map { case (w, n) => w -> (naiveSymbols(w) :+ "</w>", n) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      words.values.foreach { case (syms, n) =>
        syms.zip(syms.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + n)
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), n) = pairs.minBy { case ((l, r), n) => (-n, l, r) }(
          Ordering.Tuple3(Ordering.Long, byteOrder, byteOrder))
        if (n < minPair) done = true
        else {
          merges += ((rank, l, r, n))
          words = words.map { case (w, (syms, cnt)) =>
            w -> (naiveMergePass(syms, l, r), cnt)
          }
          rank += 1
        }
      }
    }
    merges.toSeq
  }

  private def naiveEncode(word: String, ranks: Map[(String, String), Int]): List[String] = {
    var syms = naiveSymbols(word) :+ "</w>"
    var done = false
    while (!done && syms.length > 1) {
      val cands = syms.zip(syms.tail).flatMap(p => ranks.get(p).map(p -> _))
      if (cands.isEmpty) done = true
      else {
        val ((a, b), _) = cands.minBy(_._2)
        syms = naiveMergePass(syms, a, b)
      }
    }
    syms.filterNot(_ == "</w>")
  }

  // ------------------------------------------------------------- kernels

  private def arr(a: Array[UTF8String]): Seq[String] = a.map(_.toString).toSeq

  test("symbolize: code points + end marker") {
    assert(arr(BpeKernels.symbolize(UTF8String.fromString("ab"))) ==
      Seq("a", "b", "</w>"))
    // astral code point stays one symbol
    assert(arr(BpeKernels.symbolize(UTF8String.fromString("a😀b"))) ==
      Seq("a", "😀", "b", "</w>"))
    assert(arr(BpeKernels.symbolize(UTF8String.fromString(""))) == Seq("</w>"))
  }

  test("mergePair is one greedy left-to-right pass") {
    def mp(syms: Seq[String], a: String, b: String): Seq[String] =
      arr(BpeKernels.mergePair(syms.map(UTF8String.fromString).toArray,
        UTF8String.fromString(a), UTF8String.fromString(b)))
    assert(mp(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(mp(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(mp(Seq("x", "a", "b", "a", "b"), "a", "b") == Seq("x", "ab", "ab"))
    assert(mp(Seq("a", "b"), "b", "a") == Seq("a", "b")) // no match
  }

  test("encodeWord: lowest-rank-first, standalone end marker dropped") {
    val ranks = BpeKernels.ranksOf(Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w")))
    val out = BpeKernels.encodeWord(UTF8String.fromString("lowest"), ranks)
      .map(_.toString).toSeq
    assert(out == Seq("low", "est</w>"))
    // no applicable merge: raw code points, marker dropped
    assert(BpeKernels.encodeWord(UTF8String.fromString("xyz"), ranks)
      .map(_.toString).toSeq == Seq("x", "y", "z"))
  }

  // ----------------------------------------------------------- trainer

  private def classicCorpus = {
    // Sennrich's worked vocabulary: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
  }

  private def table(df: org.apache.spark.sql.DataFrame, numMerges: Int,
                    localThreshold: Long = Bpe.localVocabThreshold) =
    Bpe.trainMerges(df, "text", numMerges, localThreshold = localThreshold)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("trainMerges reproduces the classic worked example, ties broken (count desc, left, right)") {
    val expected = Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L),
      // n,e / e,w / w,est</w> all count 6 -> left-asc tie-break picks (e,w)
      (6, "e", "w", 6L), (7, "ew", "est</w>", 6L), (8, "n", "ewest</w>", 6L),
      (9, "low", "</w>", 5L), (10, "d", "est</w>", 3L))
    assert(table(classicCorpus, 10) == expected, "driver blocks")
    assert(table(classicCorpus, 10, localThreshold = 0L) == expected, "cluster blocks")
  }

  test("trainMerges stops below minPairCount and on exhausted vocabularies") {
    val tiny = Seq((0L, "ab cd")).toDF("doc_id", "text") // all pair counts 1
    assert(Bpe.trainMerges(tiny, "text", numMerges = 5).count() == 0)
    val one = Seq((0L, "ab ab ab")).toDF("doc_id", "text")
    // a+b -> ab, ab+</w> -> ab</w>, then nothing mergeable remains
    val m = Bpe.trainMerges(one, "text", numMerges = 10).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(m == Seq(("a", "b"), ("ab", "</w>")))
  }

  test("engine == naive third implementation on a mixed corpus (train + encode stats)") {
    val docsSeq = Seq(
      (0L, "banana band bananas"),
      (1L, "sandbank banana band band"),
      (2L, "abandon banana banded"),
      (3L, "nan ban and band banana"))
    val df = docsSeq.toDF("doc_id", "text")

    val wc = docsSeq.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
    val expMerges = naiveTrain(wc, numMerges = 12)
    val gotMerges = Bpe.trainMerges(df, "text", numMerges = 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(gotMerges == expMerges)
    // the driver-local vocabulary regime is a pure execution strategy:
    // forcing the distributed merge loop gives the identical table
    val gotDist = Bpe.trainMerges(df, "text", numMerges = 12,
        localThreshold = 0L)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(gotDist == expMerges, "distributed merge loop diverged from local")

    val ranks = expMerges.map { case (rk, l, r, _) => (l, r) -> (rk - 1) }.toMap
    val expStats = docsSeq.map { case (id, text) =>
      val toks = text.split(" ").toSeq
      val nSub = toks.map(naiveEncode(_, ranks).length.toLong).sum
      id -> ((toks.length.toLong, nSub))
    }.toMap
    val merges = Bpe.collectMerges(
      Bpe.trainMerges(df, "text", numMerges = 12))
    val gotStats = Bpe.encodeStats(df, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotStats.keySet == expStats.keySet)
    expStats.foreach { case (id, (nTok, nSub)) =>
      assert(gotStats(id) == ((nTok, nSub)), s"doc $id")
    }
  }

  test("merge ties break in UTF-8 byte order: supplementary vs U+E000 symbols, local == distributed == naive") {
    // (x, U+E000) and (x, U+1F600) tie on count and left symbol; byte
    // (code-point) order ranks U+E000 first, UTF-16 code-unit order
    // (String.compareTo: surrogate 0xD83D < 0xE000) ranks U+1F600 first
    val pua = "\uE000"
    val emoji = new String(Character.toChars(0x1F600))
    val words = Seq.fill(2)("x" + emoji) ++ Seq.fill(2)("x" + pua)
    val df = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val exp = naiveTrain(words.groupBy(identity).map { case (w, xs) =>
      w -> xs.size.toLong }, numMerges = 4)
    assert(exp.head == ((1, "x", pua, 2L)), s"naive order: $exp")
    def merges(localThreshold: Long) =
      Bpe.trainMerges(df, "text", numMerges = 4, localThreshold = localThreshold)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges(Bpe.localVocabThreshold) == exp, "driver-local merge loop")
    assert(merges(0L) == exp, "distributed merge loop")
  }

  test("trainMerges is partitioning-invariant") {
    val rows = Seq((0L, "low lower low"), (1L, "newest widest newest"),
      (2L, "low newest lowest"))
    val expected = table(rows.toDF("doc_id", "text"), 8)
    assert(expected.size == 8)
    for (p <- Seq(1, 3, 7, 16)) {
      // the word counts' shuffle lays out the blocks: p partitions, no
      // coalescing, on a child session so this suite's conf is untouched
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", p.toLong)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val df = s.createDataFrame(rows).toDF("doc_id", "text").repartition(p)
      val sizes = Bpe.wordCounts(df, "text").rdd.glom().map(_.length).collect()
      assert(sizes.length == p)
      if (p >= 7) assert(sizes.contains(0), s"p=$p: no empty block in ${sizes.toSeq}")
      assert(table(df, 8) == expected, s"p=$p driver blocks")
      assert(table(df, 8, localThreshold = 0L) == expected, s"p=$p cluster blocks")
    }
  }

  test("forced-distributed fit: at most one job per merge, none locally; nothing left cached") {
    // every word twice, so every pair keeps count >= 2 until words fuse
    val df = Seq((0L, "banana band bananas sandbank"), (1L, "abandon banana banded"),
      (2L, "nan ban and band banana")).map { case (id, t) => (id, t + " " + t) }
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    def jobs(numMerges: Int, localThreshold: Long): Int = {
      val before = sc.getPersistentRDDs.keySet
      var out: org.apache.spark.sql.DataFrame = null
      val (_, started) = graft.Probe.recordJobs(spark) {
        out = Bpe.trainMerges(df, "text", numMerges, localThreshold = localThreshold)
      }
      assert(sc.getPersistentRDDs.keySet == before,
        s"fit left cached RDDs ${sc.getPersistentRDDs.keySet -- before}")
      assert(out.count() == numMerges, "the corpus ran out of merges")
      started.size
    }
    val dist = jobs(12, 0L) - jobs(4, 0L)
    assert(dist <= 8, s"12 vs 4 merges on the cluster: $dist more jobs")
    assert(jobs(12, Bpe.localVocabThreshold) == jobs(4, Bpe.localVocabThreshold))
  }

  test("Parts.checkpoint keeps a stepped loop's lineage one step deep") {
    // the merge loop's shape: each step maps the previous step's values
    // and one job over the step both caches it and cuts its lineage
    def depth(r: org.apache.spark.rdd.RDD[_]): Int =
      1 + r.dependencies.map(d => depth(d.rdd)).maxOption.getOrElse(0)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var p: graft.Parts[Long] = graft.Parts.Spread(sc.parallelize(0L until 4L, 4)).checkpoint()
    for (_ <- 1 to 20) {
      val next = p.map(_ + 1).checkpoint()
      next.reduce(_ + _)
      p.release()
      p = next
    }
    assert(p.reduce(_ + _) == 6L + 4 * 20)
    p match {
      case graft.Parts.Spread(rdd) => assert(depth(rdd) == 2, rdd.toDebugString)
      case other => fail(s"expected the cluster form, got $other")
    }
    p.release()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("encode generalizes to unseen words via learned units") {
    val merges = Bpe.collectMerges(
      Bpe.trainMerges(classicCorpus, "text", numMerges = 10))
    val enc = Bpe.encode(Seq((0L, "lowest")).toDF("doc_id", "text"),
      "text", "doc_id", merges).collect()(0).getSeq[String](1)
    assert(enc == Seq("low", "est</w>")) // 'lowest' never seen in training
  }

  test("encodeStats: one tokenizer pass feeds counts; fertility exact") {
    val merges = Bpe.collectMerges(
      Bpe.trainMerges(classicCorpus, "text", numMerges = 10))
    val r = Bpe.encodeStats(
      Seq((0L, "low lowest"), (1L, ""), (2L, "newest")).toDF("doc_id", "text"),
      "text", "doc_id", merges)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3))).toMap
    // low -> [low</w>] (1), lowest -> [low, est</w>] (2)
    assert(r(0L) == ((2L, 3L, 1.5)))
    assert(!r.contains(1L)) // zero-token doc absent
    assert(r(2L) == ((1L, 1L, 1.0))) // newest fully merges to one unit
  }
}
