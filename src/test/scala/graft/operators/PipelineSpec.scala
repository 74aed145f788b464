package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Unit coverage for the training-data pipeline operators: text
  * functions, dedup family, similarity search, multimodal plumbing.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog"), // near dup
    (3L, "completely different content here about spark engines"),
    (4L, ""),
    (5L, "der hund und die katze sind nicht das problem")
  ).toDF("doc_id", "text")

  test("tokens / shingles edge cases") {
    val r = docs.select(col("doc_id"), tokenCount(col("text")).as("n"),
        size(charShingles(col("text"), 3)).as("sh"),
        size(wordShingles(col("text"), 2)).as("wsh"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getInt(3))).toMap
    assert(r(0L)._1 == 9)
    assert(r(4L) == ((0, 0, 0))) // empty doc: no tokens, no shingles
    assert(r(0L)._3 == 8) // 9 tokens -> 8 distinct bigrams
  }

  test("text normalization: NFC composes, whitespace/control runs collapse") {
    val d = Seq(
      (0L, "e\u0301tude"),            // e + combining acute -> \u00e9
      (1L, "  a\u000b\t\nb\u0000c  "), // ws + VT + NUL runs
      (2L, "caf\u00e9"),              // already NFC: unchanged
      (3L, "")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        cleanText(nfcNormalize(col("text"))).as("norm"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(0L) == "\u00e9tude", r(0L)) // composed, 5 chars
    assert(r(1L) == "a b c", r(1L))
    assert(r(2L) == "caf\u00e9")
    assert(r(3L) == "")
    // NFC is idempotent and length-aware: composed form is SHORTER in
    // code points than the decomposed input
    val n = d.where(col("doc_id") === 0L)
      .select(length(col("text")), length(nfcNormalize(col("text"))))
      .collect().head
    assert(n.getInt(0) == 6 && n.getInt(1) == 5)
  }

  test("script counts: Unicode Script property per character") {
    val d = Seq((0L, "abc 你好 привет مرحبا"))
      .toDF("doc_id", "text")
    val r = d.select(
        scriptCount(col("text"), "Latin"), scriptCount(col("text"), "Han"),
        scriptCount(col("text"), "Cyrillic"), scriptCount(col("text"), "Arabic"))
      .collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((3, 2, 6, 5)))
  }

  test("language id picks marker-heavy language deterministically") {
    val r = docs.select(col("doc_id"), langId(col("text")).as("lang"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(0L) == "en")
    assert(r(5L) == "de")
    assert(r(4L) == "de") // all-zero scores: alphabetically first wins
  }

  test("repetition ratio: duplicate n-gram fraction, hand-computed") {
    val d = Seq((0L, "the quick brown fox jumps over the lazy dog"),
                (1L, "a a a a"), (2L, ""), (3L, "x y"))
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        repetitionRatio(col("text"), 1).as("r1"),
        repetitionRatio(col("text"), 2).as("r2"),
        repetitionRatio(col("text"), 3).as("r3"))
      .collect().map(x => x.getLong(0) ->
        ((x.getDouble(1), x.getDouble(2), x.getDouble(3)))).toMap
    // 9 tokens, 8 distinct ("the" twice); all 8 bigrams distinct
    assert(r(0L) == ((0.111111, 0.0, 0.0)))
    // "a a a a": 1 - 1/4, 1 - 1/3, 1 - 1/2
    assert(r(1L) == ((0.75, 0.666667, 0.5)))
    assert(r(2L) == ((0.0, 0.0, 0.0))) // empty doc
    assert(r(3L)._3 == 0.0) // shorter than n -> 0, not negative
  }

  test("pattern counts: emails, urls, long digit runs") {
    val d = Seq((0L, "mail a@b.co and c.d@e.org now https://x.y/z " +
                     "and http://q.r 12345678 123456 99999999999"),
                (1L, "no patterns here")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        emailCount(col("text")).as("e"),
        urlCount(col("text")).as("u"),
        longDigitRunCount(col("text")).as("g"))
      .collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    assert(r(0L) == ((2, 2, 2))) // 123456 is only 6 digits -> not counted
    assert(r(1L) == ((0, 0, 0)))
  }

  test("driver contract: every query oracled or a documented exception") {
    // the correctness gate only checks queries that HAVE oracle SQL —
    // a query added without one silently downgrades to a rows-only
    // check. Every query has an oracle since the init queries gained
    // derived-invariant oracles (membership / rank-2-span checks).
    val qs = graft.SparkEntry.queries.keySet
    val oracled = graft.SparkEntry.oracleSql.keySet
    assert(oracled.subsetOf(qs),
      s"oracles without queries: ${oracled -- qs}")
    assert((qs -- oracled).isEmpty,
      s"queries without oracle SQL: ${qs -- oracled}")
  }

  test("chunking reconstructs the token stream (seeded random docs)") {
    val rnd = new scala.util.Random(7)
    val docsR = (0L until 20L).map { i =>
      val n = rnd.nextInt(40) // includes 0-token docs
      (i, (0 until n).map(_ => s"w${rnd.nextInt(9)}").mkString(" "))
    }.toDF("doc_id", "text")
    val chunkSize = 7; val overlap = 3; val step = chunkSize - overlap
    val chunks = Corpus.chunkByTokens(docsR, "text", "doc_id", chunkSize, overlap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for ((id, text) <- docsR.collect().map(r => (r.getLong(0), r.getString(1)))) {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) assert(!chunks.contains(id))
      else {
        // dropping the first `overlap` tokens of every chunk after the
        // first must reconstruct the original token stream exactly
        val rebuilt = chunks(id).zipWithIndex.flatMap { case (c, ci) =>
          val t = c.split(" ").toSeq
          if (ci == 0) t else t.drop(overlap)
        }
        assert(rebuilt == toks, s"doc $id")
        // every chunk except the last is full-size
        assert(chunks(id).init.forall(_.split(" ").length == chunkSize), s"doc $id sizes")
      }
    }
  }

  test("stratified sampling: per-stratum rates, determinism, nesting") {
    val d = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = Sampling.sampleByHashStratified(d, "id", "lang",
        Map("en" -> 0.5, "de" -> 0.1), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val en = kept.count(_._2 == "en"); val de = kept.count(_._2 == "de")
    // 2000 rows per stratum: binomial mean 1000 / 200
    assert(math.abs(en - 1000) < 100, s"en=$en")
    assert(math.abs(de - 200) < 60, s"de=$de")
    // deterministic: same call, same set
    val again = Sampling.sampleByHashStratified(d, "id", "lang",
        Map("en" -> 0.5, "de" -> 0.1), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet)
    // a row's draw ignores its stratum's rate changes elsewhere: raising
    // de's rate never evicts a previously-kept en row (subset property)
    val wider = Sampling.sampleByHashStratified(d, "id", "lang",
        Map("en" -> 0.5, "de" -> 0.4), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept.toSet.subsetOf(wider))
    // unknown strata fall to defaultRate 0 -> dropped
    val d2 = Seq((1L, "fr"), (2L, "en")).toDF("id", "lang")
    val k2 = Sampling.sampleByHashStratified(d2, "id", "lang",
        Map("en" -> 1.0), salt = "s").collect().map(_.getLong(0)).toSet
    assert(k2 == Set(2L))
  }

  test("mixture resampling: binding stratum keeps all, rates hit the target shares") {
    // 3000 en / 600 de / 2400 fr; target 50/25/25. de is scarcest
    // relative to target: N = min(3000/.5, 600/.25, 2400/.25) = 2400,
    // so de keeps ALL 600 (rate 1), en rate = 1200/3000, fr = 600/2400
    val d = (0L until 6000L).map { i =>
      (i, if (i % 10 < 5) "en" else if (i % 10 < 6) "de" else "fr")
    }.toDF("id", "lang")
    val kept = Sampling.sampleToMixture(d, "id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byLang = kept.groupBy(_._2)
    // binding stratum is kept verbatim
    assert(byLang("de").length == 600)
    assert(byLang("de").forall(_._3 == 1.0))
    // exact rate arithmetic (N = 2400)
    assert(byLang("en").head._3 == 0.5 * 2400 / 3000)
    assert(byLang("fr").head._3 == 0.25 * 2400 / 2400)
    // binomial draws around the mixture targets (1200 en, 600 fr)
    assert(math.abs(byLang("en").length - 1200) < 120, s"en=${byLang("en").length}")
    assert(math.abs(byLang("fr").length - 600) < 90, s"fr=${byLang("fr").length}")

    // shares are scale-invariant: multiplying every share by 4 changes
    // neither rates nor the kept set
    val scaled = Sampling.sampleToMixture(d, "id", "lang",
        Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(scaled == kept.toSet)

    // strata outside the target drop; target strata with no rows are
    // ignored (best effort) rather than forcing an empty result
    val d2 = Seq((1L, "en"), (2L, "zh"), (3L, "en")).toDF("id", "lang")
    val k2 = Sampling.sampleToMixture(d2, "id", "lang",
        Map("en" -> 0.5, "fr" -> 0.5), salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(k2.map(_._2).toSet == Set("en"))
    assert(k2.length == 2) // en binds itself -> rate 1, all kept
  }

  test("tokenizer differential: Spark expression vs naive Scala on adversarial strings") {
    // tokens() is the foundation of a dozen queries and is mirrored in
    // DuckDB SQL — pin the Spark expression against an independent
    // in-JVM reimplementation on strings exercising every boundary:
    // leading/trailing/multiple/unicode whitespace, tabs/newlines,
    // empty/blank, punctuation-only, multibyte letters, mixed case
    val cases = Seq(
      "", "   ", "\t\n ", "a", " a ", "a  b", "a\tb\nc", "A Mixed CASE",
      "über café naïve", "字 字字 字", "a,b.c", "  !  ?  ", "x" * 500,
      ("w1 " * 200).trim, " nbsp", "end\n", "\ttab-start", "a\r\nb")
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    def naive(s: String): List[String] =
      // mirror: lower-cased, trimmed, split on \s+ runs, empties dropped.
      // Java's \s is ASCII [ \t\n\x0B\f\r] —   is NOT whitespace
      s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toList
    for ((s, i) <- cases.zipWithIndex)
      assert(got(i.toLong) == naive(s), s"case $i: ${s.take(30).replace("\n", "\\n")}")
  }

  test("contamination: trigram overlap against a broadcast eval set") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),        // shares "alpha beta gamma" with eval
      (1L, "zeta eta theta iota kappa"),     // disjoint
      (2L, "to sh")                          // < 3 tokens: no shingles, omitted
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val r = Corpus.contamination(corpus, "text", "doc_id", eval_, "text", n = 3)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // doc 0: trigrams {alpha beta gamma, beta gamma delta} -> 1 of 2 hit
    assert(r(0L) == ((2L, 1L, 0.5)))
    assert(r(1L) == ((3L, 0L, 0.0)))
    assert(!r.contains(2L))
  }

  test("token frequencies: deterministic top-k with tie-break") {
    val d = Seq((0L, "b a a c b a"), (1L, "c d d")).toDF("doc_id", "text")
    val r = Corpus.tokenFrequencies(d, "text", 3)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    // a:3, then count-2 ties broken alphabetically: b before c before d
    assert(r == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  test("document frequencies: per-doc distinct counts and idf") {
    val d = Seq((0L, "a b a"), (1L, "a c"), (2L, "c c c")).toDF("doc_id", "text")
    val r = Corpus.documentFrequencies(d, "text")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // a in docs {0,1}; b in {0}; c in {1,2} — duplicates within a doc count once
    assert(r("a") == ((2L, math.round(math.log(3.0 / 2) * 1e6) / 1e6)))
    assert(r("b") == ((1L, math.round(math.log(3.0) * 1e6) / 1e6)))
    assert(r("c")._1 == 2L)
  }

  test("document frequencies: nDocs counts empty docs but not null text") {
    // the idf denominator population: null-text rows contribute no
    // tokens and must not inflate nDocs; empty-but-non-null docs are
    // real documents and count. nDocs here = 3 (not 4, not 2).
    val d = Seq((0L, "a b"), (1L, ""), (2L, null), (3L, "a"))
      .toDF("doc_id", "text")
    val r = Corpus.documentFrequencies(d, "text")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r("a") == ((2L, math.round(math.log(3.0 / 2) * 1e6) / 1e6)))
    assert(r("b") == ((1L, math.round(math.log(3.0) * 1e6) / 1e6)))
    assert(r.size == 2) // no sentinel/null token row leaks into the output
  }

  test("tfidf terms: tf, df, and weight on a hand-computed corpus") {
    val d = Seq((0L, "a b a"), (1L, "a c"), (2L, "c c c")).toDF("doc_id", "text")
    val r = Corpus.tfidfTerms(d, "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    // doc 0: a twice (df 2), b once (df 1)
    assert(r((0L, "a"))._1 == 2L && r((0L, "a"))._2 == 2L)
    assert(r((0L, "a"))._3 == math.round(2 * math.log(3.0 / 2) * 1e6) / 1e6)
    assert(r((0L, "b")) == ((1L, 1L, math.round(math.log(3.0) * 1e6) / 1e6)))
    assert(r((2L, "c"))._1 == 3L && r((2L, "c"))._2 == 2L)
    assert(r.size == 5) // (0,a) (0,b) (1,a) (1,c) (2,c)
  }

  test("chunking: window arithmetic, overlap, short-doc and edge cases") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val d = Seq((0L, text10), (1L, "one two"), (2L, "   ")).toDF("doc_id", "text")
    val r = Corpus.chunkByTokens(d, "text", "doc_id", chunkSize = 8, overlap = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> ((x.getLong(2), x.getString(3)))).toMap
    // 10 tokens, step 6 -> ceil(8/6) = 2 chunks; second starts at token 7
    assert(r((0L, 0L)) == ((8L, (1 to 8).map(i => s"t$i").mkString(" "))))
    assert(r((0L, 1L)) == ((4L, (7 to 10).map(i => s"t$i").mkString(" "))))
    // short doc: one whole-document chunk; blank doc: no chunks
    assert(r((1L, 0L)) == ((2L, "one two")))
    assert(r.size == 3)
    intercept[IllegalArgumentException] {
      Corpus.chunkByTokens(d, "text", "doc_id", chunkSize = 4, overlap = 4)
    }
  }

  test("duplicate spans: cross-doc span collisions counted per doc") {
    // 4-token spans over the 9-token docs: docs 0/1 are identical (all
    // 3 spans duplicated), doc 2 shares its first span AND its "dog"
    // tail span with them, docs 3/5 are unique, doc 4 is token-less
    val r = Corpus.duplicateSpans(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(0L) == ((3L, 3L)) && r(1L) == ((3L, 3L)))
    assert(r(2L) == ((3L, 2L)))
    assert(r(3L)._2 == 0L && r(5L)._2 == 0L)
    assert(!r.contains(4L)) // empty doc omitted, like chunkByTokens
  }

  test("span dedup removal: first occurrence survives, docs reassemble in order") {
    // 4-token spans: doc 0 keeps everything (first occurrence of all its
    // spans), its exact dup doc 1 loses everything, near-dup doc 2 keeps
    // only its middle span ("the quick brown fox" and "dog" were doc 0's)
    val r = Corpus.removeDuplicateSpans(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(0L) == ((3L, 3L, "the quick brown fox jumps over the lazy dog")))
    assert(r(1L) == ((3L, 0L, "")))
    assert(r(2L) == ((3L, 1L, "jumped over the lazy")))
    assert(r(3L)._1 == 2L && r(3L)._2 == 2L) // unique content untouched (7 tokens = 2 spans)
    assert(!r.contains(4L))
  }

  test("gopherKeep agrees with gopherFilter's verdict and keeps all columns") {
    // the single-aggregate pass expression and the per-signal columns
    // are two implementations of the same rules — pin their agreement
    // on a fixture exercising every threshold (short, long-token,
    // digit-heavy, empty, null, stop-word-free)
    val rnd = new scala.util.Random(5)
    val d = ((0L until 40L).map { i =>
      (i, Option(Seq.fill(3 + rnd.nextInt(12))(
        rnd.nextInt(4) match {
          case 0 => "the"
          case 1 => "99" + rnd.nextInt(100)
          case 2 => "antidisestablishmentarianism"
          case _ => "cat" + rnd.nextInt(10)
        }).mkString(" ")))
    } ++ Seq((40L, Option("")), (41L, Option.empty[String]))).toDF("doc_id", "text")
    val viaFilter = Corpus.gopherFilter(d, "text", "doc_id",
        minTok = 5, maxTok = 100, minAlphaRatio = 0.5, minStopHits = 1)
      .where(col("pass")).collect().map(_.getLong(0)).toSet
    val viaKeep = Corpus.gopherKeep(d, "text",
        minTok = 5, maxTok = 100, minAlphaRatio = 0.5, minStopHits = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaKeep == viaFilter, s"keep/filter disagree: ${viaKeep} vs ${viaFilter}")
    assert(viaKeep.nonEmpty && viaKeep.size < 40) // thresholds actually split
    // gopherKeep preserves the full input schema for composition
    assert(Corpus.gopherKeep(d, "text").columns.toSeq == Seq("doc_id", "text"))
    // degenerate all-zero thresholds: BOTH forms pass the empty doc
    // (zero signals satisfy zero minimums) and fail only the null row
    val lax = Corpus.gopherKeep(d, "text", minTok = 0, minMeanLen = 0.0,
        minAlphaRatio = 0.0, minStopHits = 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val laxFilter = Corpus.gopherFilter(d, "text", "doc_id", minTok = 0,
        minMeanLen = 0.0, minAlphaRatio = 0.0, minStopHits = 0)
      .where(col("pass")).collect().map(_.getLong(0)).toSet
    assert(lax == laxFilter && lax.contains(40L) && !lax.contains(41L))
    // inconsistent thresholds fail fast in BOTH forms
    intercept[IllegalArgumentException] {
      Corpus.gopherKeep(d, "text", minTok = 10, maxTok = 5)
    }
  }

  test("unigram cross-entropy: hand-computed distribution, self-scored") {
    // corpus of 8 tokens total: a x4, b x2, c x1, d x1
    // p(a)=1/2, p(b)=1/4, p(c)=p(d)=1/8
    val d = Seq((0L, "a a a a"), (1L, "b b c d"), (2L, ""), (3L, null))
      .map { case (i, t) => (i, Option(t)) }.toDF("doc_id", "text")
    val r = Corpus.unigramCrossEntropy(d, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    val ln2 = math.log(2.0)
    // doc 0: 4 tokens of a -> ce = ln 2
    assert(r(0L)._1 == 4L && math.abs(r(0L)._2 - ln2) < 1e-6)
    // doc 1: (2*2ln2 + 3ln2 + 3ln2) / 4 = 2.5 ln 2
    assert(r(1L)._1 == 4L && math.abs(r(1L)._2 - 2.5 * ln2) < 1e-6)
    assert(!r.contains(2L) && !r.contains(3L)) // token-less docs omitted

    // partitioning invariance: decimal term summation is exact, so the
    // hash-agg accumulation order cannot move ce even in the last ulp
    val r7 = Corpus.unigramCrossEntropy(d.repartition(5), "text", "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r7 == r)
  }

  test("multi-consumer aggregation plans reuse exchanges at runtime (one scan)") {
    // documentFrequencies and unigramCrossEntropy both reference shared
    // aggregation subtrees from several plan branches; the static plan
    // prints one scan per reference, but execution must collapse them —
    // AQE stage reuse (or ReuseExchange) keyed on the canonicalized
    // exchange. A regression here multiplies full corpus scans at 100 TB.
    val d = Seq((0L, "a b a"), (1L, "b c"), (2L, "a")).toDF("doc_id", "text")
    for ((name, plan) <- Seq(
        "documentFrequencies" -> Corpus.documentFrequencies(d, "text"),
        "unigramCrossEntropy" -> Corpus.unigramCrossEntropy(d, "text", "doc_id"),
        "bigramCrossEntropy" -> Corpus.bigramCrossEntropy(d, "text", "doc_id"))) {
      plan.collect()
      val executed = plan.queryExecution.executedPlan.toString
      val reuses = "ReusedExchange|ReusedQueryStage".r.findAllIn(executed).length
      assert(reuses >= 1,
        s"$name executed with no exchange/stage reuse:\n${executed.take(2000)}")
    }
  }

  test("Materialize.once: values match withColumn, expression evaluated once") {
    // an expensive computed column consumed by BOTH a filter and the
    // output projection: plain withColumn lets Catalyst inline the
    // expression into each consumer (two evaluations per row); the
    // EvalOnce barrier must keep exactly ONE copy in the optimized plan
    // while producing identical rows.
    // the exact consumer shape of the stratified sampler: the computed
    // stratum feeds BOTH the sampler's per-stratum threshold filter and
    // the output projection. The duplication only triggers over a FILE
    // source (predicate pushdown toward the scan substitutes the alias
    // into the pushed filter; over a LocalRelation the same query stays
    // single-copy), so this spec reads the real parquet table.
    val expensive = when(
      aggregate(split(col("text"), " "), lit(0),
        (acc, t) => acc + when(t === "the", 1).otherwise(0)) >= 1,
      "hot").otherwise("cold")
    def shaped(d: org.apache.spark.sql.DataFrame) =
      Sampling.sampleByHashStratified(d, "doc_id", "score",
          Map("hot" -> 0.9, "cold" -> 0.8), defaultRate = 0.7, salt = "g")
        .select(col("doc_id"), col("score"))

    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("text").isNotNull)
    val viaAlias = shaped(src.withColumn("score", expensive))
    val viaOnce = shaped(Materialize.once(src, "score", expensive))
    assert(viaOnce.collect().map(_.toString).sorted
      .sameElements(viaAlias.collect().map(_.toString).sorted))

    def aggCount(d: org.apache.spark.sql.DataFrame): Int =
      "lambdafunction".r.findAllIn(
        d.queryExecution.optimizedPlan.toString).length
    // per-occurrence lambda count, measured on a single-consumer plan
    val per = aggCount(src.select(expensive.as("score")))
    assert(per >= 1)
    assert(aggCount(viaAlias) == 2 * per,
      "control: alias form should inline the expression twice")
    assert(aggCount(viaOnce) == per,
      s"EvalOnce barrier leaked:\n${viaOnce.queryExecution.optimizedPlan}")

    // withColumn replacement semantics: an existing column of the same
    // name is replaced, not duplicated (documents has a `lang` column)
    val replaced = Materialize.once(docs.withColumn("score", lit(9)),
      "score", expensive)
    assert(replaced.columns.count(_ == "score") == 1)
  }

  test("span operators: conservation invariants and partitioning invariance") {
    // seeded random docs over a 12-word vocab so 4-token spans genuinely
    // collide across documents
    val rnd = new scala.util.Random(21)
    val rdocs = (0L until 60L).map { i =>
      (i, Seq.fill(12 + rnd.nextInt(12))("w" + rnd.nextInt(12)).mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = Corpus.chunkByTokens(rdocs, "text", "doc_id", 4, 0)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val globalCount = chunks.groupBy(_._2).view.mapValues(_.length).toMap

    val dup = Corpus.duplicateSpans(rdocs, "text", "doc_id", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // conservation: per-doc span counts match chunking; dup spans are
    // exactly the spans whose global occurrence count exceeds 1
    for ((id, docChunks) <- chunks.groupBy(_._1)) {
      assert(dup(id)._1 == docChunks.length.toLong)
      assert(dup(id)._2 == docChunks.count(c => globalCount(c._2) > 1).toLong)
    }

    val kept = Corpus.removeDuplicateSpans(rdocs, "text", "doc_id", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every distinct span survives exactly once corpus-wide
    assert(kept.values.sum == globalCount.size.toLong)

    // content-hash operators must not care how the input is partitioned
    val dup7 = Corpus.duplicateSpans(rdocs.repartition(7), "text", "doc_id",
        spanTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dup7 == dup)
    val kept7 = Corpus.removeDuplicateSpans(rdocs.repartition(7), "text",
        "doc_id", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept7 == kept)
  }

  test("group-wise top tokens and Zipf fit: hand-computed") {
    val d = Seq(
      (0L, "a a a b", "en"), (1L, "a b c", "en"),
      (2L, "x x y", "de")
    ).toDF("doc_id", "text", "lang")
    val top = Corpus.tokenFrequenciesByGroup(d, "text", "lang", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // en: a=4, b=2 (c=1 cut); de: x=2, y=1
    assert(top == Set(("en", 1L, "a", 4L), ("en", 2L, "b", 2L),
      ("de", 1L, "x", 2L), ("de", 2L, "y", 1L)), top)

    // two points fit an exact line: freqs 4 and 2 at ranks 1 and 2 ->
    // slope = (ln2 - ln4) / (ln2 - ln1) = -1
    val z = Corpus.zipfFit(d.where(col("lang") === "en"), "text", k = 2)
      .collect().head
    assert(z.getLong(0) == 2L)
    assert(math.abs(z.getDouble(1) - (-1.0)) < 1e-6, z.getDouble(1))
  }

  test("bigram cross-entropy: hand-computed Jelinek-Mercer interpolation") {
    // doc0 "a b a b": bigrams (a b)x2, (b a)x1; doc1 "a b": (a b)x1
    // corpus: c(a b)=3, c(b a)=1; contexts c(a,*)=3, c(b,*)=1
    // unigrams a=3, b=3, solo=1, N=7 -> p1(a)=p1(b)=3/7 (the
    // single-token doc emits no bigram EVENTS but its token still
    // counts in the unigram backoff distribution)
    // p(a b) = .7*(3/3) + (1-.7)*(3/7) ; p(b a) = .7*(1/1) + (1-.7)*(3/7)
    // both events share the same probability, so every doc's ce is
    // -ln(.7 + (1-.7)*(3/7)) regardless of its event mix
    val d = Seq((0L, "a b a b"), (1L, "a b"), (2L, "solo"))
      .toDF("doc_id", "text")
    val r = Corpus.bigramCrossEntropy(d, "text", "doc_id", lam = 0.7)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3))))
      .toMap
    val expCe = -math.log(0.7 + (1.0 - 0.7) * 3.0 / 7.0)
    assert(r(0L)._1 == 3L && r(1L)._1 == 1L)
    assert(math.abs(r(0L)._2 - expCe) < 1e-4, s"${r(0L)._2} vs $expCe")
    assert(math.abs(r(1L)._2 - expCe) < 1e-4)
    assert(math.abs(r(0L)._3 - math.exp(r(0L)._2)) < 1e-4)
    assert(!r.contains(2L)) // single-token doc: no bigram events
  }

  test("sequence packing: distributed prefix sum is exact and partition-invariant") {
    // token counts 1..17 against budget 10 force docs that straddle
    // sequence boundaries and multi-sequence spans
    val pdocs = (0L until 100L).map(i => (i, ("w " * (i % 17 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val expectTok = (0L until 100L).map(i => i -> (i % 17 + 1)).toMap
    var reference: Seq[(Long, Long, Long, Long, Long)] = null

    // the offsets must not depend on how the INPUT was partitioned: the
    // operator re-range-partitions internally and corrects each
    // partition by its broadcast start
    for (p <- Seq(1, 7, 32)) {
      val packed = Packing.packSequences(pdocs.repartition(p), "text",
        "doc_id", budget = 10)
      val rows = packed.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // sequential single-threaded reference scan
      var off = 0L
      rows.foreach { case (id, n, o, sf, sl) =>
        assert(n == expectTok(id), s"doc $id token count")
        assert(o == off, s"doc $id offset at input partitions=$p")
        assert(sf == o / 10 && sl == (o + n - 1) / 10)
        off += n
      }
      if (reference == null) reference = rows.toSeq
      else assert(rows.toSeq == reference, s"packing differs at partitions=$p")
      packed.unpersist(blocking = false)
    }

    // fill invariant: every training sequence except the last is exactly
    // full, and the per-sequence token sums conserve the corpus total
    val packed = Packing.packSequences(pdocs, "text", "doc_id", budget = 10)
    val fill = Packing.sequenceFill(packed, budget = 10)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totalTok = expectTok.values.sum
    assert(fill.map(_._1).toSeq == fill.indices.map(_.toLong)) // no gaps
    fill.init.foreach { case (s, _, nTok) => assert(nTok == 10L, s"seq $s not full") }
    assert(fill.map(_._3).sum == totalTok)
    assert(fill.forall(_._2 >= 1))
    packed.unpersist(blocking = false)
  }

  test("token-budget selection: exact prefix, partition-invariant, budget never exceeded") {
    // scores collide in blocks (i % 5) so the doc_id tiebreaker decides
    // the prefix edge; token counts 1..13 make the boundary land
    // mid-partition
    val d = (0L until 200L).map { i =>
      (i, ("w " * (i % 13 + 1).toInt).trim, (i % 5).toDouble)
    }.toDF("doc_id", "text", "q")
    // single-threaded reference: prefix of (q desc, id asc) under budget
    val budget = 300L
    val orderRef = (0L until 200L).map(i => (i, i % 13 + 1, (i % 5).toDouble))
      .sortBy { case (i, _, s) => (-s, i) }
    var cum = 0L
    val expect = orderRef.takeWhile { case (_, n, _) =>
      cum += n; cum <= budget
    }.map(_._1)
    var ref: Seq[(Long, Long, Long)] = null
    for (p <- Seq(1, 7, 32)) {
      val got = Packing.selectByTokenBudget(d.repartition(p), "text",
          "doc_id", "q", budget)
        .orderBy("cum_tok").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      assert(got.map(_._1).toSeq == expect, s"prefix at partitions=$p")
      assert(got.last._3 <= budget)
      // cum_tok is the exact running sum
      assert(got.map(_._2).scanLeft(0L)(_ + _).tail.toSeq == got.map(_._3).toSeq)
      if (ref == null) ref = got.toSeq
      else assert(got.toSeq == ref, s"selection differs at partitions=$p")
    }
    // degenerate budgets: smaller than any doc -> empty; bigger than the
    // corpus -> everything
    assert(Packing.selectByTokenBudget(d, "text", "doc_id", "q", 0L + 1)
      .count() <= 1)
    val all = Packing.selectByTokenBudget(d, "text", "doc_id", "q", 1000000L)
    assert(all.count() == 200)
    assert(all.agg(max("cum_tok")).head().getLong(0)
      == (0L until 200L).map(_ % 13 + 1).sum)
  }

  test("global rank: dense, order-correct, partition- and tie-safe") {
    // duplicate okeys force the tiebreaker: rank among equals must not
    // depend on range boundaries
    val d = (0L until 200L).map(i => (i, "k" + (i % 10))).toDF("id0", "k")
    var ref: Seq[(Long, Long)] = null
    for (p <- Seq(1, 7, 32)) {
      val r = Packing.globalRank(d.repartition(p), "k", "id0")
      val got = r.orderBy("rank").collect().map(x => (x.getLong(0), x.getLong(2)))
      // dense 0..n-1 and consistent with the (okey, id) sort
      assert(got.map(_._2).toSeq == (0L until 200L))
      val expect = (0L until 200L).map(i => (i, "k" + (i % 10)))
        .sortBy { case (i, k) => (k, i) }.map(_._1)
      assert(got.map(_._1).toSeq == expect, s"order at partitions=$p")
      if (ref == null) ref = got.toSeq else assert(got.toSeq == ref)
      r.unpersist(blocking = false)
    }
  }

  test("corpus stats: exact sums, null-text and null-key handling") {
    val d = Seq(
      (0L, Option("one two three"), Option("a"), Option("en")),
      (1L, Option("four five"), Option("a"), Option("en")),
      (2L, None, Option("a"), Option("en")), // null text: counted, no tokens
      (3L, Option("six"), None, Option("de")) // null source is its own group
    ).toDF("doc_id", "text", "source", "lang")
    val r = Corpus.corpusStats(d, "text", Seq("source", "lang"))
      .collect().map(x => (Option(x.getString(0)), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(6)))).toMap
    assert(r((Some("a"), "en")) == ((3L, 2L, 5L, 2.5))) // avg over docs WITH text
    assert(r((None, "de")) == ((1L, 1L, 1L, 1.0)))
    intercept[IllegalArgumentException] { Corpus.corpusStats(d, "text", Seq()) }
  }

  test("gopher filter: signals and composite verdict, hand-computed") {
    val d = Seq(
      (0L, "the cat sat on the mat today fine"), // 8 tokens, 2 stop hits
      (1L, "x1 9 22 33 44 55 66 77"),            // digits: alpha ratio 1/8
      (2L, ""),                                   // empty: all-zero, fails
      (3L, "supercalifragilistic expialidocious antidisestablishmentarianism the")
    ).toDF("doc_id", "text")
    val r = Corpus.gopherFilter(d, "text", "doc_id",
        minTok = 5, maxTok = 100, minStopHits = 1)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4), x.getBoolean(5)))).toMap
    assert(r(0L) == ((8L, 3.25, 1.0, 2L, true))) // 26 chars / 8 tokens
    assert(r(1L)._3 == 0.125 && !r(1L)._5)       // alpha ratio kills it
    assert(r(2L) == ((0L, 0.0, 0.0, 0L, false)))
    assert(!r(3L)._5 && r(3L)._2 > 10.0)          // mean token length kills it
    intercept[IllegalArgumentException] {
      Corpus.gopherFilter(d, "text", "doc_id", minTok = 10, maxTok = 5)
    }
  }

  test("exact dedup groups duplicates and keeps min id") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .where(col("n") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getLong(1) == 0L && g.head.getLong(2) == 2L)
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id").count()
    assert(kept == 5)
  }

  test("minhash: identical texts agree on full signature") {
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cands((0L, 1L)) == 1.0)
    assert(cands.get((0L, 2L)).forall(_ > 0.3)) // near-dup likely a candidate
  }

  test("simhash: identical texts collide with 0 hamming") {
    val c = Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(c((0L, 1L)) == 0)
    c.values.foreach(h => assert(h <= 7))
    // bounds past the banding guarantee are rejected, not silently partial
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 8)
    }
  }

  test("simhash banding: full recall vs exact hamming within the guarantee") {
    // corpus with graded token overlap so fingerprints land at assorted
    // hamming distances, some within the <=7 guarantee
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val words = base.split(" ")
    val corpus = (0 until 30).map { i =>
      // replace i%7 words with doc-specific tokens
      val toks = words.zipWithIndex.map { case (w, j) =>
        if (j < i % 7) s"tok${i}_$j" else w
      }
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    // exact all-pairs hamming over the same fingerprints
    val fps = corpus.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = hamming(fps(a), fps(b)) if h <= 7
    } yield (a, b)).toSet
    val got = Dedup.simhashCandidates(corpus, "text", "doc_id", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "test corpus produced no close pairs — weak test")
    assert(got == expected,
      s"banding recall broken: missing ${expected -- got}, extra ${got -- expected}")
  }

  test("ngram jaccard: identical pair = 1, disjoint ~ 0") {
    val j = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, maxOffset = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.7 && j((0L, 2L)) < 1.0)
    assert(j((0L, 3L)) < 0.2)
  }

  test("cosine column function matches manual computation") {
    val df = Seq((Seq(1f, 0f, 2f), Seq(2f, 1f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val exp = 2.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    assert(math.abs(got - exp) < 1e-12)
    // zero-vector guard
    val z = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(z == 0.0)
  }

  test("brute-force top-k matches exhaustive ranking") {
    val rnd = new scala.util.Random(4)
    val vecs = (0L until 50L).map(i => (i, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }.toDF("vec_id", "embedding")
    val qs = vecs.take(2)
    val got = Similarity.bruteForceTopK(df, "embedding", "vec_id", qs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for ((qid, q) <- qs) {
      val exp = vecs.filter(_._1 != qid)
        .map { case (i, v) => (i, cos(q, v)) }
        .sortBy { case (i, s) => (-s, i) }.take(3)
      exp.zipWithIndex.foreach { case ((nid, _), r) =>
        assert(got((qid, (r + 1).toLong)) == nid, s"q=$qid rank=${r + 1}")
      }
    }
  }

  test("hard-negative mining: exhaustive cross-label ranking, null labels excluded") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.map { case (i, v) =>
      (i, v.map(_.toFloat).toSeq,
        if (i % 10 == 9) None else Some((i % 3).toString))
    }.toDF("vec_id", "embedding", "label")
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.hardNegatives(df, "embedding", "vec_id", "label",
        qids, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val labels = vecs.map { case (i, _) =>
      i -> (if (i % 10 == 9) null else (i % 3).toString)
    }.toMap
    for (qid <- qids) {
      val q = vecs(qid.toInt)._2
      val exp = vecs
        .filter { case (i, _) =>
          i != qid && labels(i) != null && labels(i) != labels(qid) }
        .map { case (i, v) => (i, cos(q, v)) }
        .sortBy { case (i, s) => (-s, i) }.take(4)
      exp.zipWithIndex.foreach { case ((nid, _), r) =>
        assert(got((qid, (r + 1).toLong)) == nid, s"q=$qid rank=${r + 1}")
      }
      // every mined negative really has a different, non-null label
      (1 to 4).foreach { r =>
        val nid = got((qid, r.toLong))
        assert(labels(nid) != null && labels(nid) != labels(qid))
      }
    }
    // validation: unknown query id, null-labeled query, duplicate ids
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(df, "embedding", "vec_id", "label",
        Seq(999L), k = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(df, "embedding", "vec_id", "label",
        Seq(9L), k = 2) // label is NULL for id 9
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(df, "embedding", "vec_id", "label",
        Seq(1L, 1L), k = 2)
    }
  }

  test("triplet mining: hardest positive + hardest negative per anchor, margin") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Array.fill(6)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.map { case (i, v) =>
      (i, v.map(_.toFloat).toSeq, (i % 2).toString)
    }.toDF("vec_id", "embedding", "label")
    val qids = Seq(0L, 1L, 2L)
    val rows = Similarity.mineTriplets(df, "embedding", "vec_id", "label", qids)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    assert(rows.keySet == qids.toSet)
    for (qid <- qids) {
      val q = vecs(qid.toInt)._2
      def best(same: Boolean): Long = vecs
        .filter { case (i, _) => i != qid && ((i % 2 == qid % 2) == same) }
        .map { case (i, v) => (i, cos(q, v)) }
        .minBy { case (i, sim) => (-sim, i) }._1
      val (posId, negId, posSim, negSim, margin) = rows(qid)
      assert(posId == best(same = true), s"q=$qid positive")
      assert(negId == best(same = false), s"q=$qid negative")
      assert(posId % 2 == qid % 2 && negId % 2 != qid % 2)
      // margin is the round-6 difference of the round-6 sims
      assert(margin ==
        new java.math.BigDecimal(java.lang.Double.toString(posSim - negSim))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    // an anchor whose label has no partner drops from the join
    val lone = vecs.map { case (i, v) =>
      (i, v.map(_.toFloat).toSeq, if (i == 0L) "only" else "rest")
    }.toDF("vec_id", "embedding", "label")
    assert(Similarity.mineTriplets(lone, "embedding", "vec_id", "label",
      Seq(0L)).count() == 0L)
  }

  test("split leakage: planted cross-split duplicate found, clean splits silent") {
    val docs = Seq(
      (1L, "the quick brown fox", "train"),
      (2L, "the quick brown fox", "test"),   // leaked pair
      (3L, "the quick brown fox", "train"),  // same group, same split as 1
      (4L, "an innocent document", "train"),
      (5L, "another innocent one", "val"),
      (6L, "a duplicated but contained pair", "val"),
      (7L, "a duplicated but contained pair", "val"), // dup WITHIN one split
      (8L, null.asInstanceOf[String], "test")
    ).toDF("doc_id", "text", "split")
    val got = Dedup.splitLeakage(docs, "text", "split").collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_docs") == 3L)
    assert(got(0).getAs[Long]("n_splits") == 2L)
    assert(got(0).getAs[String]("splits") == "test,train") // sorted
    // whitespace-normalized fingerprint: "the  quick   brown fox" is the
    // same content, so adding it in val joins the leaking group
    val more = docs.union(Seq((9L, "the  quick   brown fox", "val"))
      .toDF("doc_id", "text", "split"))
    val got2 = Dedup.splitLeakage(more, "text", "split").collect()
    assert(got2.length == 1 && got2(0).getAs[String]("splits") == "test,train,val")
    // NULL split assignments are excluded BEFORE grouping: a group
    // spread across {train, NULL} must not flag (collect_set drops the
    // NULL, so it has one named split), and the NULL row must not
    // inflate n_docs of a group that does flag
    val withNull = Seq(
      (10L, "null straddle content", "train"),
      (11L, "null straddle content", null.asInstanceOf[String]),
      (12L, "the quick brown fox", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "split")
    val got3 = Dedup.splitLeakage(docs.union(withNull), "text", "split").collect()
    assert(got3.length == 1, s"NULL-split rows must not create/suppress groups: ${got3.toSeq}")
    assert(got3(0).getAs[Long]("n_docs") == 3L, "NULL-split row counted in n_docs")
  }

  test("near-dup split leakage: cross-split near-copy found, within-split silent") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base, "train"),
      (2L, base + " ok", "test"),          // near-copy, DIFFERENT split
      (3L, base + " yes", "train"),        // near-copy, same split as 1
      (4L, "completely different content about distributed query engines", "val")
    ).toDF("doc_id", "text", "split")
    val got = Dedup.splitLeakageNear(docs, "text", "doc_id", "split",
        numHashes = 64, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"leaked near-pair missed: $got")
    assert(!got.contains((1L, 3L)), "within-split pair must not report")
    assert(got.forall { case (a, b) => Set((1L, 2L), (2L, 3L)).contains((a, b)) },
      s"unexpected pairs: $got")
  }

  test("label consistency: planted mislabel flagged, clean anchors pass") {
    // two tight clusters on orthogonal axes; id 0 sits in cluster A but
    // carries cluster B's label -> its neighbors unanimously disagree
    val vecs = (0L until 12L).map { i =>
      val base = if (i < 6L) Array(1.0, 0.0, 0.0) else Array(0.0, 1.0, 0.0)
      (i, base.zipWithIndex.map { case (x, d) =>
        (x + (if (d == 2) 0.01 * i else 0.0)).toFloat }.toSeq)
    }
    val df = vecs.map { case (i, v) =>
      (i, v, if (i == 0L) "B" else if (i < 6L) "A" else "B")
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.labelConsistency(df, "embedding", "vec_id", "label",
        Seq(0L, 1L, 7L), k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(5))).toMap
    // anchor 0: all 4 nearest are cluster-A rows labeled A, its label is B
    assert(got(0L) == ((0L, 4L, true)))
    // anchor 1 (true A): nearest are A rows except the mislabeled 0
    assert(got(1L)._3 == false && got(1L)._1 >= 3L)
    // anchor 7 (true B): all-B neighborhood
    assert(got(7L) == ((4L, 4L, false)))
  }

  test("LSH cosine ANN: candidates rerank exactly, high overlap with brute force") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
    val df = vecs.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }.toDF("vec_id", "embedding")
    val qs = vecs.take(3)
    // 4 planes x 8 tables: per-plane agreement ~0.7 for near neighbors
    // here, so candidate recall ~1-(1-0.7^4)^8 ~ 0.9
    val lsh = Similarity.lshCosineTopK(df, "embedding", "vec_id", qs, k = 5,
      numPlanes = 4, numTables = 8)
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", qs, k = 5)
    val lshSets = lsh.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    val bruteSets = brute.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    for (qid <- qs.map(_._1)) {
      assert(lshSets(qid).size == 5)
      // 8 tables x 8 planes: most true neighbors should surface
      assert((lshSets(qid) intersect bruteSets(qid)).size >= 2,
        s"q=$qid recall too low: ${lshSets(qid)} vs ${bruteSets(qid)}")
    }
  }

  test("som-bucketed ANN returns k ranked neighbors with real recall") {
    val rnd = new scala.util.Random(9)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val qs = vecs.take(2).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val got = Similarity.somTopK(df, "embedding", "vec_id", qs, k = 5,
      gridX = 2, gridY = 2, nProbe = 2, epochs = 2)
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach(rows => assert(rows.length == 5))
    // probing half the cells must still recover a solid share of the
    // exact top-5 (the IVF recall/contract check, not just row counts)
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", qs, k = 5)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    for (qid <- qs.map(_._1)) {
      val overlap = (byQ(qid).map(_.getLong(2)).toSet intersect brute(qid)).size
      assert(overlap >= 2, s"q=$qid IVF recall too low: $overlap/5")
    }
  }

  test("IVF index: partitioned write serves queries and PRUNES to probed cells") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val qs = vecs.take(2).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(df, "embedding", numEpochs = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfindex").toFile
    val path = new java.io.File(dir, "index").getAbsolutePath
    try {
      Similarity.writeAssignedIndex(df, "embedding", model, path)
      val index = spark.read.parquet(path)
      val got = Similarity.somTopKAssigned(index, model, "embedding", "vec_id",
        qs, k = 5, nProbe = 2)
      // identical results to the inline (train-and-scan) path
      val inline = Similarity.somTopK(df, "embedding", "vec_id", qs, k = 5,
        gridX = 3, gridY = 3, nProbe = 2, epochs = 2)
      assert(got.collect().map(_.toString).sorted
        .sameElements(inline.collect().map(_.toString).sorted))
      // and the scan must be PARTITION-PRUNED: the explicit isin on the
      // partition column statically prunes to <= nProbe*queries of the 9
      // bmu_id directories — the whole index is never listed
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
        }.flatten
      val scans = scansOf(got.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected a file scan over the index")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "bmu_id")),
        s"no partition filter on bmu_id: ${scan.metadata.get("PartitionFilters")}")
      val partsRead = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).length
      assert(partsRead <= 4, // 2 queries x nProbe=2, minus shared cells
        s"index scan read $partsRead partitions, expected <= 4 of 9")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("bloom ingest gate: exact under saturated sketch, suspects routed through confirm") {
    // corpus texts 0..199; batch 150..349 -> 50 true dups, 150 fresh
    val corpus = (0 until 200).map(i => (i.toLong, s"corpus doc number $i body"))
      .toDF("doc_id", "text")
    val batch = (150 until 350).map(i => (i.toLong + 1000, s"corpus doc number $i body"))
      .toDF("doc_id", "text")
    val expected = Dedup.dropExistingDuplicates(batch, corpus, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.size == 150)
    // a sketch sized for 8 items holding 200 saturates — most probes
    // return true (real false positives), so the confirm phase does the
    // actual work and must clear every one of them
    val tiny = Dedup.corpusFingerprintBloom(corpus, "text",
      expectedItems = 8, fpp = 0.05)
    val gotTiny = Dedup.dropExistingDuplicatesBloom(batch, corpus, "text",
      "doc_id", tiny).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotTiny == expected, "saturated bloom changed the exact result")
    // sanity: the saturated sketch really does fire on fresh docs
    // (otherwise this test isn't exercising the confirm path)
    import graft.functions.TextFunctions
    val fpCount = batch.select(
        graft.plans.GraftFunctions.bloom_contains(
          TextFunctions.docFingerprint(col("text")), tiny).as("maybe"))
      .where(col("maybe")).count()
    assert(fpCount > 50, s"expected false positives beyond the 50 true dups, got $fpCount")
    // and a well-sized sketch agrees too
    val sized = Dedup.corpusFingerprintBloom(corpus, "text",
      expectedItems = 1000, fpp = 0.01)
    val gotSized = Dedup.dropExistingDuplicatesBloom(batch, corpus, "text",
      "doc_id", sized).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotSized == expected)
  }

  test("IVF+PQ index: partitioned codes serve ADC queries and PRUNE to probed cells") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val qs = vecs.take(2).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(df, "embedding", numEpochs = 2)
    val cb = Similarity.pqCodebookFromRows(
      vecs.take(8).map(_._2.map(_.toDouble).toArray), m = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqindex").toFile
    val path = new java.io.File(dir, "index").getAbsolutePath
    try {
      Similarity.writeIvfPqIndex(df, "embedding", "vec_id", model, cb,
        m = 4, k = 8, path)
      val codes = spark.read.parquet(s"$path/codes")
      val got = Similarity.ivfPqTopKFromCodes(codes, model, cb, m = 4, k = 8,
        qs, kNN = 5, nProbe = 2)
      // identical to the inline (assign-and-scan) path
      val inline = Similarity.ivfPqTopK(df, "embedding", "vec_id", model, cb,
        m = 4, k = 8, qs, kNN = 5, nProbe = 2)
      assert(got.collect().map(_.toString).sorted
        .sameElements(inline.collect().map(_.toString).sorted))
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
        }.flatten
      // ONE scan for the batch, statically pruned on the bmu_id
      // partition column to exactly the union of the probed cells
      val scans = scansOf(got.queryExecution.executedPlan)
      assert(scans.size == 1, s"expected one pruned scan for the batch: $scans")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "bmu_id")),
        s"no partition filter on bmu_id: ${scan.metadata.get("PartitionFilters")}")
      val partsRead = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).length
      val probed = qs.flatMap(q => IvfReference.probedCells(model, q._2, 2)).toSet
      assert(partsRead == probed.size,
        s"IVF+PQ scan read $partsRead partitions, probed-cell union is ${probed.size} of 9")
      // ADC within probed cells must agree with pure-PQ ADC restricted to
      // the same candidate set (the composition adds pruning, not a new
      // distance): every returned (qid, nid, adc) appears in the full PQ
      // ranking with the same adc value
      val full = Similarity.pqTopK(df, "embedding", "vec_id", cb,
        m = 4, k = 8, qs, kNN = 300).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      got.collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(2))
        assert(full.contains(key) && math.abs(full(key) - r.getDouble(3)) < 1e-9,
          s"ADC mismatch vs full PQ at $key")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("IVF+SQ index: partitioned int8 codes serve cosine queries, pruned to probed cells") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val qs = vecs.take(2).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(df, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfsqindex").toFile
    val path = new java.io.File(dir, "index").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(df, "embedding", "vec_id", model, sq, path)
      val codes = spark.read.parquet(s"$path/codes")
      val got = Similarity.ivfSqTopKFromCodes(codes, model, sq, qs,
        kNN = 5, nProbe = 2)
      // identical to the inline (assign-and-scan) path
      val inline = Similarity.ivfSqTopK(df, "embedding", "vec_id", model,
        sq, qs, kNN = 5, nProbe = 2)
      assert(got.collect().map(_.toString).sorted
        .sameElements(inline.collect().map(_.toString).sorted))
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
        }.flatten
      // ONE scan for the batch, statically pruned on the bmu_id
      // partition column to exactly the union of the probed cells
      val scans = scansOf(got.queryExecution.executedPlan)
      assert(scans.size == 1, s"expected one pruned scan for the batch: $scans")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "bmu_id")),
        s"no partition filter on bmu_id: ${scan.metadata.get("PartitionFilters")}")
      val partsRead = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).length
      val probed = qs.flatMap(q => IvfReference.probedCells(model, q._2, 2)).toSet
      assert(partsRead == probed.size,
        s"IVF+SQ scan read $partsRead partitions, probed-cell union is ${probed.size} of 9")
      // cosine within probed cells must agree with the flat SQ serving
      // restricted to the same candidates (composition adds pruning,
      // not a new distance)
      val flat = Similarity.sqTopK(
        Similarity.sqEncode(df, "embedding", "vec_id", sq), "codes", "id",
        sq, qs, k = 300).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      got.collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(2))
        assert(flat.contains(key) && math.abs(flat(key) - r.getDouble(3)) < 1e-9,
          s"cosine mismatch vs flat SQ at $key")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("SOM-IVF and IVF-SQ serving reject a wrong-length query and nProbe = 0") {
    val rnd = new scala.util.Random(53)
    val df = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val model = new graft.som.Som(
      graft.som.SomConfig(2, 2, seed = 42)).fit(df, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(df, "embedding")
    val assigned = model.withBmu(df, "embedding")
    val codes = Similarity.ivfSqAssign(df, "embedding", "vec_id", model, sq)
    // a longer query would otherwise probe, and rank (vec_cosine reads
    // min(len)), on its prefix; a shorter one would run off the
    // codebook row; nProbe = 0 would match no cell and answer empty
    for ((features, nProbe, msg) <- Seq(
           (9, 2, "Received 9 features, expected 8."),
           (7, 2, "Received 7 features, expected 8."),
           (8, 0, "nProbe must be positive, got 0"))) {
      val qs = Seq((500L, Array.fill(features)(0.25)))
      val som = intercept[IllegalArgumentException] {
        Similarity.somTopKAssigned(assigned, model, "embedding", "vec_id", qs,
          k = 3, nProbe = nProbe)
      }
      assert(som.getMessage.contains(msg), som.getMessage)
      val ivfSq = intercept[IllegalArgumentException] {
        Similarity.ivfSqTopKFromCodes(codes, model, sq, qs, kNN = 3, nProbe = nProbe)
      }
      assert(ivfSq.getMessage.contains(msg), ivfSq.getMessage)
    }
  }

  test("IVF+SQ append: batch ingest serves identically to a full rebuild, touching only batch cells") {
    val rnd = new scala.util.Random(31)
    // batch deliberately DRIFTS outside the base range (values up to
    // 1.4 vs base max ~1): the frozen-bounds encode must stay parity
    // through out-of-range codes. It is also CONCENTRATED near the
    // all-high corner so several cells stay untouched — the
    // batch-sized-ingest check below must not be vacuous
    val base = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val batch = (200L until 240L).map(i => (i, Seq.fill(8)(0.8f + rnd.nextFloat() * 0.6f)))
    val baseDf = base.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val allDf = (base ++ batch).toDF("vec_id", "embedding")
    val qs = (base.take(2) ++ batch.take(2)).map { case (i, v) =>
      (i, v.map(_.toDouble).toArray)
    }
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(baseDf, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(baseDf, "embedding") // FROZEN at base
    val dir = java.nio.file.Files.createTempDirectory("ivfsqappend").toFile
    val incPath = new java.io.File(dir, "inc").getAbsolutePath
    val fullPath = new java.io.File(dir, "full").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(baseDf, "embedding", "vec_id", model, sq, incPath)
      def cellFiles(cell: Int): Set[String] =
        Option(new java.io.File(s"$incPath/codes").listFiles())
          .getOrElse(Array.empty).toSet.flatMap { batch: java.io.File =>
            Option(new java.io.File(batch, s"bmu_id=$cell").listFiles())
              .getOrElse(Array.empty)
              .filter(_.getName.endsWith(".parquet")).map(_.getPath)
          }
      val beforeAppend = (0 until 9).map(c => c -> cellFiles(c)).toMap
      Similarity.appendToIvfSqIndex(batchDf, "embedding", "vec_id", model, sq, incPath)
      Similarity.writeIvfSqIndex(allDf, "embedding", "vec_id", model, sq, fullPath)
      val (incCodes, incSq) = Similarity.readIvfSqIndex(spark, incPath)
      val (fullCodes, fullSq) = Similarity.readIvfSqIndex(spark, fullPath)
      // no double rows, no lost rows
      assert(incCodes.count() == 240L)
      // the codes tables are row-for-row identical
      assert(incCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted
        .sameElements(fullCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted))
      // serving parity: appended index == one-shot rebuild
      val incServed = Similarity.ivfSqTopKFromCodes(incCodes, model,
        incSq, qs, kNN = 5, nProbe = 2)
      val fullServed = Similarity.ivfSqTopKFromCodes(fullCodes, model,
        fullSq, qs, kNN = 5, nProbe = 2)
      assert(incServed.collect().map(_.toString).sorted
        .sameElements(fullServed.collect().map(_.toString).sorted))
      // batch-sized ingest: the append wrote files ONLY under the
      // batch's own cells — a cell no batch row landed in still holds
      // exactly the files the base write left there (nothing rewritten)
      val batchCells = Similarity.ivfSqAssign(batchDf, "embedding", "vec_id",
        model, sq).select("bmu_id").distinct().collect().map(_.getInt(0)).toSet
      assert(batchCells.nonEmpty && batchCells.size < 9,
        s"test needs some untouched cells, batch landed in $batchCells")
      (0 until 9).filterNot(batchCells).foreach { cell =>
        assert(cellFiles(cell) == beforeAppend(cell),
          s"append rewrote untouched cell $cell")
      }
      // and base files in TOUCHED cells survive untouched too (append
      // adds files, never replaces)
      batchCells.foreach { cell =>
        assert(beforeAppend(cell).subsetOf(cellFiles(cell)),
          s"append replaced base files in cell $cell")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("IVF index compaction: appended small files merge per cell, rows and serving unchanged") {
    val rnd = new scala.util.Random(41)
    val base = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val baseDf = base.toDF("vec_id", "embedding")
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(baseDf, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(baseDf, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfsqcompact").toFile
    val path = new java.io.File(dir, "idx").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(baseDf, "embedding", "vec_id", model, sq, path)
      // five small appends -> many small files per hot cell
      (0 until 5).foreach { b =>
        val batch = (200L + b * 20L until 220L + b * 20L)
          .map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
        Similarity.appendToIvfSqIndex(batch, "embedding", "vec_id", model, sq, path)
      }
      val (oldCodes, oldSq) = Similarity.readIvfSqIndex(spark, path)
      val (nIn, nOut) = Similarity.compactIvfIndex(spark, path,
        targetFileBytes = 512L * 1024 * 1024)
      assert(nOut < nIn, s"compaction did not reduce files: $nIn -> $nOut")
      assert(graft.sources.IndexLog.snapshot(spark, path).data.size == 1)
      val (newCodes, newSq) = Similarity.readIvfSqIndex(spark, path)
      assert(newSq.mins.sameElements(oldSq.mins) && newSq.maxs.sameElements(oldSq.maxs))
      assert(newCodes.count() == 300L)
      assert(newCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted
        .sameElements(oldCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted))
      // the bmu_id= routing survives: serving still prunes and matches
      val qs = base.take(3).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
      val a = Similarity.ivfSqTopKFromCodes(newCodes, model, newSq, qs,
        kNN = 5, nProbe = 2)
      val b = Similarity.ivfSqTopKFromCodes(oldCodes, model, oldSq, qs,
        kNN = 5, nProbe = 2)
      assert(a.collect().map(_.toString).sorted
        .sameElements(b.collect().map(_.toString).sorted))
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(ad.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
        }.flatten
      scansOf(a.queryExecution.executedPlan).foreach { scan =>
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "bmu_id")),
          "compacted index lost the bmu_id partition filter")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("IVF tombstone deletes: live view excludes ids, compaction folds them, files untouched until then") {
    val rnd = new scala.util.Random(47)
    val rows = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(df, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfsqdelete").toFile
    val path = new java.io.File(dir, "idx").getAbsolutePath
    val refPath = new java.io.File(dir, "ref").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(df, "embedding", "vec_id", model, sq, path)
      val codesDir = new java.io.File(s"$path/codes")
      def fileSet(): Set[String] = {
        def walk(f: java.io.File): Seq[String] =
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f.getAbsolutePath) else Seq.empty
        walk(codesDir).toSet
      }
      val beforeDelete = fileSet()
      // delete 40 ids in two batches (a dedup verdict, then an erasure)
      val dead = ((10L until 40L) ++ (250L until 260L)).toSeq
      Similarity.deleteFromIvfIndex(dead.take(30).toDF("vec_id"), "vec_id", path)
      Similarity.deleteFromIvfIndex(dead.drop(30).toDF("vec_id"), "vec_id", path)
      // immutable code files untouched by deletes
      assert(fileSet() == beforeDelete)
      // the live view excludes exactly the tombstoned ids
      val (live, liveSq) = Similarity.readIvfSqIndex(spark, path)
      assert(live.count() == 260L)
      assert(live.where(col("id").isin(dead: _*)).count() == 0L)
      // serving the live view == serving a rebuild that never had them
      val survivors = rows.filterNot { case (i, _) => dead.contains(i) }
      Similarity.writeIvfSqIndex(survivors.toDF("vec_id", "embedding"),
        "embedding", "vec_id", model, sq, refPath)
      val (refCodes, refSq) = Similarity.readIvfSqIndex(spark, refPath)
      val qs = rows.take(2).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
      val a = Similarity.ivfSqTopKFromCodes(live, model, liveSq, qs,
        kNN = 5, nProbe = 2)
      val b = Similarity.ivfSqTopKFromCodes(refCodes, model, refSq, qs,
        kNN = 5, nProbe = 2)
      assert(a.collect().map(_.toString).sorted
        .sameElements(b.collect().map(_.toString).sorted))
      // in-place compaction with a delete committed between its
      // snapshot and its commit: the fold drops the snapshot's two
      // tombstone files' ids, and the late delete stays live on top
      val snap = graft.sources.IndexLog.snapshot(spark, path)
      Similarity.deleteFromIvfIndex(Seq(100L).toDF("vec_id"), "vec_id", path)
      Similarity.compactIvfSnapshot(spark, path, snap,
        targetFileBytes = 512L * 1024 * 1024)
      val compacted = graft.sources.IndexLog.snapshot(spark, path)
      assert(compacted.data.size == 1 && !compacted.data.exists(snap.data.contains))
      assert(compacted.tombstones.size == 1)
      val (fenced, fencedSq) = Similarity.readIvfSqIndex(spark, path)
      assert(fenced.count() == 259L)
      assert(fenced.where(col("id") === 100L).count() == 0L)
      assert(fenced.where(col("id").isin(dead: _*)).count() == 0L)
      val d = Similarity.ivfSqTopKFromCodes(fenced, model, fencedSq, qs,
        kNN = 5, nProbe = 2)
      val refFenced = Similarity.ivfSqTopKFromCodes(
        refCodes.where(col("id") =!= 100L), model, refSq, qs,
        kNN = 5, nProbe = 2)
      assert(d.collect().map(_.toString).sorted
        .sameElements(refFenced.collect().map(_.toString).sorted))
      // a second compaction folds the late delete too
      Similarity.compactIvfIndex(spark, path)
      assert(graft.sources.IndexLog.snapshot(spark, path).tombstones.isEmpty)
      val (folded, foldedSq) = Similarity.readIvfSqIndex(spark, path)
      assert(folded.count() == 259L)
      assert(Similarity.ivfSqTopKFromCodes(folded, model, foldedSq, qs,
          kNN = 5, nProbe = 2).collect().map(_.toString).sorted
        .sameElements(refFenced.collect().map(_.toString).sorted))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("IVF rebuild at a live path: write -> delete -> write serves every row") {
    val rnd = new scala.util.Random(61)
    val rows = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val model = new graft.som.Som(
      graft.som.SomConfig(2, 2, seed = 42)).fit(df, "embedding", numEpochs = 1)
    val sq = Similarity.sqTrain(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfsqrebuild").toFile
    val path = new java.io.File(dir, "idx").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(df, "embedding", "vec_id", model, sq, path)
      Similarity.deleteFromIvfIndex((0L until 40L).toDF("vec_id"), "vec_id", path)
      assert(Similarity.readIvfSqIndex(spark, path)._1.count() == 80L)
      // the rebuild starts the index over: the earlier delete is gone
      Similarity.writeIvfSqIndex(df, "embedding", "vec_id", model, sq, path)
      val (codes, _) = Similarity.readIvfSqIndex(spark, path)
      assert(codes.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        rows.map(_._1))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("IVF+PQ append: batch ingest serves identically to a full rebuild") {
    val rnd = new scala.util.Random(37)
    val base = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val batch = (200L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val baseDf = base.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val allDf = (base ++ batch).toDF("vec_id", "embedding")
    val qs = (base.take(2) ++ batch.take(2)).map { case (i, v) =>
      (i, v.map(_.toDouble).toArray)
    }
    val model = new graft.som.Som(
      graft.som.SomConfig(3, 3, seed = 42)).fit(baseDf, "embedding", numEpochs = 2)
    val cb = Similarity.pqCodebookFromRows(
      base.take(8).map(_._2.map(_.toDouble).toArray), m = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqappend").toFile
    val incPath = new java.io.File(dir, "inc").getAbsolutePath
    val fullPath = new java.io.File(dir, "full").getAbsolutePath
    try {
      Similarity.writeIvfPqIndex(baseDf, "embedding", "vec_id", model, cb,
        m = 4, k = 8, incPath)
      Similarity.appendToIvfPqIndex(batchDf, "embedding", "vec_id", model, cb,
        m = 4, k = 8, incPath)
      Similarity.writeIvfPqIndex(allDf, "embedding", "vec_id", model, cb,
        m = 4, k = 8, fullPath)
      val incCodes = spark.read.parquet(s"$incPath/codes")
      val fullCodes = spark.read.parquet(s"$fullPath/codes")
      assert(incCodes.count() == 300L)
      val incServed = Similarity.ivfPqTopKFromCodes(incCodes, model, cb,
        m = 4, k = 8, qs, kNN = 5, nProbe = 2)
      val fullServed = Similarity.ivfPqTopKFromCodes(fullCodes, model, cb,
        m = 4, k = 8, qs, kNN = 5, nProbe = 2)
      assert(incServed.collect().map(_.toString).sorted
        .sameElements(fullServed.collect().map(_.toString).sorted))
      // tombstones are layout-agnostic: the PQ read drops them too
      Similarity.deleteFromIvfIndex(
        (250L until 300L).toDF("vec_id"), "vec_id", incPath)
      val (liveCodes, liveCb, liveM, liveK) =
        Similarity.readIvfPqIndex(spark, incPath)
      assert(liveCodes.count() == 250L)
      assert((liveM, liveK) == (4, 8) && liveCb.sameElements(cb))
      val liveServed = Similarity.ivfPqTopKFromCodes(liveCodes, model,
        liveCb, liveM, liveK, qs, kNN = 5, nProbe = 2)
      val refServed = Similarity.ivfPqTopKFromCodes(
        fullCodes.where(col("id") < 250L), model, cb, m = 4, k = 8, qs,
        kNN = 5, nProbe = 2)
      assert(liveServed.collect().map(_.toString).sorted
        .sameElements(refServed.collect().map(_.toString).sorted))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("multimodal decode stub: histogram is normalized, frames sampled") {
    val df = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val feat = Multimodal.decodeFeatures(df, "payload").collect()
    feat.foreach { r =>
      val f = r.getSeq[Double](3)
      assert(f.length == Multimodal.featureDim)
      assert(math.abs(f.sum - 1.0) < 1e-9)
      assert(r.getLong(2) > 0)
    }
    val frames = Multimodal.sampleFrames(df, "payload", "doc_id", frameSize = 8, stride = 2)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getLong(1) % 2 == 0)) // only even frame indices
    assert(frames.forall(_.getLong(2) <= 8))
  }

  test("product quantization: codebook layout, codes, ADC arithmetic, ranking") {
    // 4-dim vectors, m=2 subspaces of 2 dims, k=2 centroids from samples
    val samples = Seq(Array(0.0, 0.0, 10.0, 10.0), Array(1.0, 1.0, 20.0, 20.0))
    val cb = Similarity.pqCodebookFromRows(samples, m = 2)
    // [(j*k + c)*subDim + i]: subspace 0 holds (0,0),(1,1); subspace 1
    // holds (10,10),(20,20)
    assert(cb.toSeq == Seq(0.0, 0.0, 1.0, 1.0, 10.0, 10.0, 20.0, 20.0))

    val vecs = Seq(
      (0L, Seq(0.1f, 0.0f, 19.0f, 19.0f)), // nearest: centroid 0, then 1
      (1L, Seq(0.9f, 1.1f, 11.0f, 9.0f))   // nearest: centroid 1, then 0
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(vecs, "embedding", "vec_id", cb, m = 2, k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == Seq(0, 1), codes(0L))
    assert(codes(1L) == Seq(1, 0), codes(1L))

    // ADC table = exact per-subspace squared L2 from the query
    val q = Array(0.0, 0.0, 10.0, 10.0)
    val t = Similarity.pqAdcTable(q, cb, m = 2, k = 2)
    assert(t.toSeq == Seq(0.0, 2.0, 0.0, 200.0))

    // ADC(q, v0) = t[0] + t[3] = 200; ADC(q, v1) = t[1] + t[2] = 2
    val top = Similarity.pqTopK(vecs, "embedding", "vec_id", cb, m = 2, k = 2,
        Seq((99L, q)), kNN = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(top.toSeq == Seq((1L, 1L, 2.0), (2L, 0L, 200.0)), top.toSeq)
  }

  test("scalar quantization: bounds, hand-computed codes, constant dims") {
    val df = Seq((0L, Array(0.0f, 10.0f)), (1L, Array(1.0f, 20.0f)),
      (2L, Array(0.5f, 15.0f)), (3L, Array(0.25f, 12.5f)))
      .toDF("vec_id", "embedding")
    val m = Similarity.sqTrain(df, "embedding")
    assert(m.mins.toSeq == Seq(0.0, 10.0) && m.maxs.toSeq == Seq(1.0, 20.0))
    val codes = Similarity.sqEncode(df, "embedding", "vec_id", m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(255, 255))
    assert(codes(2L) == Seq(128, 128)) // 127.5 rounds HALF_UP, both dims
    assert(codes(3L) == Seq(64, 64))   // 63.75 -> 64
    // a constant dimension (mx == mn) encodes 0 everywhere
    val cdf = Seq((0L, Array(3.0f, 7.0f)), (1L, Array(4.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val cc = Similarity.sqEncode(cdf, "embedding", "vec_id",
        Similarity.sqTrain(cdf, "embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(cc(0L) == Seq(0, 0) && cc(1L) == Seq(255, 0))
    // validation
    intercept[IllegalArgumentException] {
      Similarity.SqModel(Array(0.0), Array(1.0, 2.0))
    }
    intercept[IllegalArgumentException] {
      Similarity.sqTrain(df.where(col("vec_id") < 0), "embedding")
    }
  }

  test("scalar quantization serving: decoded-grid ranking, self excluded") {
    val rows = Seq(
      (0L, Array(1.0f, 0.1f)),
      (1L, Array(0.9f, 0.2f)),
      (2L, Array(0.1f, 1.0f)),
      (3L, Array(0.5f, 0.6f)))
    val df = rows.toDF("vec_id", "embedding")
    val m = Similarity.sqTrain(df, "embedding")
    val codes = Similarity.sqEncode(df, "embedding", "vec_id", m)
    val q = rows.head._2.map(_.toDouble)
    val got = Similarity.sqTopK(codes, "codes", "id", m, Seq((0L, q)), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // hand re-derivation on the same decoded grid
    def code(v: Double, i: Int): Long =
      if (m.maxs(i) == m.mins(i)) 0L
      else BigDecimal((v - m.mins(i)) * 255.0 / (m.maxs(i) - m.mins(i)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def dec(v: Double, i: Int): Double =
      if (m.maxs(i) == m.mins(i)) m.mins(i)
      else m.mins(i) + code(v, i).toDouble * (m.maxs(i) - m.mins(i)) / 255.0
    val expect = rows.drop(1).map { case (id, v) =>
      val d = v.map(_.toDouble).zipWithIndex.map { case (x, i) => dec(x, i) }
      val dot = d.zip(q).map { case (a, b) => a * b }.sum
      val sim = dot / math.sqrt(d.map(x => x * x).sum * q.map(x => x * x).sum)
      (id, BigDecimal(sim).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(x => (-x._2, x._1)).zipWithIndex
      .map { case ((id, sim), r) => (r + 1L, id, sim) }
    assert(got.toSeq == expect, s"got ${got.toSeq} expect $expect")
    assert(!got.exists(_._2 == 0L)) // self excluded
  }

  test("scalar quantization index: write/read round-trip serves identically") {
    val rows = Seq((0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.2f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.5f, 0.6f)))
    val df = rows.toDF("vec_id", "embedding")
    val m = Similarity.sqTrain(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_sq_").toString
    try {
      Similarity.writeSqIndex(df, "embedding", "vec_id", m, dir)
      val (codes, m2) = Similarity.readSqIndex(spark, dir)
      assert(m2.mins.toSeq == m.mins.toSeq && m2.maxs.toSeq == m.maxs.toSeq)
      val q = Seq((0L, rows.head._2.map(_.toDouble)))
      val direct = Similarity.sqTopK(
        Similarity.sqEncode(df, "embedding", "vec_id", m), "codes", "id",
        m, q, k = 3).orderBy("qid", "rank").collect().toSeq
      val viaIndex = Similarity.sqTopK(codes, "codes", "id", m2, q, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(viaIndex == direct)
    } finally graft.BenchData.deleteRecursively(dir)
  }

  test("as-of join: latest at-or-before match, ties, misses, null keys") {
    val left = Seq(
      (100L, 1L, 50L),  // matches r2 (ts 40 > ts 10)
      (101L, 1L, 10L),  // exact-ts tie with r1 -> inclusive
      (102L, 2L, 99L),  // key 2 has no right rows -> null
      (103L, 1L, 5L)    // before every right row -> null
    ).toDF("id", "k", "ts")
    val right = Seq(
      (1L, 1L, 10L),  // r1
      (2L, 1L, 40L),  // r2
      (3L, 1L, 10L)   // same (k, ts) as r1: max id wins the tie
    ).toDF("id", "k", "ts")
    val out = AsOfJoin.joinAsOf(left, right, "k", "ts")
      .collect().map { r =>
        val m = r.getStruct(r.fieldIndex("asof"))
        r.getLong(0) -> Option(m).map(_.getLong(0))
      }.toMap
    assert(out(100L).contains(2L))
    assert(out(101L).contains(3L)) // inclusive AND id-tie -> max id 3
    assert(out(102L).isEmpty)
    assert(out(103L).isEmpty)

    // null keys partition together (match each other, nothing else)
    val lN = Seq((1L, Option.empty[Long], 10L), (2L, Option(7L), 10L))
      .toDF("id", "k", "ts")
    val rN = Seq((9L, Option.empty[Long], 5L)).toDF("id", "k", "ts")
    val outN = AsOfJoin.joinAsOf(lN, rN, "k", "ts")
      .collect().map { r =>
        val m = r.getStruct(r.fieldIndex("asof"))
        r.getLong(0) -> Option(m).map(_.getLong(0))
      }.toMap
    assert(outN(1L).contains(9L) && outN(2L).isEmpty)
  }

  test("group centroids: exact element-wise means per group") {
    val d = Seq(
      (0L, Seq(1.0f, 2.0f), 0), (1L, Seq(3.0f, 6.0f), 0),
      (2L, Seq(10.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.groupCentroids(d, "embedding", "label")
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> ((x.getDouble(2), x.getLong(3))))
      .toMap
    assert(r((0, 0)) == ((2.0, 2L)) && r((0, 1)) == ((4.0, 2L)))
    assert(r((1, 0)) == ((10.0, 1L)) && r((1, 1)) == ((0.0, 1L)))
  }

  test("PQ index round-trip: write, read back, serve identical top-k") {
    val samples = Seq(Array(0.0, 0.0, 10.0, 10.0), Array(1.0, 1.0, 20.0, 20.0))
    val cb = Similarity.pqCodebookFromRows(samples, m = 2)
    val vecs = (0L until 50L).map(i =>
      (i, Seq((i % 3).toFloat, 1.0f, (10 + i % 7).toFloat, 9.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((99L, Array(0.0, 1.0, 12.0, 9.0)))
    val direct = Similarity.pqTopK(vecs, "embedding", "vec_id", cb,
        m = 2, k = 2, qs, kNN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    try {
      Similarity.writePqIndex(vecs, "embedding", "vec_id", cb, m = 2, k = 2,
        s"$dir/index")
      val (codes, cb2, m2, k2) = Similarity.readPqIndex(spark, s"$dir/index")
      assert(cb2.toSeq == cb.toSeq && m2 == 2 && k2 == 2)
      val served = Similarity.pqTopKFromCodes(codes, cb2, m2, k2, qs, kNN = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(served == direct, s"$served vs $direct")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("trained PQ codebook cuts distortion vs a bad sample codebook") {
    val rnd = new scala.util.Random(5)
    // 400 vectors in 4 tight clusters; the FIRST 4 rows all come from
    // cluster 0, so the sample codebook wastes every centroid on one
    // cluster while the trained quantizer spreads them to the data
    val centers = Seq(Array(0.0, 0, 0, 0), Array(10.0, 10, 0, 0),
      Array(0.0, 0, 10, 10), Array(10.0, 10, 10, 10))
    val data = (0 until 400).map { i =>
      val c = centers(if (i < 4) 0 else i % 4)
      c.map(x => x + rnd.nextGaussian() * 0.1)
    }
    val vecs = data.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
    val fixed = Similarity.pqCodebookFromRows(data.take(4), m = 2)
    val trained = Similarity.pqTrainCodebook(vecs, "embedding", m = 2, k = 4)
    assert(trained.length == fixed.length)
    // distortion = mean exact reconstruction error: ADC of each vector
    // against its own (argmin) codes = sum over subspaces of the min
    // table entry
    def distortion(cb: Array[Double]): Double = data.map { v =>
      val t = Similarity.pqAdcTable(v, cb, m = 2, k = 4)
      (0 until 2).map(j => (0 until 4).map(c => t(j * 4 + c)).min).sum
    }.sum / data.size
    val (dTrained, dFixed) = (distortion(trained), distortion(fixed))
    assert(dTrained < dFixed * 0.5, s"trained=$dTrained fixed=$dFixed")
  }

  test("incremental dedup: batch rows drop against the corpus, exact and near") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different corpus content about engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 0
      (11L, "the quick brown fox jumped over the lazy dog"), // near dup of 0
      (12L, "entirely novel text that matches nothing else"),
      (13L, "entirely novel text that matches nothing else")  // batch-internal dup: KEPT
    ).toDF("doc_id", "text")

    val exact = Dedup.dropExistingDuplicates(batch, corpus, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(11L, 12L, 13L)) // only the exact corpus dup drops

    // the one-token edit sits near true jaccard ~0.4 (3 of 7 word
    // 3-shingles change): 8-row bands would need agreement^8 per band
    // and never collide, so probe with 2-row bands and a threshold
    // under the true similarity
    val near = Dedup.dropNearExisting(batch, corpus, "text", "doc_id",
        minEstJaccard = 0.3, rowsPerBand = 2)
      .collect().map(_.getLong(0)).toSet
    // near dedup also catches the one-token edit; batch-internal dups
    // are deliberately NOT this operator's concern
    assert(near == Set(12L, 13L), near)
  }

  test("semantic dedup: within-cell components only, keep-min survives") {
    import graft.som.{SomConfig, SomModel}
    // 1-D codebook with two far-apart cells at x=0 and x=10: vectors
    // cluster by their first coordinate, and similarity is only tested
    // WITHIN a cell — v0/v1 vs v4 are identical in angle but live in
    // different cells, so they must NOT merge
    val model = SomModel.fromWeights(SomConfig(1, 2),
      Seq(Array(0.0, 0.0, 1.0), Array(10.0, 0.0, 1.0)))
    val vecs = Seq(
      (0L, Array(0.0f, 1.0f, 1.0f)),   // cell 0
      (1L, Array(0.0f, 1.0f, 1.0f)),   // cell 0, exact dup of 0
      (2L, Array(0.0f, -1.0f, 1.0f)),  // cell 0, dissimilar to 0/1
      (3L, Array(0.0f, 1.0f, 1.01f)),  // cell 0, near dup of 0/1
      (4L, Array(9.0f, 1.0f, 1.0f)),   // cell 1 (same direction-ish as 0)
      (5L, Array(9.0f, 1.0f, 1.0f))    // cell 1, exact dup of 4
    ).toDF("vec_id", "embedding")
    val clusters = Dedup.semanticDupClusters(vecs, "embedding", "vec_id",
        model, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = clusters.map(c => c._1 -> c).toMap
    // cell 0: {0,1,3} one component kept by 0; 2 is a singleton (absent)
    assert(byId(0L)._3 == 0L && byId(1L)._3 == 0L && byId(3L)._3 == 0L)
    assert(!byId.contains(2L))
    // cell 1: {4,5} kept by 4 — never merged with cell 0's component
    assert(byId(4L)._3 == 4L && byId(5L)._3 == 4L)
    assert(byId(4L)._2 != byId(0L)._2) // different cells
    assert(clusters.length == 5)

    val kept = Dedup.dropSemanticDuplicates(vecs, "embedding", "vec_id",
        model, threshold = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 4L))
  }

  test("semantic dedup, k-means cells: same core, paper quantizer") {
    import graft.som.{SomConfig, SomModel}
    // same two far-apart cells as the SOM test, expressed as k-means
    // centroids: the quantizer-agnostic core must behave identically
    val km = Kmeans.Model(Array(Array(0.0, 0.0, 1.0), Array(10.0, 0.0, 1.0)))
    val vecs = Seq(
      (0L, Array(0.0f, 1.0f, 1.0f)),   // cell 0
      (1L, Array(0.0f, 1.0f, 1.0f)),   // cell 0, exact dup of 0
      (2L, Array(0.0f, -1.0f, 1.0f)),  // cell 0, dissimilar to 0/1
      (3L, Array(0.0f, 1.0f, 1.01f)),  // cell 0, near dup of 0/1
      (4L, Array(9.0f, 1.0f, 1.0f)),   // cell 1 (same direction as 0)
      (5L, Array(9.0f, 1.0f, 1.0f))    // cell 1, exact dup of 4
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDupClustersKmeans(vecs, "embedding", "vec_id",
        km, threshold = 0.99)
    // the k-means variant reports its cell column as `cid`
    assert(out.columns.toSeq == Seq("id", "cid", "keep_id"))
    val byId = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(0L)._2 == 0L && byId(1L)._2 == 0L && byId(3L)._2 == 0L)
    assert(!byId.contains(2L)) // singleton: not a duplicate-component member
    assert(byId(4L)._2 == 4L && byId(5L)._2 == 4L)
    assert(byId(4L)._1 != byId(0L)._1) // cross-cell pairs never tested
    assert(byId.size == 5)

    // agreement with the SOM variant when both quantizers induce the
    // same cells (codebook == centroids): identical (id, keep_id) sets
    val som = SomModel.fromWeights(SomConfig(1, 2),
      Seq(Array(0.0, 0.0, 1.0), Array(10.0, 0.0, 1.0)))
    val viaSom = Dedup.semanticDupClusters(vecs, "embedding", "vec_id",
        som, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val viaKm = byId.map { case (id, (_, keep)) => (id, keep) }.toSet
    assert(viaSom == viaKm)
  }

  test("duplicate-cluster resolution: chains collapse to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (3L, 9L))
      .toDF("id_a", "id_b")
    val r = Dedup.resolveDuplicateClusters(pairs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // {1,2,3,8,9} is one component (3-9 bridge); {5,6} another
    assert(Seq(1L, 2L, 3L, 8L, 9L).forall(r(_) == 1L), r.toString)
    assert(r(5L) == 5L && r(6L) == 5L)
  }

  test("dropNearDuplicates keeps one representative per near-dup cluster") {
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id",
        minEstJaccard = 0.5)
      .collect().map(_.getLong(0)).toSet
    // docs 0/1 identical and 2 a near dup -> only 0 survives of {0,1,2};
    // distinct docs 3/4/5 survive untouched
    assert(kept.contains(0L) && !kept.contains(1L))
    assert(Set(3L, 4L, 5L).subsetOf(kept)) // incl. the sig-less empty doc
    // doc 2 ("jumped") may fall either side of est_jaccard 0.5
    assert(kept.size == 4 || kept.size == 5)
  }

  test("multimodal resize stride-samples payloads to ~target bytes") {
    val df = docs.where(length(col("text")) > 10)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val r = Multimodal.resize(df, "payload", targetBytes = 16).collect()
    r.foreach { row =>
      val payload = row.getAs[Array[Byte]](1)
      val resized = row.getAs[Array[Byte]](row.fieldIndex("resized"))
      val n = row.getLong(row.fieldIndex("resized_bytes"))
      assert(n == resized.length && n > 0 && n <= 16 + 1)
      // exact stride-sample semantics: bytes at 0, stride, 2*stride, ...
      val stride = math.max((payload.length + 15) / 16, 1)
      val expect = (0 until (payload.length - 1) / stride + 1)
        .map(i => payload(i * stride)).toArray
      assert(resized.sameElements(expect), s"doc ${row.getLong(0)}")
    }
    // identity below target; null payload stays null
    val small = Seq((0L, Array[Byte](1, 2, 3)), (1L, null)).toDF("doc_id", "payload")
    val sr = Multimodal.resize(small, "payload", targetBytes = 16)
      .collect().map(x => x.getLong(0) -> Option(x.getAs[Array[Byte]](2))).toMap
    assert(sr(0L).get.sameElements(Array[Byte](1, 2, 3)))
    assert(sr(1L).isEmpty)
  }

  test("cluster resolution converges on a chain longer than 10 hops") {
    // 40-node path, forced onto the ITERATIVE path (threshold 0):
    // min-label needs O(diameter) rounds without pointer jumping; with
    // jumping it converges well inside maxIters=16
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val r = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = 0).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 40)
    assert(r.values.forall(_ == 0L), r.toString)
    // a genuinely-unconverged run fails loudly instead of returning
    // partially-merged clusters
    intercept[IllegalStateException] {
      Dedup.resolveDuplicateClusters(pairs, maxIters = 1, localEdgeThreshold = 0)
    }
  }

  test("single-task and iterative cluster resolution agree on a random graph") {
    // seeded random graph with chains, cliques, bridges and singleton
    // pairs: the union-find fast path and the pointer-jumping join loop
    // must compute the identical (id, min-reachable-id) fixpoint
    val rnd = new scala.util.Random(42)
    val chains = (0L until 200L).map(i => (i, i + 1))
    val rand = (1 to 300).map(_ => (rnd.nextInt(400).toLong, 500L + rnd.nextInt(200)))
    val pairs = (chains ++ rand).toDF("id_a", "id_b")
    val local = Dedup.resolveDuplicateClusters(pairs)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val iter = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = -1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(local == iter)
  }

  test("cluster resolution drops null-id pairs identically on both paths") {
    // a null id carries no node identity: dropped at the symmetrize
    // step, so the union-find fast path (whose tuple encoder rejects
    // nulls) and the join loop agree instead of diverging by graph size
    val pairs = Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)),
        (None, Some(5L)), (Some(6L), None)).toDF("id_a", "id_b")
    for (thr <- Seq(Long.MaxValue, 0L)) {
      val r = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = thr)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(r == Map(0L -> 0L, 1L -> 0L, 2L -> 0L), s"thr=$thr")
    }
  }

  test("contraction exit: bridged cliques resolve via label-space union-find") {
    // groups of 4 bridged into one long chain: the edge set (606 rows
    // symmetrized) exceeds the forced threshold of 120, but one
    // neighbor-min round contracts it to ~100 label-space edges <= 120,
    // so the iterative path exits through the contraction + union-find
    // compose — and must agree with the default fast path exactly.
    val intra = (0L until 400L).filter(_ % 4 != 0).map(i => (i - i % 4, i))
    val bridges = (0L until 99L).map(g => (g * 4, g * 4 + 4))
    val pairs = (intra ++ bridges).toDF("id_a", "id_b")
    val viaContraction = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = 120)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val viaFastPath = Dedup.resolveDuplicateClusters(pairs)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaContraction == viaFastPath)
    assert(viaContraction.size == 400 && viaContraction.values.forall(_ == 0L))
    // uniform-label exit: a pure clique contracts to ZERO label edges
    val clique = (for (i <- 0L until 8L; j <- i + 1 until 8L) yield (i, j)).toDF("id_a", "id_b")
    val r = Dedup.resolveDuplicateClusters(clique, localEdgeThreshold = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 8 && r.values.forall(_ == 0L))
  }

  test("tree-shaped graphs: iterative loop matches single-task union-find") {
    // Complete binary tree — the bushy extreme (every node's label
    // changes every round; the label space collapses super-
    // geometrically, the opposite of chains). The forced iterative
    // loop and the union-find fast path must agree exactly, and the
    // component minimum (the root, id 0) must label every node.
    val tree = (1L until 512L).map(i => ((i - 1) / 2, i)).toDF("id_a", "id_b")
    val viaLoop = Dedup.resolveDuplicateClusters(tree, localEdgeThreshold = 0)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val viaUnionFind = Dedup.resolveDuplicateClusters(tree)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaLoop == viaUnionFind)
    assert(viaLoop.size == 512 && viaLoop.values.forall(_ == 0L))
  }

  test("cluster resolution is exact for ids near Long.MaxValue under ANSI") {
    // hash-derived ids near 2^63: a long-typed convergence sum would
    // overflow (throwing under ANSI, silently wrapping otherwise) — the
    // decimal(38,0) pre-aggregation cast keeps the fixpoint check exact.
    // Runs the ITERATIVE path under ansi.enabled=true to pin exactly that.
    val top = Long.MaxValue
    val pairs = (0L until 24L).map(i => (top - i - 1, top - i)).toDF("id_a", "id_b")
    val before = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      for (thr <- Seq(0L, Long.MaxValue)) {
        val r = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = thr)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        assert(r.size == 25)
        assert(r.values.forall(_ == top - 24), r.toString)
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("cluster resolution never touches the caller's session conf") {
    // the loop's shuffle-partition/AQE overrides live on a child session;
    // the caller's conf must be byte-identical before, DURING, and after
    // — including the exception path. "During" is observed by a genuinely
    // concurrent query on the caller's session: its shuffle must run at
    // the caller's partition count while the resolve loop (forced
    // iterative, multi-round) runs with its graph-sized override.
    val before = spark.conf.getAll
    val defaultP = spark.conf.get("spark.sql.shuffle.partitions")
    val defaultAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val probe = Future {
      var seen = Vector.empty[(String, String)]
      while (!stop) {
        // a real shuffle on the caller's session, concurrent with the
        // resolve loop, then a snapshot of the conf it planned under
        assert(spark.range(1000).groupBy(col("id") % 7).count().count() == 7)
        seen :+= ((spark.conf.get("spark.sql.shuffle.partitions"),
                   spark.conf.get("spark.sql.adaptive.enabled")))
      }
      seen
    }
    val r = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = 0)
    stop = true
    val observed = Await.result(probe, 60.seconds)
    assert(observed.nonEmpty && observed.forall(_ == ((defaultP, defaultAqe))),
      s"concurrent query saw conf ${observed.distinct}")
    assert(r.sparkSession eq spark) // result lives on the caller's session
    assert(r.count() == 65)
    intercept[IllegalStateException] {
      Dedup.resolveDuplicateClusters(pairs, maxIters = 1, localEdgeThreshold = 0)
    }
    assert(spark.conf.getAll == before)
  }

  test("hash sampling: deterministic, partition-invariant, nested rates") {
    val ids = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def sample(df: org.apache.spark.sql.DataFrame, r: Double) =
      Sampling.sampleByHash(df, "doc_id", r).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val a = sample(ids, 0.25)
    assert(sample(ids.repartition(13), 0.25) == a) // partitioning-invariant
    assert(math.abs(a.size / 2000.0 - 0.25) < 0.05) // near the nominal rate
    assert(a.subsetOf(sample(ids, 0.5))) // raising the rate only adds rows
    // a different salt draws an (almost surely) different sample
    val salted = Sampling.sampleByHash(ids, "doc_id", 0.25, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted != a)
    val sp = Sampling.splitByHash(ids, "doc_id",
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sp.keySet == Set("train", "val", "test"))
    assert(sp.values.sum == 2000L)
    assert(sp("train") > sp("val") * 5 && sp("train") > sp("test") * 5)
    // rate 1.0 is the identity (no strict-< loss of the top hash bucket)
    assert(sample(ids, 1.0).size == 2000)
    // null keys: one deterministic bucket, identical fate in sample and
    // split (not dropped by one and funneled to the last split by the other)
    val withNull = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(null, "n1"), org.apache.spark.sql.Row(null, "n2")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val nullSampled = Sampling.sampleByHash(withNull, "doc_id", 0.5).count()
    assert(nullSampled == 0L || nullSampled == 2L) // both or neither
    val nullSplits = Sampling.splitByHash(withNull, "doc_id",
        Seq("train" -> 1.0, "test" -> 1.0))
      .select("split").distinct().count()
    assert(nullSplits == 1L) // all null keys land in ONE deterministic split
  }

  test("cluster resolution frees its per-round checkpoint blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // forced iterative: the per-round checkpoint lifecycle under test
    val labels = Dedup.resolveDuplicateClusters(pairs, localEdgeThreshold = 0)
    labels.count()
    val afterRun = sc.getPersistentRDDs.size
    // ~6 rounds ran; only the returned labels' checkpoint may remain
    // (Dataset.unpersist is a no-op on checkpoints — GraftBridge frees
    // the underlying RDDs; without it this delta is ~2 per round)
    assert(afterRun - before <= 3,
      s"leaked checkpoint RDDs: $before -> $afterRun")
    org.apache.spark.sql.GraftBridge.freeCheckpoint(labels)
  }

  test("candidate caches: repeated calls + caller unpersist leave no blocks") {
    // pins the documented cache contract on minhashCandidates /
    // simhashCandidates: each call returns ONE persisted DataFrame (its
    // internal signature/fingerprint cache already freed); a caller that
    // unpersists the result leaves the session's block store untouched.
    // Fresh input data: Spark's CacheManager keys entries by PLAN, so
    // reusing `docs` here would alias cache entries persisted (and never
    // released) by other tests in this suite and skew the delta.
    val sc = spark.sparkContext
    val cacheDocs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "iota kappa lambda mu nu xi omicron pi rho sigma")
    ).toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      val mh = Dedup.minhashCandidates(cacheDocs, "text", "doc_id")
      mh.count()
      mh.unpersist(blocking = true)
      val sh = Dedup.simhashCandidates(cacheDocs, "text", "doc_id", maxHamming = 7)
      sh.count()
      sh.unpersist(blocking = true)
    }
    val after = sc.getPersistentRDDs.size
    // <= not ==: earlier tests' NON-BLOCKING unpersists can complete
    // between the two reads and shrink the count; only GROWTH is a leak
    assert(after <= before,
      s"candidate cache leak across repeated calls: $before -> $after persistent RDDs")
  }

  test("quality score is in [0,1] and favors clean prose") {
    val r = docs.select(col("doc_id"), qualityScore(col("text")).as("q"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
    assert(r(0L) > r(4L)) // real sentence beats empty doc
  }

  test("range join == naive θ-join; boundaries inclusive; nulls drop") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 100L))
      .toDF("lid", "k", "ts")
    val right = Seq((7L, 10L, 100L), (8L, 10L, 150L), (9L, 10L, 201L),
        (10L, 20L, 95L), (11L, 30L, 100L))
      .toDF("rid", "k", "ts")
    def pairs(lo: Long, hi: Long): Set[(Long, Long)] =
      AsOfJoin.joinRange(left, right, "k", "ts", lo, hi)
        .select("l_lid", "r_rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def naive(lo: Long, hi: Long): Set[(Long, Long)] =
      left.collect().flatMap { l =>
        right.collect().filter { r =>
          l.getLong(1) == r.getLong(1) &&
          r.getLong(2) >= l.getLong(2) + lo && r.getLong(2) <= l.getLong(2) + hi
        }.map(r => (l.getLong(0), r.getLong(0)))
      }.toSet
    for ((lo, hi) <- Seq((0L, 50L), (1L, 101L), (-10L, 10L), (0L, 0L), (50L, 50L)))
      assert(pairs(lo, hi) == naive(lo, hi), s"window [$lo,$hi]")
    // both endpoints inclusive; lo==hi is the exact-offset join
    assert(pairs(0L, 50L).contains((1L, 7L)) && pairs(0L, 50L).contains((1L, 8L)))
    assert(pairs(50L, 50L) == Set((1L -> 8L)))
    // no duplicate pairs from the two bucket probes of one window
    val dup = AsOfJoin.joinRange(left, right, "k", "ts", 0L, 1000L)
      .groupBy("l_lid", "r_rid").count().where(col("count") > 1).count()
    assert(dup == 0L)
    // partitioning invariance
    assert(AsOfJoin.joinRange(left.repartition(7), right.repartition(3),
      "k", "ts", 0L, 50L).select("l_lid", "r_rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == naive(0L, 50L))
    // null keys and null timestamps drop (inner equi-join semantics)
    val ln = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(99L, null, java.lang.Long.valueOf(100L)),
        org.apache.spark.sql.Row(98L, java.lang.Long.valueOf(10L), null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lid", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType, true),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType, true))))
    assert(AsOfJoin.joinRange(ln, right, "k", "ts", 0L, 1000L).count() == 0L)
    intercept[IllegalArgumentException] {
      AsOfJoin.joinRange(left, right, "k", "ts", 10L, 5L)
    }
  }

  test("range join modes: bucket == naive == auto through one entry point") {
    // dense key 10 (300 rows) + sparse keys — covers both physical regimes
    val left = ((0 until 300).map(i => (i.toLong, 10L, (i * 7).toLong)) ++
      Seq((900L, 20L, 100L), (901L, 30L, 50L))).toDF("lid", "k", "ts")
    val right = ((0 until 300).map(i => (1000L + i, 10L, (i * 11).toLong)) ++
      Seq((1900L, 20L, 120L), (1901L, 40L, 50L))).toDF("rid", "k", "ts")
    def pairs(mode: String): Set[(Long, Long)] =
      AsOfJoin.joinRange(left, right, "k", "ts", 0L, 40L, mode)
        .select("l_lid", "r_rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = pairs("bucket")
    assert(b == pairs("naive") && b == pairs("auto") && b.nonEmpty)
    assert(pairs("bucket") == pairs("naive"))
    intercept[IllegalArgumentException] {
      AsOfJoin.joinRange(left, right, "k", "ts", 0L, 40L, "turbo")
    }
    // auto picks naive when the busiest key is small, bucket when dense
    val sparse = (0 until 100).map(i => (i.toLong, (i % 50).toLong, i.toLong))
      .toDF("rid", "k", "ts")
    assert(AsOfJoin.autoRangeMode(sparse, sparse, "k", "ts") == "naive")
    val dense = (0 until 1000).map(i => (i.toLong, 1L, i.toLong))
      .toDF("rid", "k", "ts")
    assert(AsOfJoin.autoRangeMode(dense, dense, "k", "ts") == "bucket")
    // a hot LEFT key against a sparse right is just as quadratic for
    // the naive plan — the busiest key over BOTH sides must steer auto
    assert(AsOfJoin.autoRangeMode(dense, sparse, "k", "ts") == "bucket")
    assert(AsOfJoin.autoRangeMode(sparse, dense, "k", "ts") == "bucket")
    // an all-null right side degrades to naive (maxPerKey = 0), not a crash
    val rn = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(1L, null, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rid", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType, true),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType, true))))
    assert(AsOfJoin.autoRangeMode(rn, rn, "k", "ts") == "naive")
  }

  test("fixed-size per-stratum sample: bounded aggregate, exact counts") {
    val d = (0L until 500L).map(i => (i, if (i % 5 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val got = Sampling.sampleFixedPerStratum(d, "doc_id", "lang", n = 10)
    val counts = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 10L, "b" -> 10L))
    // partitioning-invariant selection (keep-n-smallest is a semilattice)
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids13 = Sampling.sampleFixedPerStratum(d.repartition(13), "doc_id",
      "lang", n = 10).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ids13)
    // a stratum smaller than n returns whole (min(n, |stratum|))
    val small = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "lang")
    val sc2 = Sampling.sampleFixedPerStratum(small, "doc_id", "lang", n = 10)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sc2 == Map("x" -> 2L, "y" -> 1L))
    // NULL stratum forms its own stratum (null-safe semi-join)
    val withNull = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(java.lang.Long.valueOf(1L), null),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(2L), null),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(3L), "z")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType, true))))
    assert(Sampling.sampleFixedPerStratum(withNull, "doc_id", "lang", 1).count() == 2L)
    // the plan is an AGGREGATE, not a per-stratum window: no WindowExec,
    // and the aggregate is the object-hash (partial-capable) operator
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"per-stratum window in plan:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no partial aggregate:\n$plan")
  }

  test("weighted sampling: deterministic E-S race, TakeOrdered plan") {
    val d = (0L until 1000L).map(i => (i, if (i < 500L) 1.0 else 20.0))
      .toDF("doc_id", "w")
    val got = Sampling.sampleByWeight(d, "doc_id", "w", k = 100)
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 100)
    // partitioning-invariant
    val ids7 = Sampling.sampleByWeight(d.repartition(7), "doc_id", "w", k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids7 == ids)
    // weight-20 rows should dominate a 100-of-1000 draw overwhelmingly
    assert(ids.count(_ >= 500L) > 80, s"heavy rows: ${ids.count(_ >= 500L)}")
    // zero/negative/null weights can never win
    val dz = Seq((1L, 0.0), (2L, -3.0), (3L, 5.0)).toDF("doc_id", "w")
    assert(Sampling.sampleByWeight(dz, "doc_id", "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    // bounded per-partition top-k, never a global sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"global sort in plan:\n$plan")
  }

  test("edit verification: code-point levenshtein, banded threshold") {
    val d = Seq(
      (0L, "kitten ran home"), (1L, "sitting ran home"),
      (2L, "café au lait"), (3L, "cafe au lait"),
      (4L, "totally unrelated text that differs everywhere")
    ).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (2L, 3L), (0L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.editVerifiedPairs(d, "text", "doc_id", pairs,
        prefixLen = 64, maxDist = 10)
      .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b")) ->
        (x.getAs[Int]("dist"), x.getAs[Double]("edit_sim"))).toMap
    assert(r((0L, 1L))._1 == 3) // kitten -> sitting, classic 3
    // é vs e is ONE code-point edit (byte-based would say 2)
    assert(r((2L, 3L))._1 == 1)
    assert(!r.contains((0L, 4L))) // past maxDist: banded DP exits, pair drops
    assert(r((2L, 3L))._2 == math.rint((1.0 - 1.0 / 12) * 1e6) / 1e6)
  }

  test("quality logit: sigmoid of rounded features, prose beats noise") {
    val d = Seq(
      (0L, "the quick brown fox and the lazy dog were in a field of green"),
      (1L, "x9$ 77## @@@@ 0x1f 0x2e 9999 $$$$"),
      (2L, "")
    ).toDF("doc_id", "text")
    val r = Corpus.qualityLogit(d, "text", "doc_id")
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Double]("score"), x.getAs[Boolean]("keep"))).toMap
    assert(r.values.forall { case (s, _) => s > 0.0 && s < 1.0 })
    assert(r(0L)._1 > r(1L)._1, s"prose must outscore noise: $r")
    // empty doc: every feature 0 -> sigmoid(bias) exactly
    assert(r(2L)._1 == BigDecimal(1.0 / (1.0 + math.exp(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r(0L)._2 || !r(0L)._2) // keep is well-defined (no nulls)
    // threshold is applied to the ROUNDED score
    val all = Corpus.qualityLogit(d, "text", "doc_id", threshold = 0.0)
    assert(all.collect().forall(_.getAs[Boolean]("keep")))
  }

  test("vocab stats: exact counts; HLL sketch lands within tolerance") {
    val d = Seq(
      (0L, "a b c a"), (1L, "b c d"), (2L, "")
    ).toDF("doc_id", "text")
    val ex = Corpus.vocabStats(d, "text", exact = true).collect().head
    assert(ex.getAs[Long]("n_vocab") == 4L && ex.getAs[Long]("n_instances") == 7L)
    // sketch mode: same instance count, distinct within HLL tolerance
    val ap = Corpus.vocabStats(d, "text").collect().head
    assert(ap.getAs[Long]("n_instances") == 7L)
    assert(math.abs(ap.getAs[Long]("n_vocab") - 4L) <= 1L)
    // at a realistic cardinality the sketch stays within ~5%
    val big = (0L until 2000L).map(i => (i, s"tok$i tok${i + 1} shared"))
      .toDF("doc_id", "text")
    val exBig = Corpus.vocabStats(big, "text", exact = true).collect().head.getAs[Long]("n_vocab")
    val apBig = Corpus.vocabStats(big, "text").collect().head.getAs[Long]("n_vocab")
    assert(math.abs(apBig - exBig).toDouble / exBig < 0.05,
      s"HLL drift: exact=$exBig approx=$apBig")
  }

  test("keep-best cluster resolution: argmax score, min-id ties, no window") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "keep_id")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (7L, 0.5), (8L, 0.5))
      .toDF("id", "score")
    val r = Dedup.keepBestPerCluster(labels, scores)
      .collect().map(x => x.getAs[Long]("cluster") ->
        (x.getAs[Long]("best_id"), x.getAs[Double]("best_score"),
         x.getAs[Long]("n_members"))).toMap
    assert(r(1L) == ((2L, 0.9, 3L))) // 2 and 3 tie on score -> min id
    assert(r(7L) == ((7L, 0.5, 2L)))
    val plan = Dedup.keepBestPerCluster(labels, scores)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"per-cluster window in plan:\n$plan")
  }

  test("markup stripping: tags, script blocks, entities, escape order") {
    val d = Seq(
      (0L, "<html><body><p>Hello <b>world</b></p></body></html>"),
      (1L, "before<script type=\"text/js\">var x = '<p>not text</p>';</script>after"),
      (2L, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"),
      (3L, "&amp;lt;stays-literal&amp;gt;"),
      (4L, "<STYLE>h1 { color: red }</STYLE>plain"),
      (5L, "no markup at all")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), stripMarkup(col("text")).as("c"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(0L) == "Hello world")
    assert(r(1L) == "before after") // script INNER TEXT dropped, not just tags
    assert(r(2L) == "a & b <tag> \"q\" 's' end")
    assert(r(3L) == "&lt;stays-literal&gt;") // escaped markup stays literal
    assert(r(4L) == "plain") // (?i): upper-case STYLE block
    assert(r(5L) == "no markup at all")
  }

  test("group quantiles: exact interpolation; sketch within tolerance") {
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("b", 10L))
      .toDF("g", "v")
    val ex = Corpus.groupQuantiles(d, "v", "g", Seq(0.5, 0.75), exact = true)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(ex(("a", 0.5)) == 2.5) // p*(n-1)=1.5 -> 2 + 0.5*(3-2)
    assert(ex(("a", 0.75)) == 3.25)
    assert(ex(("b", 0.5)) == 10.0) // singleton group
    // sketch mode agrees on tiny data (accuracy >> n)
    val ap = Corpus.groupQuantiles(d, "v", "g", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(ap("a") - 2.5) <= 1.0 && ap("b") == 10.0)
    intercept[IllegalArgumentException] {
      Corpus.groupQuantiles(d, "v", "g", Seq(1.5))
    }
  }

  test("histogram: exact floor alignment incl. negatives, nulls drop") {
    val d = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(java.lang.Long.valueOf(0L)),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(99L)),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(100L)),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(-5L)),
        org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true))))
    val h = Corpus.histogram(d, "v", width = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // -5 floors to -100 (pmod alignment), never to 0 (truncation bug)
    assert(h == Map(0L -> 2L, 100L -> 1L, -100L -> 1L), h.toString)
  }

  test("hashed shingle sets: sorted-merge jaccard == naive set jaccard") {
    // the dedup_pr ground-truth leg: md5-hashed sorted shingle sets +
    // codegen sorted_inter_count must equal the plain set jaccard
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumped over the lazy dog"),
      (2L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val hs = d.select(col("doc_id"),
      array_sort(array_distinct(transform(wordShingles(col("text"), 3),
        x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))).as("hs"),
      array_distinct(wordShingles(col("text"), 3)).as("sh"))
    val rows = hs.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getSeq[Long](1).toSet, r.getSeq[String](2).toSet)).toMap
    for (a <- Seq(0L, 1L); b <- Seq(1L, 2L) if a < b) {
      val naive = rows(a)._2.intersect(rows(b)._2).size.toDouble /
        rows(a)._2.union(rows(b)._2).size
      val viaHash = {
        val ha = rows(a)._1; val hb = rows(b)._1
        ha.intersect(hb).size.toDouble / ha.union(hb).size
      }
      assert(naive == viaHash, s"pair ($a,$b)")
    }
    // the codegen kernel agrees with the Set-based computation
    val pair = hs.select(col("hs")).collect()
    val k = graft.plans.HashKernels.sortedInterCount(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        pair(0).getSeq[Long](0).toArray),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        pair(1).getSeq[Long](0).toArray))
    assert(k == rows(0L)._1.intersect(rows(1L)._1).size)
  }

  test("embedding norm stats: exact norms on known vectors") {
    val mk = (xs: Seq[Double]) => xs.map(_.toFloat).toArray
    val d = Seq(
      (0L, mk(Seq(3.0, 4.0)), 0), (1L, mk(Seq(0.0, 0.0)), 0),
      (2L, mk(Seq(1.0, 0.0)), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = d.select(col("label").cast("long").as("label"),
        sqrt(graft.plans.VecFunctions.vec_dot(col("embedding"), col("embedding"))).as("nrm"))
      .groupBy("label")
      .agg(round(min("nrm"), 6).as("mn"), round(max("nrm"), 6).as("mx"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(0L) == ((0.0, 5.0))) // 3-4-5 triangle; zero vector -> 0
    assert(r(1L) == ((1.0, 1.0)))
  }

  test("fingerprint index: indexed gate == anti-join, IN pushes to scan") {
    val d = Seq(
      (0L, "shared duplicate text", "corpus"),
      (1L, "corpus only text", "corpus"),
      (2L, "shared duplicate text", "batch"), // dup of 0 -> drops
      (3L, "fresh batch text", "batch"),
      (4L, "another fresh one", "batch")
    ).toDF("doc_id", "text", "side")
    val corpus = d.where(col("side") === "corpus")
    val batch = d.where(col("side") === "batch")
    val idx = java.nio.file.Files.createTempDirectory("fpidx_spec").toString
    try {
      Dedup.writeFingerprintIndex(corpus, "text", idx, numPartitions = 2)
      val bloom = Dedup.corpusFingerprintBloom(corpus, "text",
        expectedItems = 4, fpp = 0.03)
      val expect = Dedup.dropExistingDuplicates(batch, corpus, "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(expect == Set(3L, 4L))
      // pushdown route (default maxPushdown)
      val viaIdx = Dedup.dropExistingDuplicatesIndexed(batch, idx, "text",
        "doc_id", bloom)
      assert(viaIdx.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
      // the confirm read reaches the index scan as a pushed filter
      // (Catalyst folds a 1-element IN to EqualTo; both row-group-skip)
      val plan = viaIdx.queryExecution.executedPlan.toString
      assert(plan.contains("In(fp") || plan.contains("EqualTo(fp"),
        s"no fp pushdown on the index scan:\n$plan")
      // fallback route: maxPushdown = 0 forces the broadcast semi-join
      val viaJoin = Dedup.dropExistingDuplicatesIndexed(batch, idx, "text",
        "doc_id", bloom, maxPushdown = 0)
      assert(viaJoin.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("column profile: one pass, exact and approx modes, null accounting") {
    val d = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("a", java.lang.Long.valueOf(1L)),
        org.apache.spark.sql.Row("b", java.lang.Long.valueOf(2L)),
        org.apache.spark.sql.Row(null, java.lang.Long.valueOf(2L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType, true),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType, false))))
    val p = Corpus.columnProfile(d, Seq("s", "n"), exact = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("s") == ((3L, 1L, 2L, "a", "b")))
    assert(p("n") == ((3L, 0L, 2L, "1", "2")))
    // approx mode agrees on tiny cardinalities and still runs one pass
    val pa = Corpus.columnProfile(d, Seq("s", "n"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(pa("s") == 2L && pa("n") == 2L)
    intercept[IllegalArgumentException] {
      Corpus.columnProfile(d, Seq("missing"))
    }
  }
}
