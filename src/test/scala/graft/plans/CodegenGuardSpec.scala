package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression guard: every custom expression must actually COMPILE under
  * codegen. Spark's default behavior on a Janino compile error is a
  * silent per-query fallback to interpreted eval — results stay correct
  * while 10x the performance disappears (this bit us: generated calls to
  * `Obj.MODULE$` don't resolve under Janino; only a log line showed it).
  * `CODEGEN_ONLY` + `fallback=false` turn that silent downgrade into a
  * loud test failure.
  */
class CodegenGuardSpec extends SparkSpec {
  import spark.implicits._

  private def withCodegenOnly[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("all custom expressions compile under CODEGEN_ONLY (no silent fallback)") {
    withCodegenOnly {
      val docs = Seq((0L, "alpha beta gamma delta", Array[Byte](1, 2, 3, 4, 5)),
                     (1L, "alpha beta gamma zeta", Array[Byte](9, 8, 7)))
        .toDF("id", "text", "payload")
      val sigged = docs.select(
        col("id"),
        GraftFunctions.minhash_sig(col("text"), 16, 2).as("sig"),
        GraftFunctions.simhash64(col("text")).as("fp"),
        GraftFunctions.byte_stride(col("payload"), 2).as("bs"),
        GraftFunctions.byte_histogram(col("payload")).as("bh"),
        GraftFunctions.char_ngram_set(col("text"), 3).as("ng"))
      // text-curation kernels: both input paths + the reference-object
      // wiring (HashMap / HashSet / String[] refs must survive codegen)
      val tk = docs.select(
          size(GraftFunctions.tokens_of(col("text"))).as("ntok"),
          size(GraftFunctions.word_shingles(col("text"), 2)).as("nwsh"),
          GraftFunctions.regex_count(col("text"), "[a-z]+").as("nrx"),
          size(GraftFunctions.token_tf(col("text"))).as("ntf"),
          size(GraftFunctions.char_shingles(col("text"), 3)).as("ncsh"),
          GraftFunctions.lang_id_of(col("text"),
            graft.functions.TextFunctions.langMarkers).as("lang"),
          GraftFunctions.gopher_stats(col("text"), Seq("alpha", "beta")).as("st"),
          GraftFunctions.gopher_stats(split(col("text"), " "), Seq("alpha")).as("st2"),
          GraftFunctions.nfc_normalize(concat(col("text"), lit("é"))).as("nfc"),
          GraftFunctions.char_entropy(col("text")).as("ce"))
        .collect()
      assert(tk.forall(_.getInt(0) == 4))
      assert(tk.forall(_.getInt(1) == 3)) // 4 tokens -> 3 distinct bigrams
      assert(tk.forall(_.getInt(2) == 4)) // four lowercase-letter runs
      assert(tk.forall(_.getInt(3) == 4)) // 4 distinct terms per doc
      assert(tk.forall(_.getInt(4) > 0))
      assert(tk.forall(_.getString(5).nonEmpty))
      assert(tk.head.getSeq[Long](6) == Seq(4L, 19L, 4L, 2L), tk.head.getSeq[Long](6))
      assert(tk.head.getSeq[Long](7).head == 4L)
      assert(tk.forall(_.getStruct(9).getDouble(2) > 0.0)) // entropy of real text
      val ngr = sigged.alias("a").join(sigged.alias("b"),
          col("a.id") < col("b.id"))
        .select(GraftFunctions.sorted_inter_count(col("a.ng"), col("b.ng")).as("inter"),
          element_at(col("a.bh"), 1).as("h0"),
          size(GraftFunctions.band_folds(col("a.sig"), 4)).as("nb"),
          GraftFunctions.band_agree(col("a.sig"), col("b.sig"), 4).as("ba"))
        .collect()
      assert(ngr.length == 1 && ngr.head.getInt(0) > 0)
      assert(ngr.head.getDouble(1) >= 0.0)
      assert(ngr.head.getInt(2) == 4) // 16 hashes / 4 per band
      val r = sigged.alias("a").join(sigged.alias("b"),
          col("a.id") < col("b.id"))
        .select(GraftFunctions.sig_agreement(col("a.sig"), col("b.sig")).as("est"))
        .collect()
      assert(r.length == 1 && r.head.getDouble(0) > 0.0)

      val vecs = Seq((0L, Seq(1.0f, 2.0f, 3.0f)), (1L, Seq(3.0f, 2.0f, 1.0f)))
        .toDF("id", "v")
      val planes = Array.fill(2 * 4 * 3)(0.5)
      val vr = vecs.alias("a").join(vecs.alias("b"), col("a.id") < col("b.id"))
        .select(
          VecFunctions.vec_cosine(col("a.v"), col("b.v")).as("cos"),
          VecFunctions.vec_dot(col("a.v"), col("b.v")).as("dot"),
          VecFunctions.vec_l2sq(col("a.v"), col("b.v")).as("l2"))
        .collect()
      assert(vr.length == 1 && vr.head.getDouble(1) == 10.0)
      val lb = vecs.select(VecFunctions.lsh_buckets(col("v"), planes, 2, 4, 3))
        .collect()
      assert(lb.forall(_.getSeq[Int](0).length == 2))

      val weights = Array(0.0, 0.0, 0.0, 1.0, 2.0, 3.0)
      val bmus = vecs.select(
          SomBmuFunctions.som_bmu(col("v"), weights, 3).as("bmu"),
          SomBmuFunctions.som_qdist(col("v"), weights, 3).as("qd"))
        .collect()
      // partial euclidean -2*dot + wSq: both vectors are closer to
      // neuron 1 (dot 14 -> -14, dot 10 -> -6; neuron 0 scores 0)
      assert(bmus.map(_.getInt(0)).toSeq == Seq(1, 1))
      assert(bmus.map(_.getDouble(1)).forall(_ >= 0.0))

      // k-means kernel: struct-returning argmin
      val km = vecs.select(
          KmeansFunctions.kmeans_assign(col("v"), weights, 3).as("a"))
        .collect()
      assert(km.map(_.getStruct(0).getInt(0)).toSeq == Seq(1, 1))
      assert(km.forall(_.getStruct(0).getDouble(1) >= 0.0))

      // logit scoring: round-6 of the algebraic sigmoid
      val lw = Array(0.0, 1.0, -1.0)
      val lvecs = Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 0.0, 0.0)).toDF("x")
      val lg = lvecs.select(LogitFunctions.logit_score(col("x"), lw).as("s"))
        .collect()
      // row 1: z=-1 -> p=0.25; row 2: z=0 -> p=0.5
      assert(lg.map(_.getDouble(0)).toSeq == Seq(0.25, 0.5))

      // PQ: m=1 subspace of 3 dims, 2 centroids = the two vectors
      // themselves; each encodes to itself and ADC to an all-zeros
      // table is 0
      val pqcb = Array(1.0, 2.0, 3.0, 3.0, 2.0, 1.0)
      val pq = vecs.select(
          GraftFunctions.pq_encode(col("v"), pqcb, 1, 3, 2).as("codes"))
        .select(col("codes"),
          GraftFunctions.pq_adc(col("codes"), Array(0.0, 0.0), 2).as("adc"))
        .collect()
      assert(pq.map(_.getSeq[Int](0).head).toSeq == Seq(0, 1))
      assert(pq.forall(_.getDouble(1) == 0.0))

      // SQ: per-dim bounds spanning the two vectors — encode round-trips
      // through decode onto the exact grid ends (0 -> mn, 255 -> mx)
      val sqMn = Array(1.0, 2.0, 1.0)
      val sqMx = Array(3.0, 2.0, 3.0) // dim 1 constant: code 0, decode mn
      val sq = vecs.select(
          SqFunctions.sq_encode(col("v"), sqMn, sqMx).as("codes"))
        .select(col("codes"),
          SqFunctions.sq_decode(col("codes"), sqMn, sqMx).as("dec"))
        .collect()
      assert(sq.map(_.getSeq[Int](0)).toSeq ==
        Seq(Seq(0, 0, 255), Seq(255, 0, 0)))
      assert(sq.map(_.getSeq[Double](1)).toSeq ==
        Seq(Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)))

      // bloom probe: the Serializable sketch must survive the
      // reference-object wiring into the generated class
      val bloom = org.apache.spark.util.sketch.BloomFilter.create(16, 0.01)
      bloom.putBinary("alpha beta gamma delta".getBytes("UTF-8"))
      val br = docs.select(
          GraftFunctions.bloom_contains(col("text"), bloom).as("hit"))
        .orderBy(col("hit").desc).collect()
      assert(br.head.getBoolean(0)) // inserted text probes true (no false negatives)
    }
  }
}
