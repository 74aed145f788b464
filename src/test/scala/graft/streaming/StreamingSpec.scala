package graft.streaming

import graft.SparkSpec
import graft.som.{Codebook, Som, SomConfig, SomModel}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming: BMU tagging on a stream, watermarked windowed
  * activation response, and incremental (foreachBatch) training.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureModel: SomModel = {
    val rows = (0 until 25).map { n =>
      val (i, j) = (n / 5, n % 5)
      Array(if (i == 2 && j == 3) 5.0 else if (i == 1 && j == 1) 2.0 else 0.0)
    }
    SomModel.fromWeights(SomConfig(5, 5), rows)
  }

  test("streaming BMU assignment via the som_bmu expression") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val tagged = StreamingSom.assignBmu(
      input.toDF().toDF("id", "features"), fixtureModel)
    val q = tagged.writeStream.format("memory").queryName("bmu_out")
      .outputMode("append").start()
    try {
      input.addData((0L, Seq(5.0f)), (1L, Seq(2.0f)))
      q.processAllAvailable()
      val out = spark.table("bmu_out").collect()
        .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
      assert(out(0L) == ((13, 2, 3)))
      assert(out(1L) == ((6, 1, 1)))
    } finally q.stop()
  }

  test("k-means assignment runs stateless on a stream, matching batch") {
    // kmeans_assign is a pure codegen expression (centroids ride in the
    // expression), so a trained model serves a stream with no state —
    // the online half of the cluster-routing story
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i * 31 + 5)
      (i.toLong, Seq.fill(6)(rnd.nextDouble() * 2 - 1))
    }
    val batchDf = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val model = graft.operators.Kmeans.fit(batchDf, "embedding", "vec_id",
      k = 4, iters = 2)
    val expected = graft.operators.Kmeans.assign(
      batchDf, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val input = MemoryStream[(Long, Seq[Double])]
    val assigned = graft.operators.Kmeans.assign(
      input.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id", model)
    val q = assigned.writeStream.format("memory").queryName("km_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(25): _*)
      q.processAllAvailable()
      input.addData(rows.drop(25): _*)
      q.processAllAvailable()
      val got = spark.table("km_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == expected, "stream assignment diverged from batch")
    } finally q.stop()
  }

  test("incremental k-means over micro-batches: one full batch == one Lloyd's iteration, inertia drops") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 60).map { i =>
      val rnd = new scala.util.Random(i * 17 + 3)
      (i.toLong, Seq.fill(5)(rnd.nextDouble() * 2 - 1))
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val init = graft.operators.Kmeans.Model(
      graft.operators.Kmeans.initCentroids(df, "embedding", "vec_id", 4))

    // ONE update over the whole dataset == one batch Lloyd's iteration
    // (fit with the same salt/k and iters=1)
    val inc1 = new StreamingSom.IncrementalKmeans(init)
    inc1.update(df, "embedding", "vec_id")
    val oneIter = graft.operators.Kmeans.fit(df, "embedding", "vec_id",
      k = 4, iters = 1)
    for (j <- 0 until 4)
      assert(inc1.model.centroids(j).sameElements(oneIter.centroids(j)),
        s"one-shot incremental update diverged from fit(iters=1) at $j")

    // streamed micro-batches == the same updates applied sequentially,
    // and the final model's inertia beats the init's
    val trainer = new StreamingSom.IncrementalKmeans(init)
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        trainer.update(b, "embedding", "vec_id")
      }.start()
    try {
      input.addData(rows.take(30): _*); q.processAllAvailable()
      input.addData(rows.drop(30): _*); q.processAllAvailable()
    } finally q.stop()
    val replay = new StreamingSom.IncrementalKmeans(init)
    replay.update(spark.createDataFrame(rows.take(30))
      .toDF("vec_id", "embedding"), "embedding", "vec_id")
    replay.update(spark.createDataFrame(rows.drop(30))
      .toDF("vec_id", "embedding"), "embedding", "vec_id")
    for (j <- 0 until 4)
      assert(trainer.model.centroids(j).sameElements(replay.model.centroids(j)),
        s"streamed updates diverged from the sequential replay at $j")
    def inertia(m: graft.operators.Kmeans.Model): Double =
      graft.operators.Kmeans.assign(df, "embedding", "vec_id", m)
        .agg(org.apache.spark.sql.functions.sum("d2")).head().getDouble(0)
    assert(inertia(trainer.model) < inertia(init),
      "incremental training did not reduce inertia")
  }


  test("incremental k-means: one job per update; an empty batch leaves the model as it is") {
    import graft.operators.Kmeans
    val rows = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i * 7 + 1)
      (i.toLong, Seq.fill(3)(rnd.nextDouble()))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4))
      .toDF("vec_id", "embedding")
    val trainer = new StreamingSom.IncrementalKmeans(
      Kmeans.Model(Kmeans.initCentroids(df, "embedding", "vec_id", 3)))
    // the block pass alone: no emptiness probe before it
    val (_, jobs) = graft.Probe.recordJobs(spark)(trainer.update(df, "embedding", "vec_id"))
    assert(jobs.size == 1)
    val before = trainer.model.centroids.map(_.toSeq).toSeq
    for (empty <- Seq(df.where("vec_id < 0"), df.where(col("embedding").isNull),
        spark.sparkContext.parallelize(rows, 4).filter(_ => false).toDF("vec_id", "embedding"))) {
      trainer.update(empty, "embedding", "vec_id")
      assert(trainer.model.centroids.map(_.toSeq).toSeq == before)
    }
  }
  test("PQ encoding runs stateless on a stream, matching batch") {
    // pq_encode is a pure codegen expression (codebook rides in the
    // expression), so an ingest pipeline can emit the compact codes
    // column at stream time — no state, append mode
    implicit val sqlCtx = spark.sqlContext
    val cb = graft.operators.Similarity.pqCodebookFromRows(
      Seq(Array(0.0, 0.0), Array(5.0, 5.0)), m = 2)
    val rows = Seq((0L, Seq(0.4f, 4.9f)), (1L, Seq(4.8f, 0.1f)))
    val input = MemoryStream[(Long, Seq[Float])]
    val encoded = graft.operators.Similarity.pqEncode(
      input.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      cb, m = 2, k = 2)
    val q = encoded.writeStream.format("memory").queryName("pq_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("pq_out").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val batch = graft.operators.Similarity.pqEncode(
        rows.toDF("vec_id", "embedding"), "embedding", "vec_id",
        cb, m = 2, k = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(streamed == batch)
      assert(streamed(0L) == Seq(0, 1) && streamed(1L) == Seq(1, 0))
    } finally q.stop()
  }

  test("SQ encoding runs stateless on a stream, matching batch") {
    // sq_encode is a pure codegen expression (per-dim bounds ride in
    // the expression), so the int8 ingest tier emits codes at stream
    // time — no state, append mode
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.Similarity.SqModel(
      Array(0.0, 0.0), Array(5.0, 5.0))
    val rows = Seq((0L, Seq(0.0f, 5.0f)), (1L, Seq(2.5f, 1.25f)))
    val input = MemoryStream[(Long, Seq[Float])]
    val encoded = graft.operators.Similarity.sqEncode(
      input.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      model)
    val q = encoded.writeStream.format("memory").queryName("sq_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sq_out").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val batch = graft.operators.Similarity.sqEncode(
        rows.toDF("vec_id", "embedding"), "embedding", "vec_id", model)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(streamed == batch)
      // 0.0 -> 0, 5.0 -> 255, 2.5 -> 127.5 HALF_UP 128, 1.25 -> 63.75 -> 64
      assert(streamed(0L) == Seq(0, 255) && streamed(1L) == Seq(128, 64))
    } finally q.stop()
  }

  test("PqServer: streamed query micro-batches get the same answers as one batch") {
    // online ANN serving: static PQ index, query stream; each
    // micro-batch is answered by ONE scan of the codes via
    // pqTopKFromCodes, and per-query independence means the union
    // of micro-batch answers == the single all-queries batch answer
    implicit val sqlCtx = spark.sqlContext
    val dim = 4
    def vec(seed: Long): Array[Double] =
      Array.tabulate(dim)(j => math.sin(seed * 0.7 + j * 1.3))
    val corpus = (0L until 64L).map(i => (i, vec(i).toSeq)).toDF("id", "embedding")
    val cb = graft.operators.Similarity.pqCodebookFromRows(
      (0 until 16).map(i => vec(i * 37L + 5)), m = 2)
    val codes = graft.operators.Similarity.pqEncode(
      corpus, "embedding", "id", cb, m = 2, k = 16)
    codes.persist(); codes.count()
    try {
      val server = new StreamingSom.PqServer(codes, cb, m = 2, k = 16, kNN = 3)
      val queries = (100L until 110L).map(q => (q, vec(q * 3 + 1).toSeq))
      val input = MemoryStream[(Long, Seq[Double])]
      val answers = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
      val q = input.toDF().toDF("id", "embedding").writeStream
        .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
          answers.synchronized {
            answers ++= server.answer(mb).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          }; ()
        }.start()
      try {
        input.addData(queries.take(4): _*); q.processAllAvailable()
        input.addData(queries.drop(4): _*); q.processAllAvailable()
      } finally q.stop()
      val batch = graft.operators.Similarity.pqTopKFromCodes(
          codes, cb, m = 2, k = 16,
          queries.map(p => (p._1, p._2.toArray)), kNN = 3, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(answers.sorted == batch.toSeq.sorted)
      assert(answers.map(_._1).distinct.sorted == queries.map(_._1))
      // the bound is enforced, not advisory
      val tiny = new StreamingSom.PqServer(codes, cb, 2, 16, 3, maxQueriesPerBatch = 2)
      val err = intercept[IllegalArgumentException] {
        tiny.answer(queries.take(3).toDF("id", "embedding"))
      }
      assert(err.getMessage.contains("maxQueriesPerBatch"))
      // an empty micro-batch answers empty with the contract schema
      val empty = server.answer(queries.take(0).toDF("id", "embedding"))
      assert(empty.columns.toSeq == Seq("qid", "rank", "nid", "adc"))
      assert(empty.count() == 0)
    } finally codes.unpersist()
  }

  test("curation filters run stateless on a stream, matching batch") {
    // gopherFilter / quality scoring are pure expression pipelines, so
    // they apply to a streaming DataFrame unchanged (no state, append
    // mode) — the filter-at-ingest shape of a production corpus pipeline
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (0L, "the cat sat on the mat today fine and it was the best of days"),
      (1L, "x x x"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
    val input = MemoryStream[(Long, String)]
    val filtered = graft.operators.Corpus.gopherFilter(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      minTok = 5, maxTok = 100, minStopHits = 1)
    val q = filtered.writeStream.format("memory").queryName("gopher_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("gopher_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
      val batch = graft.operators.Corpus.gopherFilter(
        rows.toDF("doc_id", "text"), "text", "doc_id",
        minTok = 5, maxTok = 100, minStopHits = 1)
        .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
      assert(streamed == batch)
      assert(streamed(0L) && !streamed(1L) && streamed(2L))
    } finally q.stop()
  }

  test("windowed activation response with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Seq[Float])]
    val agg = StreamingSom.activationResponseStream(
      input.toDF().toDF("ts", "features"), fixtureModel,
      "features", "ts", "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("ar_out")
      .outputMode("complete").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:15:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:45:00")
      val t2 = java.sql.Timestamp.valueOf("2026-01-01 11:05:00")
      input.addData((t0, Seq(5.0f)), (t1, Seq(5.0f)), (t2, Seq(2.0f)))
      q.processAllAvailable()
      val out = spark.table("ar_out").collect()
        .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getInt(1)) -> r.getLong(2))
        .toMap
      assert(out(("2026-01-01 10:00:00.0", 13)) == 2L)
      assert(out(("2026-01-01 11:00:00.0", 6)) == 1L)
    } finally q.stop()
  }

  test("stateful sessionize stream matches batch semantics across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val gapNs = 1800L * 1000000000L
    val input = MemoryStream[(Long, Long)]
    val out = StreamingSom.sessionizeStream(
      input.toDF().toDF("user_id", "ts"), "user_id", "ts", gapNs)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    try {
      val h = 3600L * 1000000000L
      // user 1: events at 0h, 0.25h | 2h  -> 2 sessions; user 2: one event
      input.addData((1L, 0L), (1L, h / 4), (2L, 5 * h))
      q.processAllAvailable()
      input.addData((1L, 2 * h))
      q.processAllAvailable()
      // late arrival inside the first session: merges, does not move the
      // frontier back (a following in-order event must not split)
      input.addData((1L, h / 8))
      q.processAllAvailable()
      input.addData((1L, 2 * h + h / 4))
      q.processAllAvailable()
      val last = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.last).toMap
      assert(last(1L) == ((1L, 2L, 5L)))
      assert(last(2L) == ((2L, 1L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup drops in-watermark duplicates, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = StreamingSom.dropDuplicatesStream(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      input.addData(
        (0L, t, "the quick brown fox"),
        (1L, t, "the quick brown fox"),   // dup of 0 (same batch)
        (2L, t, "something else entirely"))
      q.processAllAvailable()
      input.addData((3L, t, "THE  quick   brown fox")) // dup after normalization
      q.processAllAvailable()
      val kept = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(kept.contains(2L))
      // exactly one of the three fox docs survives
      assert((kept intersect Set(0L, 1L, 3L)).size == 1)
      assert(kept.size == 2)
    } finally q.stop()
  }

  test("windowed token frequencies: append mode emits exactly the watermark-closed window") {
    // append mode is the production shape and the one that actually
    // exercises the operator's watermark: without it an append-mode
    // windowed aggregation cannot even start, and rows are emitted
    // only when the watermark closes their window (bounded state)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val freqs = StreamingSom.tokenFrequenciesStream(
      input.toDF().toDF("ts", "text"), "text", "ts", "1 hour", "2 hours")
    val q = freqs.writeStream.format("memory").queryName("tokfreq_out")
      .outputMode("append").start()
    try {
      val t10 = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
      input.addData((t10, "a b a"), (t10, "b c"))
      q.processAllAvailable()
      // watermark has not passed the window end yet: nothing emitted
      assert(spark.table("tokfreq_out").count() == 0)
      // event time 14:00 -> watermark 12:00 > 11:00 closes the 10:00
      // window; the 14:00 window stays open and must NOT be emitted
      input.addData((java.sql.Timestamp.valueOf("2026-01-01 14:00:00"), "z"))
      q.processAllAvailable()
      q.processAllAvailable() // one extra batch so the new watermark takes effect
      val rows = spark.table("tokfreq_out").collect()
        .map(r => (r.getStruct(0).getTimestamp(0).toString.take(13),
                   r.getString(1)) -> r.getLong(2)).toMap
      assert(rows == Map(
        ("2026-01-01 10", "a") -> 2L,
        ("2026-01-01 10", "b") -> 2L,
        ("2026-01-01 10", "c") -> 1L), rows.toString)
    } finally q.stop()
  }

  test("composed curation pipeline (filter -> dedup -> windowed counts) matches batch") {
    // the full curation lineage as ONE append-mode query with two
    // chained stateful operators (watermarked dedup feeding a windowed
    // aggregation) — pins that the batch curation_e2e semantics survive
    // append mode end to end, micro-batch boundaries included
    implicit val sqlCtx = spark.sqlContext
    val t10 = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
    val t11 = java.sql.Timestamp.valueOf("2026-01-01 10:40:00")
    val goodA = "the cat sat on the mat today and it was the best of days"
    val goodB = "the quick brown fox jumps over the lazy dog again and again today"
    val rows = Seq(
      (0L, t10, goodA),
      (1L, t10, "x x x"),       // fails gopher gate (too short)
      (2L, t11, goodA),         // dup of 0 -> dropped by dedup
      (3L, t11, goodB))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val curated = StreamingSom.curationStream(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts",
      windowDur = "1 hour", watermarkDur = "2 hours",
      minTok = 5, maxTok = 100, minStopHits = 1)
    val q = curated.writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    try {
      // split across micro-batches so the dedup state crosses batches
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      assert(spark.table("curated_out").count() == 0) // window still open
      // advance event time far enough to close the 10:00 window
      input.addData((99L, java.sql.Timestamp.valueOf("2026-01-01 14:00:00"),
        goodB + " closing tick"))
      q.processAllAvailable()
      q.processAllAvailable() // one extra batch so the new watermark takes effect
      val streamed = spark.table("curated_out").collect()
        .map(r => r.getStruct(0).getTimestamp(0).toString.take(13) -> r.getLong(1))
        .toMap
      // batch equivalent of the closed window: gopher gate -> exact
      // dedup -> count, over the same rows
      val kept = graft.operators.Corpus.gopherKeep(
        rows.toDF("doc_id", "ts", "text"), "text",
        minTok = 5, maxTok = 100, minStopHits = 1)
      val batchN = graft.operators.Dedup
        .dropExactDuplicates(kept, "text", "doc_id").count()
      assert(streamed == Map("2026-01-01 10" -> batchN), streamed.toString)
      assert(batchN == 2L) // goodA once (dup dropped), goodB; "x x x" gated
    } finally q.stop()
  }

  test("streaming near-dup candidates: banded self-join finds in-window pairs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val cands = StreamingSom.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "doc_id", "ts",
      watermarkDur = "1 hour", maxGapDur = "30 minutes")
    val q = cands.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
      val far = java.sql.Timestamp.valueOf("2026-01-01 13:00:00")
      input.addData(
        (0L, t0, "the quick brown fox jumps over the lazy dog"),
        (1L, t1, "the quick brown fox jumps over the lazy dog"), // dup in window
        (2L, t1, "completely different content about engines"),
        (3L, far, "the quick brown fox jumps over the lazy dog")) // dup but out of window
      q.processAllAvailable()
      // advance the watermark far enough to flush append-mode results
      input.addData((99L, java.sql.Timestamp.valueOf("2026-01-01 20:00:00"), "zzz"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(pairs.contains((0L, 1L)), s"in-window dup pair missing: $pairs")
      assert(pairs((0L, 1L)) == 0)
      assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)),
        "out-of-window pair must not surface")
      assert(!pairs.keySet.exists { case (x, y) => x == 2L || y == 2L })
    } finally q.stop()
  }

  test("streaming interval join matches the batch range join on the same data") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamingSom.rangeJoinStream(
      clicks.toDF().toDF("cid", "user", "ts"),
      buys.toDF().toDF("pid", "user", "ts"),
      "user", "ts", lo = "0 seconds", hi = "10 minutes",
      watermarkDur = "1 hour")
      .select(col("l_cid"), col("r_pid"))
    val q = joined.writeStream.format("memory").queryName("rj_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 7L, ts(0)), (2L, 7L, ts(30)), (3L, 8L, ts(0)))
      buys.addData((10L, 7L, ts(5)), (11L, 7L, ts(45)), (12L, 9L, ts(5)))
      q.processAllAvailable()
      // push watermarks forward to flush all append-mode results
      clicks.addData((98L, 98L, java.sql.Timestamp.valueOf("2026-01-01 20:00:00")))
      buys.addData((99L, 99L, java.sql.Timestamp.valueOf("2026-01-01 20:00:00")))
      q.processAllAvailable()
      val got = spark.table("rj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin on identical data (epoch-nanos long form)
      val nsOf = (t: java.sql.Timestamp) => t.getTime * 1000000L
      val bl = Seq((1L, 7L, nsOf(ts(0))), (2L, 7L, nsOf(ts(30))), (3L, 8L, nsOf(ts(0))))
        .toDF("cid", "user", "ts")
      val br = Seq((10L, 7L, nsOf(ts(5))), (11L, 7L, nsOf(ts(45))), (12L, 9L, nsOf(ts(5))))
        .toDF("pid", "user", "ts")
      val batch = graft.operators.AsOfJoin.joinRange(bl, br, "user", "ts",
          0L, 600000000000L)
        .select(col("l_cid"), col("r_pid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got == Set((1L, 10L))) // (2,11): 15 min gap; user 8/9: no match
    } finally q.stop()
  }

  test("windowed fixed-size sample: bounded reservoir, matches batch order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = StreamingSom.windowSampleStream(
      input.toDF().toDF("doc_id", "ts"), "doc_id", "ts",
      windowDur = "10 minutes", watermarkDur = "5 minutes", n = 3)
    val q = out.writeStream.format("memory").queryName("wsample_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      // 8 ids in window [10:00,10:10), 2 in [10:10,10:20)
      input.addData((0L until 8L).map(i => (i, ts(i.toInt % 10))) ++
        Seq((100L, ts(11)), (101L, ts(12))): _*)
      q.processAllAvailable()
      input.addData((999L, java.sql.Timestamp.valueOf("2026-01-01 11:00:00")))
      q.processAllAvailable()
      val got = spark.table("wsample_out").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val w1 = got(ts(0))
      assert(w1.size == 3, s"window 1 must keep exactly n=3: $got")
      // batch replay: the same (md5-bucket, id) order over window-1 ids
      val expect = (0L until 8L)
        .sortBy(i => (org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString).substring(0, 8), i))
        .take(3).toSet
      assert(w1 == expect, s"stream=$w1 batch=$expect")
      assert(got(ts(10)) == Set(100L, 101L)) // undersized window keeps all
    } finally q.stop()
  }

  test("incremental training over micro-batches decreases QE") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(21)
    val allData = Seq.fill(120)(Seq.fill(3)(rnd.nextFloat()))
    val batches = allData.grouped(40).toSeq
    val som = new Som(SomConfig(4, 4, seed = 5))
    val init = Codebook.randomUniform(4, 4, 3, seed = 5)
    val trainer = new StreamingSom.IncrementalTrainer(som, init, totalEpochs = 6)

    val evalDf = allData.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "features")
    val q0 = new SomModel(som.config, init).quantizationError(evalDf)

    val input = MemoryStream[Seq[Float]]
    val query = input.toDF().toDF("features").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trainer.update(batch, "features")
      }
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val q1 = trainer.model.quantizationError(evalDf)
      assert(q1 < q0, s"QE should decrease: $q0 -> $q1")
    } finally query.stop()
  }

  test("incremental SOM update: one job per non-empty batch; a batch without rows is a no-op") {
    val som = new Som(SomConfig(3, 3, seed = 5))
    val init = Codebook.randomUniform(3, 3, 2, seed = 5)
    val trainer = new StreamingSom.IncrementalTrainer(som, init, totalEpochs = 4)
    val batch = spark.sparkContext.parallelize(0 until 40, 4)
      .map(i => Seq(math.sin(i * 0.3).toFloat, math.cos(i * 0.7).toFloat)).toDF("features")
    val (_, jobs) = graft.Probe.recordJobs(spark)(trainer.update(batch))
    assert(jobs.size == 1)
    assert(!trainer.codebook.weights.sameElements(init.weights))
    // the same epoch as one fit step at position 0 of the schedule
    val fitted = som.fit(batch, "features", numEpochs = 4, init = init, iterEnd = 1)
    assert(trainer.codebook.weights.sameElements(fitted.codebook.weights))
    // all-null and empty batches move neither the codebook nor the schedule
    val after = trainer.codebook.weights.clone()
    trainer.update(Seq[Option[Seq[Float]]](None, None).toDF("features"))
    trainer.update(batch.where(lit(false)))
    assert(trainer.codebook.weights.sameElements(after))
    trainer.update(batch)
    val twoSteps = som.fit(batch, "features", numEpochs = 4, init = init, iterEnd = 2)
    assert(trainer.codebook.weights.sameElements(twoSteps.codebook.weights))
  }

  test("streaming sharded export: the file sink writes the same content-keyed shards as batch") {
    // the release pipeline's streaming tail: shard assignment is a pure
    // expression (Shards.shardOf), so the file sink's partitionBy lays
    // out the same shard=K/ directories the batch writer produces, and
    // a document's shard is identical under both — append mode, no state
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_shards")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_stream_shards_ck")
    Seq(outDir, ckDir).foreach(_.toFile.deleteOnExit())
    val input = MemoryStream[(Long, String)]
    val sharded = input.toDF().toDF("doc_id", "fp")
      .withColumn("shard", graft.sources.Shards.shardOf(col("doc_id"), 4))
    val q = sharded.writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckDir.toString)
      .partitionBy("shard")
      .outputMode("append").start()
    try {
      val rows = (0L until 40L).map(i => (i, f"fp$i%04d"))
      input.addData(rows: _*)
      q.processAllAvailable()
      val back = spark.read.parquet(outDir.toString)
        .select(col("doc_id"), col("shard").cast("long").as("shard"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = rows.toDF("doc_id", "fp")
        .withColumn("shard", graft.sources.Shards.shardOf(col("doc_id"), 4))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(back === batch)
      // directory layout is the routed shard tree (the sink also keeps
      // its _spark_metadata commit log alongside — not a shard)
      val dirs = outDir.toFile.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).sorted
      assert(dirs.forall(_.startsWith("shard=")) && dirs.length === 4)
    } finally q.stop()
  }

  test("JSONL file-stream ingest: dropped files arrive incrementally, match batch") {
    // the production ingest shape: a landing directory of JSONL files
    // consumed as a file stream under the SAME declared schema the
    // batch reader uses (graft.sources.Jsonl.documentsSchema) — new
    // files picked up per micro-batch, no re-read of old ones
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_stream")
    dir.toFile.deleteOnExit()
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      val lines = rows.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t", "lang": "en", "source": "s", "n_chars": ${t.length}}"""
      }
      // atomic move so the stream never sees a half-written file
      val tmp = java.nio.file.Files.createTempFile("graft_jsonl_part", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, dir.resolve(s"$name.jsonl"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    drop("batch0", Seq((1L, "alpha beta"), (2L, "gamma")))
    val stream = spark.readStream
      .schema(graft.sources.Jsonl.documentsSchema)
      .option("maxFilesPerTrigger", 1)
      .json(dir.toString)
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    val q = stream.writeStream.format("memory").queryName("jsonl_ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      drop("batch1", Seq((3L, "delta epsilon zeta")))
      q.processAllAvailable()
      val got = spark.table("jsonl_ingest").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 3L))
    } finally q.stop()
  }

  test("composed ingest-to-release: JSONL landing -> curation -> sharded sink == batch") {
    // the full production path as ONE streaming query: a landing
    // directory of JSONL files, the Gopher gate + watermarked dedup
    // (curationExportStream), and a partitionBy(shard) parquet sink —
    // pinned row-for-row (kept set AND shard assignment) against the
    // equivalent batch pipeline over the same files
    val land = java.nio.file.Files.createTempDirectory("graft_e2e_land")
    val outDir = java.nio.file.Files.createTempDirectory("graft_e2e_out")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_e2e_ck")
    Seq(land, outDir, ckDir).foreach(_.toFile.deleteOnExit())
    def doc(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    def drop(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_e2e_part", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, land.resolve(s"$name.jsonl"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val junk = "x9 q7" // fails the token-count gate
    drop("b0", Seq(doc(1L, good + " one"), doc(2L, good + " two"), doc(9L, junk)))
    def ingest(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", to_timestamp(from_unixtime(lit(1700000000L) + col("doc_id"))))
    val stream = ingest(spark.readStream
      .schema(graft.sources.Jsonl.documentsSchema)
      .option("maxFilesPerTrigger", 1).json(land.toString))
    val curated = graft.streaming.StreamingSom.curationExportStream(
      stream, "text", "doc_id", "ts", watermarkDur = "1 hour", numShards = 3,
      minTok = 5, minStopHits = 1, minMeanLen = 1.0, maxMeanLen = 10.0,
      minAlphaRatio = 0.5)
    val q = curated.writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckDir.toString)
      .partitionBy("shard").outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later landing file: one new doc + an exact duplicate of doc 1
      // (higher id, later arrival — batch keeps min id, stream keeps
      // first arrival: the same survivor)
      drop("b1", Seq(doc(3L, good + " three"), doc(8L, good + " one")))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir.toString)
        .select(col("doc_id"), col("shard").cast("long").as("shard"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch twin over the same landing directory
      val batchIn = ingest(graft.sources.Jsonl.readStrict(spark, land.toString,
        graft.sources.Jsonl.documentsSchema))
      val batchKept = graft.operators.Dedup.dropExactDuplicates(
        graft.operators.Corpus.gopherKeep(batchIn, "text",
          minTok = 5, minStopHits = 1, minMeanLen = 1.0, maxMeanLen = 10.0,
          minAlphaRatio = 0.5), "text", "doc_id")
        .withColumn("shard", graft.sources.Shards.shardOf(col("doc_id"), 3))
        .select(col("doc_id"), col("shard"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batchKept)
      assert(streamed.keySet === Set(1L, 2L, 3L)) // junk gated, dup dropped
      val dirs = outDir.toFile.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_"))
      assert(dirs.forall(_.startsWith("shard=")))
    } finally q.stop()
  }

  test("incremental logit over micro-batches: one full batch == train(iters=1), streamed == replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LogitTrain
    val docRows = (0L until 40L).map { i =>
      val text =
        if (i % 3 == 0) "the cat sat on the mat and it was a very happy day indeed"
        else s"xk${i}df qwpeir zz${i}kfjg 00x99 ajd83k dkfj39"
      (i, text, if (i % 3 == 0) 1.0 else 0.0)
    }
    val docs = docRows.toDF("doc_id", "text", "label")
    val feats = LogitTrain.features(docs, "text", "doc_id", col("label"))

    // one update over the WHOLE dataset == one full-batch GD iteration
    val inc1 = new StreamingSom.IncrementalLogit(lr = 0.3)
    inc1.update(feats)
    val oneIter = LogitTrain.train(feats, iters = 1, lr = 0.3)
    assert(inc1.weights.sameElements(oneIter.weights),
      "one-shot incremental update diverged from train(iters=1)")
    assert(inc1.mse == oneIter.mse)

    // streamed micro-batches == the same updates applied sequentially
    val trainer = new StreamingSom.IncrementalLogit(lr = 0.3)
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDF().toDF("doc_id", "text", "label").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        trainer.update(LogitTrain.features(b, "text", "doc_id", col("label")))
      }.start()
    try {
      input.addData(docRows.take(25): _*); q.processAllAvailable()
      input.addData(docRows.drop(25): _*); q.processAllAvailable()
    } finally q.stop()
    val replay = new StreamingSom.IncrementalLogit(lr = 0.3)
    replay.update(LogitTrain.features(docRows.take(25).toDF("doc_id", "text", "label"),
      "text", "doc_id", col("label")))
    replay.update(LogitTrain.features(docRows.drop(25).toDF("doc_id", "text", "label"),
      "text", "doc_id", col("label")))
    assert(trainer.weights.sameElements(replay.weights),
      "streamed updates diverged from the sequential replay")
    assert(trainer.stepCount == 2L && trainer.mse == replay.mse)
  }

  test("char entropy runs stateless on a stream, matching batch") {
    // char_entropy is a pure codegen expression, so an ingest stream can
    // gate binary junk / degenerate repetition at landing time
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((0L, "aabb"), (1L, "the quick brown fox"), (2L, "zzzz"))
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.plans.GraftFunctions.char_entropy(col("text")).as("ce"))
      .select(col("doc_id"), col("ce.entropy"))
    val q = scored.writeStream.format("memory").queryName("ce_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ce_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed(0L) == 1.0 && streamed(2L) == 0.0)
      val batch = rows.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.char_entropy(col("text")).getField("entropy"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("logit scoring runs stateless on a stream, matching batch") {
    // logit_score is a pure codegen expression (trained weights ride in
    // the expression), so a curation stream can gate documents with a
    // trained model at ingest time -- no state, append mode
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LogitTrain
    val docRows = (0L until 20L).map { i =>
      (i, if (i % 2 == 0) "the quick brown fox and the lazy dog went to the park together today"
          else s"zz${i}x 99${i}q kk${i}f")
    }
    val docs = docRows.toDF("doc_id", "text")
    val feats = LogitTrain.features(docs, "text", "doc_id",
      when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0))
    val m = LogitTrain.train(feats, iters = 25, lr = 0.5)

    val input = MemoryStream[(Long, String)]
    val scored = LogitTrain.scoreDf(
      LogitTrain.features(input.toDF().toDF("doc_id", "text"),
        "text", "doc_id", lit(0.0)), m)
    val q = scored.writeStream.format("memory").queryName("logit_out")
      .outputMode("append").start()
    try {
      input.addData(docRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("logit_out").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      val batch = LogitTrain.scoreDf(feats, m).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(streamed == batch)
      // the trained gate separates the two shapes on the stream too
      assert((0L until 20L by 2).forall(i => streamed(i)._2))
      assert((1L until 20L by 2).forall(i => !streamed(i)._2))
    } finally q.stop()
  }

  test("streaming BM25 segment ingest: per-micro-batch segments serve exact BM25 over arrivals") {
    import graft.operators.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val vocab = Seq("apple", "banana", "cherry", "date", "fig", "grape")
    val all = (0L until 90L).map { i =>
      (i, Seq.fill(3 + (i % 4).toInt)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val q = Seq(0L -> "apple banana", 1L -> "cherry fig")
    val tag = s"stream_${System.nanoTime()}"
    val name = s"graft_bm25st_$tag"
    val path = s"/tmp/$name"
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingSom.appendBm25SegmentBatch(mb, "text", "doc_id",
          name, path, nBuckets = 4, batchId = id)
      }
      .start()
    try {
      val (b1, b2) = all.splitAt(50)
      input.addData(b1: _*); query.processAllAvailable()
      // exact over what has arrived so far (df/avgdl from b1 alone)
      val mid = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val midRef = Retrieval.bm25TopK(b1.toDF("doc_id", "text"), "text",
        "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(mid == midRef)
      input.addData(b2: _*); query.processAllAvailable()
      val end = Retrieval.bm25TopKSegmented(spark, name, path, q, 10)
        .orderBy("qid", "rank").collect().toSeq
      val endRef = Retrieval.bm25TopK(all.toDF("doc_id", "text"), "text",
        "doc_id", q, 10).orderBy("qid", "rank").collect().toSeq
      assert(end == endRef)
    } finally {
      query.stop()
      Seq(s"${name}__b0", s"${name}__b1")
        .foreach(graft.sources.Bucketed.drop(spark, _))
      graft.BenchData.deleteRecursively(path)
    }
  }

  test("streaming IVF+SQ index ingest: micro-batch appends == one-shot rebuild, serving untouched") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(43)
    val base = (0L until 150L).map(i => (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
    // two micro-batches, the second drifting past the trained bounds
    val mb1 = (150L until 190L).map(i => (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
    val mb2 = (190L until 230L).map(i => (i, Seq.fill(6)(0.9f + rnd.nextFloat() * 0.5f)))
    val baseDf = base.toDF("vec_id", "embedding")
    val som = new Som(SomConfig(3, 3, seed = 7)).fit(baseDf, "embedding", numEpochs = 2)
    val sq = Similarity.sqTrain(baseDf, "embedding") // FROZEN at base
    val dir = java.nio.file.Files.createTempDirectory("ivfsqstream").toFile
    val incPath = new java.io.File(dir, "inc").getAbsolutePath
    val fullPath = new java.io.File(dir, "full").getAbsolutePath
    try {
      Similarity.writeIvfSqIndex(baseDf, "embedding", "vec_id", som, sq, incPath)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = input.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingSom.appendIvfSqBatch(mb, "embedding", "vec_id", som, sq, incPath)
        }
        .start()
      try {
        input.addData(mb1: _*); q.processAllAvailable()
        // the index is queryable BETWEEN micro-batches
        val (midCodes, _) = Similarity.readIvfSqIndex(spark, incPath)
        assert(midCodes.count() == 190L)
        input.addData(mb2: _*); q.processAllAvailable()
      } finally q.stop()
      val allDf = (base ++ mb1 ++ mb2).toDF("vec_id", "embedding")
      Similarity.writeIvfSqIndex(allDf, "embedding", "vec_id", som, sq, fullPath)
      val (incCodes, incSq) = Similarity.readIvfSqIndex(spark, incPath)
      val (fullCodes, fullSq) = Similarity.readIvfSqIndex(spark, fullPath)
      assert(incCodes.count() == 230L)
      assert(incCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted
        .sameElements(fullCodes.select("id", "bmu_id", "codes").collect().map(_.toString).sorted))
      val qs = (base.take(2) ++ mb2.take(2)).map { case (i, v) =>
        (i, v.map(_.toDouble).toArray)
      }
      val served = Similarity.ivfSqTopKFromCodes(incCodes, som, incSq,
        qs, kNN = 5, nProbe = 2)
      val rebuilt = Similarity.ivfSqTopKFromCodes(fullCodes, som, fullSq,
        qs, kNN = 5, nProbe = 2)
      assert(served.collect().map(_.toString).sorted
        .sameElements(rebuilt.collect().map(_.toString).sorted))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
