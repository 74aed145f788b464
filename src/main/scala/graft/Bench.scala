package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.som._

/** Per-round benchmark. Emits ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Headline entries mirror BASELINE.md's workload shapes:
  *  - bench_distance_*: N=10,000 x D=100 vs 256 neurons, 10 reps after
  *    1 warmup (the reference's bench_distances.py defaults) — per-rep
  *    mean seconds, pure kernel time;
  *  - bench_epoch_train: 6x6 SOM, 10 epochs, euclidean+gaussian defaults
  *    on embeddings;
  *  - bench_inference: transform + groupBy(bmu).count() on embeddings;
  *  - every SparkEntry query once (end-to-end wall time each).
  */
/** Synthetic-data generators shared by Bench and ScaleProbe — one
  * definition, so a tweak cannot silently diverge the 10x headroom
  * probe from the bench workloads it scales up.
  */
object BenchData {
  /** nDocs synthetic docs, 50 tokens each from a 10k-word vocab; groups
    * of 4 consecutive ids share a text, so LSH banding sees real
    * duplicate structure.
    */
  def dupGroupDocs(spark: SparkSession, nDocs: Long) =
    spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"), pmod(xxhash64(expr("id DIV 4"), i), lit(10000))
          .cast("string")))).as("text"))

  /** Edge list of nNodes split into chains of chainLen — the worst case
    * (maximum diameter) for label propagation.
    */
  def chainGraph(spark: SparkSession, nNodes: Long, chainLen: Long) =
    spark.range(nNodes)
      .where(pmod(col("id"), lit(chainLen)) =!= lit(chainLen - 1))
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))

  /** Edge list of a complete binary tree on nNodes (heap numbering:
    * node i's parent is (i-1)/2) — the BUSHY hierarchical shape where
    * the label space shrinks super-geometrically per pointer-jump round
    * (labels climb ~2^(3^r) ancestor levels), unlike chains where it
    * only shrinks linearly. Exercises the resolver's mid-loop
    * contraction exit: the eager post-neighbor-min check sees ~nNodes
    * label-space edges (too big), one round later it sees ~nNodes/8.
    */
  def treeGraph(spark: SparkSession, nNodes: Long) =
    spark.range(1, nNodes)
      .select(shiftright(col("id") - 1, 1).as("id_a"), col("id").as("id_b"))

  /** (doc_id, fp) / (doc_id, len_bucket, lang) generator pair for the
    * bucketed-vs-plain join workloads — ONE definition so the bench and
    * the scale probe measure the same data shape.
    */
  def layoutFps(spark: SparkSession, n: Long) =
    spark.range(n).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("fp"))
  def layoutMeta(spark: SparkSession, n: Long) =
    spark.range(n).select(col("id").as("doc_id"),
      pmod(col("id"), lit(97)).as("len_bucket"),
      pmod(col("id"), lit(20)).cast("string").as("lang"))

  /** The merge-hinted doc_id join both layout workloads time (the hint
    * keeps the strategy fixed so the ONLY plan difference between the
    * bucketed and plain spellings is the Exchange pair).
    */
  def mergeJoinCount(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame): Long =
    a.join(b.hint("merge"), Seq("doc_id")).count()

  /** Best-effort recursive delete for the /tmp scratch dirs the bench
    * and probe workloads write.
    */
  def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      val paths =
        try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(x => java.nio.file.Files.deleteIfExists(x))
    }
  }

  /** Steady-state memcpy bandwidth in GB/s: best of 4 timed 256 MB
    * `System.arraycopy` passes after a page-faulting warmup copy —
    * ~1 GB of timed traffic, matching BASELINE.md's "1 GB memcpy"
    * health probe (healthy band 5-20 GB/s; the round-6/7 collapse
    * measured 0.4-1.6). Stamped per bench section into
    * BENCH_FULL.json's `bandwidth_gbps` map so bandwidth-noise
    * adjudication (r8: minhash 6.29 s committed vs 3.24 s probe on
    * identical code) is mechanical instead of a judge session.
    */
  def memcpyGbps(): Double = {
    val n = 32 << 20 // 32M longs = 256 MB
    val src = new Array[Long](n)
    val dst = new Array[Long](n)
    java.util.Arrays.fill(src, 0x9E3779B97F4A7C15L)
    System.arraycopy(src, 0, dst, 0, n) // fault in both arrays' pages
    var best = Double.MaxValue
    var r = 0
    while (r < 4) {
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, n)
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      r += 1
    }
    math.round(n * 8.0 / best / 1e9 * 100) / 100.0
  }

  /** Shuffle-path canary in seconds: a fixed 200k-row md5-keyed
    * repartition + hash aggregate — one full Exchange round-trip
    * (serialize, spill-file write/read, fetch, re-aggregate) through
    * the same code path every shuffle-bound bench entry takes. The
    * late-round-9 adjudication gap was exactly here: a run recorded
    * span_dedup 10x slow while BOTH existing probes (memcpy stamp,
    * ALU kernel canaries) read healthy — memory bandwidth and CPU
    * frequency cannot see a degraded shuffle/IO path. Healthy band on
    * this box: ~0.4-0.9 s (min of 2; measured 0.50-0.75 across three
    * fresh JVMs in the round-10 adjudication). Stamped per bench
    * section into
    * BENCH_FULL.json's `shuffle_canary_sec` next to the memcpy stamps;
    * the three-probe adjudication rule lives in BASELINE.md.
    */
  def shuffleCanarySec(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000)
        .select(md5(col("id").cast("string")).as("fp"))
        .repartition(32, col("fp"))
        .groupBy(substring(col("fp"), 1, 2)).agg(count(lit(1)).as("n"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** The final stdout line the driver parses. The driver keeps only the
    * LAST ~2000 chars of stdout, so this line must stay well under that
    * window: no suite_ms here (the per-suite-query numbers live in the
    * suite_KofN chunk lines and BENCH_FULL.json), only the 6 contract
    * bench entries by name plus the bench-section millisecond array in
    * SORTED-NAME order (matching what the order label claims) and one
    * machine-health figure (`bw_gbps`, min over the run's section
    * stamps). `HeadlineSpec` pins length < 1500, JSON-parseability, and
    * that the driver's last-line extraction recovers it. build.sbt's
    * StdoutOutput + showSuccess settings make it the literal last
    * stdout line (no "[info] " prefix, no "[success]" trailer).
    */
  def headline(total: Double, results: collection.Map[String, Double],
               sfDir: String, bwGbps: Double = -1): String = {
    def r4(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def ms(v: Double): String = if (v < 0) "-1" else math.round(v * 1000).toString
    val headlineKeys = Seq("bench_train_200k", "bench_bmu_200k",
      "bench_minhash_200k", "bench_resolve_hybrid_200k",
      "bench_bucketed_join_200k", "bench_plain_join_200k")
    val benchQs = headlineKeys.filter(results.contains)
      .map(kk => "\"" + kk + "\":" + r4(results(kk))).mkString("{", ",", "}")
    val benchMs = results.toSeq.sortBy(_._1).map(kv => ms(kv._2)).mkString("[", ",", "]")
    val bw = if (bwGbps < 0) "" else s""""bw_gbps":${BigDecimal(bwGbps).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"""
    s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$benchQs,""" +
      s""""bench_ms":$benchMs,$bw"order":"bench_ms sorted by bench name; full map in BENCH_FULL.json","sf":"$sfDir"}"""
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cores(32))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // min of two timed reps: the noise-robust statistic for a single
    // bench invocation on a shared machine
    def time2(f: => Unit): Double = math.min(time(f), time(f))
    // min of three: for the bandwidth-bound entries whose committed
    // numbers have shown 2x same-day swings on identical code (r8:
    // minhash 6.29 s committed vs 3.24 s probe) — one extra rep buys a
    // much tighter minimum on exactly the entries that need it
    def time3(f: => Unit): Double = math.min(time2(f), time(f))

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-section memcpy + shuffle-canary stamps: the machine-health
    // context for every timing block, emitted into BENCH_FULL.json's
    // bandwidth_gbps / shuffle_canary_sec maps (three-probe rule in
    // BASELINE.md — memcpy sees memory bandwidth, the kernel benches
    // see CPU, the shuffle canary sees the exchange/spill path)
    val bandwidth = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shuffleCanary = scala.collection.mutable.LinkedHashMap[String, Double]()
    BenchData.shuffleCanarySec(spark) // warm codegen/JIT off the first stamp
    def stampBw(section: String): Unit = {
      bandwidth(section) = BenchData.memcpyGbps()
      shuffleCanary(section) =
        math.round(BenchData.shuffleCanarySec(spark) * 1000) / 1000.0
    }
    stampBw("start")

    // --- distance-kernel micro-bench (BASELINE.md workload) -----------
    {
      val rnd = new scala.util.Random(7)
      val n = 10000; val d = 100; val k = 256
      val x = Array.fill(n * d)(rnd.nextDouble().toFloat.toDouble)
      val w = Array.fill(k * d)(rnd.nextDouble().toFloat.toDouble)
      val out = new Array[Double](n * k)
      for (dist <- Seq(Distances.EuclideanPart, Distances.Cosine,
                       Distances.Manhattan, Distances.NormP(3))) {
        val wSq = if (dist.canCache) Distances.rowSumSq(w, k, d) else null
        dist.compute(x, n, w, k, d, wSq, out) // warmup
        val reps = 10
        val t = time { var r = 0; while (r < reps) { dist.compute(x, n, w, k, d, wSq, out); r += 1 } }
        results(s"bench_distance_${dist.name}") = t / reps
      }
    }

    // --- neighborhood-kernel micro-bench (BASELINE.md workload:
    // bench_neighborhoods.py — 64x64 grid, N=10,000 random winners,
    // sigma=1, std=0.5; per-rep seconds). gaussian_hex exercises the
    // generic-coordinate path the reference calls "much slower".
    {
      val rnd = new scala.util.Random(11)
      val size = 64; val n = 10000
      val winI = Array.fill(n)(rnd.nextInt(size))
      val winJ = Array.fill(n)(rnd.nextInt(size))
      val out = new Array[Double](n * size * size)
      val rect = Rectangular(size, size)
      val hex = Hexagonal(size, size)
      val kernels = Seq(
        "gaussian" -> Neighborhoods("gaussian", rect, 0.5, compact = false),
        "mexican_hat" -> Neighborhoods("mexican_hat", rect, 0.5, compact = false),
        "bubble" -> Neighborhoods("bubble", rect, 0.5, compact = false),
        "triangle" -> Neighborhoods("triangle", rect, 0.5, compact = false),
        "gaussian_hex" -> Neighborhoods("gaussian", hex, 0.5, compact = false))
      for ((nm, kern) <- kernels) {
        kern.compute(winI, winJ, n, 1.0, out) // warmup
        val reps = 5
        val t = time { var r = 0; while (r < reps) { kern.compute(winI, winJ, n, 1.0, out); r += 1 } }
        results(s"bench_neighborhood_$nm") = t / reps
      }
    }

    stampBw("kernels_done")

    // --- epoch-throughput + inference benches (BASELINE.md) ----------
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count() // warm page cache / scan
    new Som(SomConfig(6, 6, seed = 42)).fit(emb, "embedding", numEpochs = 2) // JIT/codegen warmup
    var model: SomModel = null
    results("bench_epoch_train") = time2 {
      model = new Som(SomConfig(6, 6, seed = 42)).fit(emb, "embedding", numEpochs = 10)
    }
    model.activationResponse(emb, "embedding").count() // warmup
    results("bench_inference") = time2 {
      model.activationResponse(emb, "embedding").count()
    }
    // in-core head-to-head: the SAME comparison shape as
    // tools/bench_reference.py's train_sf_10ep, which reads the parquet
    // OUTSIDE its timed region and times NumPy on the in-memory matrix.
    // bench_epoch_train above (DataFrame in, scan+collect+train per
    // rep) keeps the honest end-to-end number; this entry isolates the
    // training kernels on the reference's own terms via Som.fitMatrix
    // (the analogue of the reference's in-memory train API).
    locally {
      val matrix: Array[Array[Float]] = emb
        .select(col("embedding").cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)
      new Som(SomConfig(6, 6, seed = 42)).fitMatrix(matrix, numEpochs = 2) // warmup
      results("bench_epoch_train_incore") = time2 {
        new Som(SomConfig(6, 6, seed = 42)).fitMatrix(matrix, numEpochs = 10); ()
      }
    }
    // hexagonal epoch throughput (BASELINE.md: reference hex is
    // "significantly slower"; our hex kernels hoist the coordinate grid)
    new Som(SomConfig(6, 6, topology = "hexagonal", seed = 42))
      .fit(emb, "embedding", numEpochs = 2) // warmup
    results("bench_epoch_train_hex") = time2 {
      new Som(SomConfig(6, 6, topology = "hexagonal", seed = 42))
        .fit(emb, "embedding", numEpochs = 10); ()
    }

    stampBw("epoch_done")

    // --- scale benches: 200k x 64 synthetic embeddings, generated with
    // pure expressions (no driver materialization) — the meaningful
    // throughput measurement on this machine; the small parquet tables
    // above are too small to exercise the epoch/BMU paths.
    {
      val big = spark.range(200000).select(col("id"),
        transform(sequence(lit(1), lit(64)),
          i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count()
      new Som(SomConfig(8, 8, seed = 1)).fit(big, "embedding", numEpochs = 1) // warmup
      var bigModel: SomModel = null
      results("bench_train_200k") = time2 {
        bigModel = new Som(SomConfig(8, 8, seed = 1)).fit(big, "embedding", numEpochs = 3)
      }
      bigModel.withBmu(big, "embedding").groupBy("bmu_id").count().count() // warmup
      results("bench_bmu_200k") = time3 {
        bigModel.withBmu(big, "embedding").groupBy("bmu_id").count().count()
      }
      // k-means on the same 200k x 64: same data volume per iteration
      // as a SOM epoch (one codegen assignment scan + a centroid-table-
      // shaped shuffle), priced side by side with bench_train_200k
      results("bench_kmeans_200k") = time2 {
        graft.operators.Kmeans.fit(big, "embedding", "id", k = 64,
          iters = 3); ()
      }
      // the k-means||-style large-k init priced at its own regime
      // (k=256 over 200k: 5 oversampling rounds, ~2.5k candidates,
      // driver-local weighted greedy) — the init path IVF coarse
      // quantizers use where farthest-first's k-1 scans are guarded off
      results("bench_kmeans_scalable_init_200k") = time2 {
        graft.operators.Kmeans.initScalableCentroids(big, "embedding",
          "id", k = 256); ()
      }
      big.unpersist(blocking = false)
    }

    stampBw("train_scale_done")

    // --- dedup scale bench: 200k synthetic docs (50 tokens each from a
    // 10k-word vocab; groups of 4 consecutive ids share a text, so the
    // banding join sees real duplicate structure). Generated with pure
    // expressions — measures the minhash signature kernel + LSH banding
    // join at a scale the parquet corpus (5k docs) can't exercise.
    {
      val bigDocs = BenchData.dupGroupDocs(spark, 200000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bigDocs.count()
      // unpersist the returned candidate cache after each rep — the
      // second rep's identical plan would otherwise be served from the
      // first rep's cache by the CacheManager and time ~0
      results("bench_minhash_200k") = time3 {
        val r = graft.operators.Dedup.minhashCandidates(bigDocs, "text", "doc_id")
        r.count(); r.unpersist(blocking = true); ()
      }
      // 16-bit chunks at this n: 8-bit buckets would hold ~780 docs each
      // and the band self-join would go quadratic (see simhashCandidates
      // scale guidance)
      results("bench_simhash_200k") = time2 {
        val r = graft.operators.Dedup.simhashCandidates(bigDocs, "text", "doc_id",
          maxHamming = 3, numBands = 4)
        r.count(); r.unpersist(blocking = true); ()
      }
      // span operators at the same 200k-doc scale: dup groups of 4 mean
      // ~75% of spans are corpus-wide duplicates — the counts/firsts
      // aggregations and skew-splittable re-attach joins do real work
      results("bench_dup_spans_200k") = time2 {
        graft.operators.Corpus.duplicateSpans(bigDocs, "text", "doc_id")
          .agg(sum("n_dup_spans")).collect(); ()
      }
      results("bench_span_dedup_200k") = time2 {
        graft.operators.Corpus.removeDuplicateSpans(bigDocs, "text", "doc_id")
          .agg(sum("n_kept")).collect(); ()
      }
      // incremental ingest gates, head-to-head at the same split: corpus
      // = first 150k docs, batch = last 100k (the 100k-150k band shares
      // texts with the corpus -> ~50% true-dup rate). The bloom build is
      // timed separately — it amortizes over every future batch
      val gateCorpus = bigDocs.where(col("doc_id") < 150000)
      val gateBatch = bigDocs.where(col("doc_id") >= 100000)
      results("bench_incr_anti_200k") = time2 {
        graft.operators.Dedup.dropExistingDuplicates(gateBatch, gateCorpus,
          "text", "doc_id").count(); ()
      }
      var gateBloom: org.apache.spark.util.sketch.BloomFilter = null
      results("bench_bloom_build_200k") = time {
        gateBloom = graft.operators.Dedup.corpusFingerprintBloom(gateCorpus,
          "text", expectedItems = 150000, fpp = 0.01)
      }
      results("bench_bloom_gate_200k") = time2 {
        graft.operators.Dedup.dropExistingDuplicatesBloom(gateBatch, gateCorpus,
          "text", "doc_id", gateBloom).count(); ()
      }
      // the persisted-index confirm path: build timed once (amortizes
      // over every future batch), per-batch gate timed separately
      val fpIdxDir = java.nio.file.Files.createTempDirectory("graft_bench_fpidx").toString
      results("bench_fpindex_build_200k") = time {
        graft.operators.Dedup.writeFingerprintIndex(gateCorpus, "text", fpIdxDir)
      }
      results("bench_fpindex_gate_200k") = time2 {
        graft.operators.Dedup.dropExistingDuplicatesIndexed(gateBatch, fpIdxDir,
          "text", "doc_id", gateBloom).count(); ()
      }
      BenchData.deleteRecursively(fpIdxDir)
      bigDocs.unpersist(blocking = false)
    }

    stampBw("dedup_done")

    // --- interval-join scale bench: 200k events over only 100 keys
    // (2,000 events/key — the DENSE regime the bucketed form exists
    // for), 1e7-wide window over a 1e9 ts span (~20 matches per left
    // row). Times the bucketed equi-join against the naive θ-join ON
    // THE SAME DATA in the same JVM: the θ-join's per-key cross product
    // evaluates ~100 candidates per match here and grows quadratically
    // with key density, while the bucketed join's work tracks window
    // occupancy. (At UNIFORM low density — ~100 events/key — the naive
    // spelling is actually slightly cheaper, 0.22 vs 0.30 s measured,
    // because the explode + wider key cost more than the small cross
    // product; the operator's value is precisely the dense/skewed
    // regime, which AQE cannot rescue for a θ-join.) The same-JVM ratio
    // stays valid under machine noise; row-count equality of the two
    // spellings is asserted every run.
    {
      val ev = spark.range(200000).select(
          col("id").as("eid"),
          pmod(col("id"), lit(100)).as("k"),
          pmod(col("id") * 2654435761L, lit(1000000000L)).as("ts"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ev.count()
      val hi = 10000000L
      def bucketed(): Long =
        graft.operators.AsOfJoin.joinRange(ev, ev, "k", "ts", 0L, hi,
          mode = "bucket").count()
      def naive(): Long =
        graft.operators.AsOfJoin.joinRange(ev, ev, "k", "ts", 0L, hi,
          mode = "naive").count()
      val nb = bucketed(); val nn = naive() // warmup both + invariant
      if (nb != nn)
        System.err.println(s"[bench] RANGE-JOIN MISMATCH bucketed=$nb naive=$nn")
      results("bench_range_join_200k") = time2 { bucketed(); () }
      results("bench_range_naive_200k") = time2 { naive(); () }
      // per-stratum fixed-size selection at the same scale: 20 strata,
      // n=100 — the bounded aggregate + broadcast semi-join path
      val strat = ev.withColumn("lang", pmod(col("eid"), lit(20)).cast("string"))
      results("bench_topn_stratum_200k") = time2 {
        graft.operators.Sampling.sampleFixedPerStratum(strat, "eid", "lang",
          n = 100).count(); ()
      }
      // weighted reservoir (TakeOrderedAndProject): k=1000 of 200k
      val wtd = ev.withColumn("w", (pmod(col("eid"), lit(100)) + 1).cast("double"))
      results("bench_weighted_sample_200k") = time2 {
        graft.operators.Sampling.sampleByWeight(wtd, "eid", "w", k = 1000)
          .count(); ()
      }
      ev.unpersist(blocking = false)
    }

    stampBw("joins_done")

    // --- iterative-resolver scale bench: the union-find fast path
    // absorbs every sf0.1 candidate graph, so force the iterative
    // pointer-jumping path (the 100 TB route) with localEdgeThreshold=0
    // on a 200k-edge graph of 1000-node chains — the worst case for
    // label propagation (diameter 1000 needs ~7 fused rounds), unlike
    // the bushy near-dup clusters the query suite resolves.
    {
      val chains = BenchData.chainGraph(spark, 200000, 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      chains.count()
      results("bench_resolve_iter_200k") = time2 {
        val r = graft.operators.Dedup.resolveDuplicateClusters(
          chains, localEdgeThreshold = 0L)
        r.count()
        org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        ()
      }
      chains.unpersist(blocking = false)
    }

    // --- bushy-shape resolver bench: a 200k-node complete binary tree
    // (~400k symmetrized edges, diameter ~34) forced onto the iterative
    // path with the exit disabled. Trees collapse their label space
    // super-geometrically (the opposite extreme from chains, whose
    // labels stay pairwise distinct), and every node's label changes
    // every round — the hash aggregates and hop joins see maximal churn
    // per edge. Covers the round-loop cost profile the chain bench
    // cannot.
    {
      val tree = BenchData.treeGraph(spark, 200000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tree.count()
      results("bench_resolve_tree_200k") = time2 {
        val r = graft.operators.Dedup.resolveDuplicateClusters(
          tree, localEdgeThreshold = -1L)
        r.count()
        org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        ()
      }
      tree.unpersist(blocking = false)
    }

    // --- contraction-hybrid resolver bench: duplicate groups of 4
    // bridged into one 100k-node chain — 200k symmetrized edges, forced
    // past the single-task fast path (threshold 100k < 200k). One
    // neighbor-min round contracts the graph to ~50k directed
    // label-space edges (comfortably under the 100k threshold — a
    // generator tweak must not silently flip the benched path), which
    // finish exactly in a single union-find task; pure pointer jumping
    // would need ~10 full-size rounds for the 25k-group diameter.
    {
      val intra = spark.range(100000)
        .where(pmod(col("id"), lit(4)) =!= 0)
        .select((col("id") - pmod(col("id"), lit(4))).as("id_a"), col("id").as("id_b"))
      val bridges = spark.range(24999)
        .select((col("id") * 4).as("id_a"), (col("id") * 4 + 4).as("id_b"))
      val bridged = intra.union(bridges)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bridged.count()
      results("bench_resolve_hybrid_200k") = time2 {
        val r = graft.operators.Dedup.resolveDuplicateClusters(
          bridged, localEdgeThreshold = 100000L)
        r.count()
        org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        ()
      }
      bridged.unpersist(blocking = false)
    }

    stampBw("resolvers_done")

    // --- IVF repeated-query serving bench: the 100 TB ANN story is
    // writeAssignedIndex ONCE (corpus partitioned by BMU cell on disk)
    // + somTopKAssigned per query batch with static partition pruning.
    // Timed separately: bench_ivf_build_200k = train + partitioned
    // write; bench_ivf_assigned_200k = serving one 5-query batch from
    // the read-back index (scans only the probed cells' directories).
    {
      val big = spark.range(200000).select(col("id"),
        transform(sequence(lit(1), lit(64)),
          i => sin(col("id") * i * 0.7 + i * 1.3).cast("float").cast("double"))
          .as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count()
      val qvecs = big.where(col("id") < 5).collect().map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }.toSeq
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
      val idxPath = s"$idxDir/index"
      var model: SomModel = null
      results("bench_ivf_build_200k") = time {
        model = new Som(SomConfig(4, 4, seed = 7)).fit(big, "embedding", numEpochs = 2)
        graft.operators.Similarity.writeAssignedIndex(big, "embedding", model, idxPath)
      }
      val assigned = spark.read.parquet(idxPath)
      graft.operators.Similarity.somTopKAssigned(assigned, model, "embedding",
        "id", qvecs, k = 10, nProbe = 4).count() // warmup
      results("bench_ivf_assigned_200k") = time2 {
        graft.operators.Similarity.somTopKAssigned(assigned, model, "embedding",
          "id", qvecs, k = 10, nProbe = 4).count(); ()
      }

      // --- PQ on the same 200k x 64 corpus: encode = one codegen scan
      // producing 8 codes/vector; serve = per-query ADC scans over the
      // codes (the memory-resident artifact, 32x smaller than float32)
      val pqCb = graft.operators.Similarity.pqCodebookFromRows(
        qvecs.map(_._2) ++ big.where(col("id") >= 5 && col("id") < 16)
          .collect().map(_.getSeq[Double](1).toArray), m = 8)
      // aggregate over the codes: a bare count() would prune the encode
      // projection down to the cached scan and time nothing
      results("bench_pq_encode_200k") = time2 {
        graft.operators.Similarity.pqEncode(big, "embedding", "id",
            pqCb, m = 8, k = 16)
          .agg(sum(element_at(col("codes"), 1))).collect(); ()
      }
      results("bench_pq_topk_200k") = time2 {
        graft.operators.Similarity.pqTopK(big, "embedding", "id",
          pqCb, m = 8, k = 16, qvecs, kNN = 10).count(); ()
      }

      // contrastive mining on the same 200k x 64 corpus: 8 anchors'
      // hardest cross-label negatives — broadcast batch, ONE
      // vec_cosine scan, bounded-heap top-k (the ANN serving shape)
      results("bench_hard_negatives_200k") = time2 {
        graft.operators.Similarity.hardNegatives(
          big.withColumn("label", pmod(col("id"), lit(16))),
          "embedding", "id", "label", (0L until 8L).toSeq, k = 10)
          .count(); ()
      }

      // composed IVF+PQ: codes partitioned by coarse cell on disk, the
      // query batch ADC-scans only its probed cells' directories, once —
      // cell pruning x 32x-compressed codes, the billion-scale layout
      val ivfPqPath = s"$idxDir/ivfpq"
      results("bench_ivfpq_build_200k") = time {
        graft.operators.Similarity.writeIvfPqIndex(big, "embedding", "id",
          model, pqCb, m = 8, k = 16, ivfPqPath)
      }
      val pqCodes = graft.operators.Similarity.readIvfPqIndex(spark, ivfPqPath)._1
      graft.operators.Similarity.ivfPqTopKFromCodes(pqCodes, model, pqCb,
        m = 8, k = 16, qvecs, kNN = 10, nProbe = 4).count() // warmup
      results("bench_ivfpq_serve_200k") = time2 {
        graft.operators.Similarity.ivfPqTopKFromCodes(pqCodes, model, pqCb,
          m = 8, k = 16, qvecs, kNN = 10, nProbe = 4).count(); ()
      }

      // batch ADC at 100 queries on the same codes: ONE codegen scan
      // + the bounded-heap reduction answers all 100
      val q100 = big.where(col("id") < 100).collect().map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }.toSeq
      graft.operators.Similarity.pqTopKFromCodes(pqCodes, pqCb,
        m = 8, k = 16, q100.take(5), kNN = 10).count() // warmup
      results("bench_pq_batch100_200k") = time2 {
        graft.operators.Similarity.pqTopKFromCodes(pqCodes, pqCb,
          m = 8, k = 16, q100, kNN = 10).count(); ()
      }

      // --- composed IVF+SQ beside IVF+PQ on the same corpus: cell
      // pruning x int8 codes with exact decoded-grid cosine (the
      // higher-resolution serving tier; build = assign+encode+
      // partitioned write, serve = one scan of the probed-cell union)
      val sqM = graft.operators.Similarity.sqTrain(big, "embedding")
      val ivfSqPath = s"$idxDir/ivfsq"
      results("bench_ivfsq_build_200k") = time {
        graft.operators.Similarity.writeIvfSqIndex(big, "embedding", "id",
          model, sqM, ivfSqPath)
      }
      val sqIdxCodes = graft.operators.Similarity.readIvfSqIndex(spark, ivfSqPath)._1
      graft.operators.Similarity.ivfSqTopKFromCodes(sqIdxCodes, model, sqM,
        qvecs, kNN = 10, nProbe = 4).count() // warmup
      results("bench_ivfsq_serve_200k") = time2 {
        graft.operators.Similarity.ivfSqTopKFromCodes(sqIdxCodes, model, sqM,
          qvecs, kNN = 10, nProbe = 4).count(); ()
      }
      // incremental ingest priced against the build: append a 1% batch
      // with the FROZEN quantizers — encode scan of the batch + file
      // adds in its cells only, no corpus re-read (the nightly-ingest
      // contract; serve above is unchanged by appends)
      val appBatch = spark.range(200000, 202000).select(col("id"),
        transform(sequence(lit(1), lit(64)),
          i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))
      results("bench_ivfsq_append1pct_200k") = time2 {
        graft.operators.Similarity.appendToIvfSqIndex(appBatch, "embedding",
          "id", model, sqM, ivfSqPath)
      }

      // --- int8 SQ on the same corpus: the parameter-free compression
      // tier — encode is one codegen scan against broadcast per-dim
      // bounds; serve decodes on the fly and runs the bounded cosine
      // pass over codes that bit-pack to ~1 byte/dim at rest
      results("bench_sq_encode_200k") = time2 {
        graft.operators.Similarity.sqEncode(big, "embedding", "id", sqM)
          .agg(sum(element_at(col("codes"), 1))).collect(); ()
      }
      val sqCodes = graft.operators.Similarity
        .sqEncode(big, "embedding", "id", sqM)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sqCodes.count()
      graft.operators.Similarity.sqTopK(sqCodes, "codes", "id", sqM,
        qvecs, k = 10).count() // warmup
      results("bench_sq_topk_200k") = time2 {
        graft.operators.Similarity.sqTopK(sqCodes, "codes", "id", sqM,
          qvecs, k = 10).count(); ()
      }
      sqCodes.unpersist(blocking = false)

      big.unpersist(blocking = false)
      BenchData.deleteRecursively(idxDir)
    }

    stampBw("ann_done")

    // --- bucketed-vs-plain join head-to-head at 200k×200k on the same
    // data in the same JVM (ratio valid under machine noise). Both
    // spellings are forced onto SortMergeJoin; the ONLY plan difference
    // is the Exchange pair the bucketed layout deletes. The write is
    // timed separately — it amortizes over every future join on the key
    // (the repeated metadata-attach pattern). Locally the shuffle is a
    // memcpy, so the gap understates the cluster win (at 1000 executors
    // the Exchange is network + disk spill, the bucketed read is local).
    {
      val fps = BenchData.layoutFps(spark, 200000)
      val meta = BenchData.layoutMeta(spark, 200000)
      val tag = s"bench_${ProcessHandle.current.pid}"
      val plainA = s"/tmp/graft_plain_a_$tag"; val plainB = s"/tmp/graft_plain_b_$tag"
      fps.write.mode("overwrite").parquet(plainA)
      meta.write.mode("overwrite").parquet(plainB)
      results("bench_bucketed_write_200k") = time {
        graft.sources.Bucketed.writeBucketed(fps, s"graft_bkt_bench_a_$tag",
          s"/tmp/graft_bkt_a_$tag", "doc_id", 32)
        graft.sources.Bucketed.writeBucketed(meta, s"graft_bkt_bench_b_$tag",
          s"/tmp/graft_bkt_b_$tag", "doc_id", 32)
      }
      import BenchData.mergeJoinCount
      val nb = mergeJoinCount(graft.sources.Bucketed.table(spark, s"graft_bkt_bench_a_$tag"),
                              graft.sources.Bucketed.table(spark, s"graft_bkt_bench_b_$tag"))
      val np = mergeJoinCount(spark.read.parquet(plainA), spark.read.parquet(plainB))
      if (nb != np) System.err.println(s"[bench] BUCKETED JOIN MISMATCH $nb vs $np")
      results("bench_bucketed_join_200k") = time2 {
        mergeJoinCount(graft.sources.Bucketed.table(spark, s"graft_bkt_bench_a_$tag"),
                       graft.sources.Bucketed.table(spark, s"graft_bkt_bench_b_$tag")); ()
      }
      results("bench_plain_join_200k") = time2 {
        mergeJoinCount(spark.read.parquet(plainA), spark.read.parquet(plainB)); ()
      }
      graft.sources.Bucketed.drop(spark, s"graft_bkt_bench_a_$tag")
      graft.sources.Bucketed.drop(spark, s"graft_bkt_bench_b_$tag")
      Seq(plainA, plainB, s"/tmp/graft_bkt_a_$tag", s"/tmp/graft_bkt_b_$tag")
        .foreach(BenchData.deleteRecursively)
    }

    // --- retrieval / selection / tokenizer-training at 200k docs:
    // BM25 over a 16-query batch (query-vocab-filtered pairs, bounded-
    // heap top-k), DSIR histogram + score + select, and the BPE merge
    // loop (whose per-round cost is vocabulary-, not corpus-, sized —
    // the 10k-word synthetic vocab exercises exactly that regime)
    {
      val bigDocs = BenchData.dupGroupDocs(spark, 200000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bigDocs.count()
      val q16 = (0L until 16L).map(i =>
        i -> (s"w${i * 13 % 10000} w${(i * 131 + 7) % 10000} w${(i * 997 + 3) % 10000}"))
      results("bench_bm25_200k") = time2 {
        graft.operators.Retrieval.bm25TopK(bigDocs, "text", "doc_id",
          q16, k = 10).count(); ()
      }
      // serving index: build priced once (amortizes over every future
      // batch), bucket-pruned serving priced per batch
      val bm25Tag = s"bench_${ProcessHandle.current.pid}"
      val bm25Name = s"graft_bm25_$bm25Tag"
      results("bench_bm25_idx_build_200k") = time {
        graft.operators.Retrieval.writeBm25Index(bigDocs, "text", "doc_id",
          bm25Name, s"/tmp/$bm25Name", nBuckets = 32)
      }
      results("bench_bm25_idx_serve_200k") = time2 {
        graft.operators.Retrieval.bm25TopKIndexed(spark, bm25Name,
          s"/tmp/$bm25Name", q16, k = 10).count(); ()
      }
      graft.sources.Bucketed.drop(spark, bm25Name)
      BenchData.deleteRecursively(s"/tmp/$bm25Name")
      BenchData.deleteRecursively(s"/tmp/${bm25Name}_stats")
      val dsirTarget = bigDocs.where(col("doc_id") % 97 === 0)
      val dsirRaw = bigDocs.where(col("doc_id") % 97 =!= 0)
      results("bench_dsir_200k") = time2 {
        val ratios = graft.operators.Dsir.logRatios(dsirTarget, dsirRaw,
          "text", "doc_id", buckets = 4096)
        val w = graft.operators.Dsir.logWeights(dsirRaw, "text", "doc_id",
          ratios, 4096)
        graft.operators.Dsir.selectTopK(w, 1000).count(); ()
      }
      results("bench_bpe_train16_200k") = time {
        graft.operators.Bpe.trainMerges(bigDocs, "text", numMerges = 16)
          .count(); ()
      }
      var benchMerges: Seq[(String, String)] = null
      results("bench_bpe_train64_200k") = time {
        benchMerges = graft.operators.Bpe.collectMerges(
          graft.operators.Bpe.trainMerges(bigDocs, "text", numMerges = 64))
      }
      results("bench_bpe_encode_200k") = time2 {
        graft.operators.Bpe.encodeStats(bigDocs, "text", "doc_id",
          benchMerges).agg(sum("n_subwords")).collect(); ()
      }
      // quality-gate TRAINING: 10 full-batch GD iterations over 200k
      // docs — per iteration one pass of the LogitKernel.grad block
      // kernel + a (dim+2)-long buffer per partition (feature extraction
      // included in the timed region: one gopher_stats pass + cache)
      results("bench_logit_train10_200k") = time {
        val feats = graft.operators.LogitTrain.features(bigDocs, "text",
          "doc_id", when(col("doc_id") % 4 === 0, 1.0).otherwise(0.0))
        graft.operators.LogitTrain.train(feats, iters = 10, lr = 1.0); ()
      }
      bigDocs.unpersist(blocking = false)
    }
    stampBw("retrieval_done")

    // --- full query suite: 1 warmup + 1 timed rep each (the reference
    // bench methodology, bench_utils.py:56-78) — steady-state numbers,
    // not JIT/classload noise. NOTE (measured r7): `.count()` lets
    // Catalyst PRUNE projection-only queries down to the scan — e.g.
    // lang_id's reported time is the documents scan alone, while
    // stratified_sample (whose FILTER consumes the langId value) pays
    // scan + one full langId pass. Suite numbers are comparable
    // round-over-round but are NOT a per-operator cost model; see
    // COVERAGE.md "bench methodology".
    stampBw("layout_done")
    val suite = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).count()
        suite(name) = time2 { fn(spark, sfDir).count(); () }
      } catch {
        case t: Throwable =>
          System.err.println(s"[bench] query '$name' FAILED: $t")
          t.printStackTrace()
          suite(name) = -1.0
      }
    }

    // ---------------------------------------------------------- emission
    // The driver stores only the LAST 2000 chars of stdout (measured:
    // every BENCH_r{1..6} artifact has a 2000-char `tail`, and sbt's
    // trailing "[success] Total time: ..." line eats ~80 of them —
    // ~1900 usable). The r6 format (one line with everything) overflowed
    // at ~90 entries; the mid-r7 format (headline = bench map +
    // suite_sec array) overflowed again at 115 suite + 39 bench entries
    // (measured 2241 chars). Current layout, smallest-last so the
    // window keeps the most important lines intact:
    //   1. BENCH_FULL.json (repo root = sbt cwd): the COMPLETE named
    //      map, full precision — the authoritative artifact, committed.
    //   2. suite_KofN then bench_KofM chunk lines: full-name entries,
    //      4-decimal, each ≤800 chars, independently parseable; the
    //      window retains the trailing bench chunks.
    //   3. LAST, the headline (BenchData.headline, <1500 chars pinned
    //      by HeadlineSpec): total + the 6 contract bench entries by
    //      name + the bench-section ms array in sorted-name order. The
    //      r7 headline carried suite_ms too and overflowed the window
    //      again (BENCH_r07 `parsed: null`, cut mid-array) — suite
    //      numbers now live ONLY in the chunk lines + BENCH_FULL.json.
    def r4(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    stampBw("suite_done")
    val ordered = suite ++ results
    // failed queries are recorded as -1 but must not reduce the total
    val total = ordered.values.filter(_ >= 0).sum

    // same-run reference head-to-head (tools/bench_reference.py: the
    // reference's in-core NumPy path on the same workloads) so
    // bench-vs-baseline is computable from BENCH_FULL.json alone,
    // without a separate judge session. Best-effort: a sandbox without
    // python/numpy records null rather than failing the bench.
    val referenceJson: String = try {
      val pb = new ProcessBuilder("python3", "tools/bench_reference.py", sfDir)
      pb.redirectErrorStream(false)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      if (proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS) &&
          proc.exitValue() == 0)
        out.linesIterator.map(_.trim)
          .find(l => l.startsWith("{\"reference\""))
          .map(l => new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(l).get("reference").toString)
          .getOrElse("null")
      else { proc.destroyForcibly(); "null" }
    } catch { case _: Throwable => "null" }

    val full = ordered.map { case (kk, v) => "\"" + kk + "\":" + v }.mkString("{", ",", "}")
    val bwJson = bandwidth.map { case (kk, v) => "\"" + kk + "\":" + v }
      .mkString("{", ",", "}")
    val scJson = shuffleCanary.map { case (kk, v) => "\"" + kk + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,""" +
        s""""bandwidth_gbps":$bwJson,"shuffle_canary_sec":$scJson,""" +
        s""""reference":$referenceJson,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () } // stdout emission must not die on an unwritable cwd

    def emitChunks(tag: String, entries: Iterable[(String, Double)]): Unit = {
      val chunks = scala.collection.mutable.ArrayBuffer[List[String]](Nil)
      entries.foreach { case (kk, v) =>
        val entry = "\"" + kk + "\":" + r4(v)
        if (chunks.last.map(_.length + 1).sum + entry.length > 800)
          chunks += List(entry)
        else chunks(chunks.length - 1) = chunks.last :+ entry
      }
      val n = chunks.length
      chunks.zipWithIndex.foreach { case (es, i) =>
        println(s"""{"metric":"${tag}_${i + 1}of$n","unit":"sec","queries":${es.mkString("{", ",", "}")}}""")
      }
    }
    emitChunks("suite", suite)
    emitChunks("bench", results)
    // the run's WORST section stamp: the conservative health figure —
    // one degraded section is enough to taint absolute comparisons
    val bwMin = if (bandwidth.isEmpty) -1 else bandwidth.values.min
    spark.stop()
    // printed AFTER spark.stop() so no late executor/log line can land
    // behind it: with build.sbt's StdoutOutput + showSuccess := false
    // this is the literal last line of process stdout — what the
    // driver's tail parser extracts
    println(BenchData.headline(total, results, sfDir, bwMin))
    System.out.flush()
  }
}
