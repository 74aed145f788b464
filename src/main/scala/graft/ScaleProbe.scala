package graft

/** Headroom probe: the bench workloads at ~10x their usual scale, run
  * manually per round to confirm the scaling story stays linear and
  * nothing hits a memory cliff on this machine:
  *  - MinHash LSH candidates over 2M synthetic docs (10x bench);
  *  - iterative cluster resolution on a 4M-edge chain graph — ABOVE the
  *    2M-edge union-find threshold, i.e. the regime the pointer-jumping
  *    path actually serves in production (the forced bench entry covers
  *    the same code path at 200k edges).
  *
  * Usage: `runMain graft.ScaleProbe
  * [minhash|resolve|bushy|spans|curation|ann|pq|pack|semantic|relational|ingest|layout|jsonl|retrieval|kmeans|kminit|append|exact|bm25seg|sq|logit|all]
  * [repeats] [nDocs]`. Run each phase in its OWN JVM (`all` exists for
  * convenience only): round 5 recorded a 103 s resolve outlier that was
  * same-JVM memory pressure from the preceding 2M-doc minhash phase, not
  * resolver behavior — phase isolation is what makes the headroom
  * numbers attributable. `nDocs` (default 2M) scales the document-count
  * phases (curation/spans/minhash) — the 20M curation probe is the
  * two-decades-above-suite data point. Results go in COVERAGE.md's
  * scale notes, not BENCH json.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val phase = args.headOption.getOrElse("all")
    val repeats = args.lift(1).map(_.toInt).getOrElse(1)
    val nDocs = args.lift(2).map(_.toLong).getOrElse(2000000L)
    require(Set("minhash", "resolve", "bushy", "spans", "curation", "ann", "pq", "pack", "semantic", "relational", "ingest", "layout", "jsonl", "retrieval", "kmeans", "kminit", "append", "exact", "bm25seg", "sq", "logit", "all")(phase),
      s"unknown phase '$phase' (want minhash|resolve|bushy|spans|curation|ann|pq|pack|semantic|relational|ingest|layout|jsonl|retrieval|kmeans|kminit|append|exact|bm25seg|sq|logit|all)")
    // partition count scales with the probed data volume, exactly as a
    // cluster operator would size it: at 20M docs (1B token instances)
    // 32 shuffle partitions put a ~31M-group hash aggregate in every
    // task — with the default 8g probe heap that OOMs before spilling
    // saves it. ~250k docs per partition keeps per-task state flat no
    // matter the probe size. (Run the 20M probe with
    // SPARK_DRIVER_MEM=64g+ — local[32] shares ONE driver heap across
    // all 32 "executor" threads, where a real cluster gives each
    // executor its own.)
    val parts = math.max(32L, nDocs / 250000L)
    val spark = GraftSession.local(GraftSession.cores(32), parts.toInt)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // between repeats: drop everything and let the heap settle so run N
    // does not inherit run N-1's old-gen pressure
    def settle(): Unit = { System.gc(); Thread.sleep(500) }

    for (rep <- 1 to repeats) {
      if (phase == "minhash" || phase == "all") {
        // 2M docs, same generator as bench_minhash_200k (dup groups of 4)
        val docs2m = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs2m.count()
        val tMinhash = time {
          val r = operators.Dedup.minhashCandidates(docs2m, "text", "doc_id")
          println("  candidate pairs: " + r.count())
          r.unpersist(blocking = true)
        }
        println(f"[scale] minhash ${nDocs / 1000000}M docs (run $rep/$repeats): $tMinhash%.1f s")
        docs2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "spans" || phase == "all") {
        // span operators at 2M docs (10x their bench entries): ~6.2M
        // spans, ~75% duplicated (groups of 4) — the count/firsts
        // aggregations and re-attach joins at real reduction ratios
        val docs2m = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs2m.count()
        val tDup = time {
          println("  dup spans: " + operators.Corpus
            .duplicateSpans(docs2m, "text", "doc_id")
            .agg(org.apache.spark.sql.functions.sum("n_dup_spans"))
            .collect().head.get(0))
        }
        println(f"[scale] dup_spans ${nDocs / 1000000}M docs (run $rep/$repeats): $tDup%.1f s")
        val tDedup = time {
          println("  spans kept: " + operators.Corpus
            .removeDuplicateSpans(docs2m, "text", "doc_id")
            .agg(org.apache.spark.sql.functions.sum("n_kept"))
            .collect().head.get(0))
        }
        println(f"[scale] span_dedup ${nDocs / 1000000}M docs (run $rep/$repeats): $tDedup%.1f s")
        docs2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "retrieval" || phase == "all") {
        // BM25 / DSIR / BPE a decade above their bench entries: pins
        // that retrieval stays query-vocab-bounded, DSIR stays
        // histogram-bounded, and the BPE merge loop's per-round cost is
        // vocabulary-sized (the 10k-word generator vocab is CONSTANT in
        // nDocs, so super-linear growth here would mean corpus-shaped
        // work leaked into the loop)
        val docs2m = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs2m.count()
        val q16 = (0L until 16L).map(i =>
          i -> (s"w${i * 13 % 10000} w${(i * 131 + 7) % 10000} w${(i * 997 + 3) % 10000}"))
        val tBm25 = time {
          println("  bm25 rows: " + operators.Retrieval.bm25TopK(
            docs2m, "text", "doc_id", q16, k = 10).count())
        }
        println(f"[scale] bm25 ${nDocs / 1000000}M docs (run $rep/$repeats): $tBm25%.1f s")
        val tgt = docs2m.where(org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
        val raw = docs2m.where(org.apache.spark.sql.functions.col("doc_id") % 97 =!= 0)
        val tDsir = time {
          val ratios = operators.Dsir.logRatios(tgt, raw, "text", "doc_id", 4096)
          println("  dsir selected: " + operators.Dsir.selectTopK(
            operators.Dsir.logWeights(raw, "text", "doc_id", ratios, 4096),
            1000).count())
        }
        println(f"[scale] dsir ${nDocs / 1000000}M docs (run $rep/$repeats): $tDsir%.1f s")
        var probeMerges: Seq[(String, String)] = Seq.empty
        val tBpe = time {
          probeMerges = operators.Bpe.collectMerges(
            operators.Bpe.trainMerges(docs2m, "text", numMerges = 64))
          println("  bpe merges: " + probeMerges.size)
        }
        println(f"[scale] bpe_train64 ${nDocs / 1000000}M docs (run $rep/$repeats): $tBpe%.1f s")
        val tEnc = time {
          println("  bpe subwords: " + operators.Bpe.encodeStats(
            docs2m, "text", "doc_id", probeMerges)
            .agg(org.apache.spark.sql.functions.sum("n_subwords"))
            .collect().head.get(0))
        }
        println(f"[scale] bpe_encode ${nDocs / 1000000}M docs (run $rep/$repeats): $tEnc%.1f s")
        // serving index a decade above bench: build once, then answer
        // the batch from bucket-pruned reads — serve cost tracks the
        // batch terms' POSTING LISTS (this generator's 10k-word vocab
        // makes every term corpus-proportional, so serve grows with
        // nDocs here; a heavy-tail real vocabulary prunes far harder),
        // build ~linear
        val tag = s"sp_${ProcessHandle.current.pid}_$rep"
        val tIdxBuild = time {
          operators.Retrieval.writeBm25Index(docs2m, "text", "doc_id",
            s"graft_bm25_$tag", s"/tmp/graft_bm25_$tag", nBuckets = 64)
        }
        println(f"[scale] bm25_idx_build ${nDocs / 1000000}M docs (run $rep/$repeats): $tIdxBuild%.1f s")
        val tIdxServe = time {
          println("  bm25 indexed rows: " + operators.Retrieval.bm25TopKIndexed(
            spark, s"graft_bm25_$tag", s"/tmp/graft_bm25_$tag", q16, k = 10).count())
        }
        println(f"[scale] bm25_idx_serve ${nDocs / 1000000}M docs (run $rep/$repeats): $tIdxServe%.1f s")
        graft.sources.Bucketed.drop(spark, s"graft_bm25_$tag")
        BenchData.deleteRecursively(s"/tmp/graft_bm25_$tag")
        BenchData.deleteRecursively(s"/tmp/graft_bm25_${tag}_stats")
        docs2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "logit" || phase == "all") {
        // quality-gate training a decade above the bench entry: 10
        // full-batch GD iterations over nDocs docs. Per-iteration cost
        // must scale with the cached block pass of `LogitKernel.grad` alone (the shuffle
        // is ONE dim+2-long buffer per partition, constant in nDocs)
        import org.apache.spark.sql.functions._
        val docsL = BenchData.dupGroupDocs(spark, nDocs)
        val tFeat = time {
          val feats = operators.LogitTrain.features(docsL, "text", "doc_id",
            when(col("doc_id") % 4 === 0, 1.0).otherwise(0.0))
          val m = operators.LogitTrain.train(feats, iters = 10, lr = 1.0)
          println(f"  trained n=${m.n} mse=${m.mse}%.6f " +
            s"w=${m.weights.map(w => f"$w%.3f").mkString(",")}")
        }
        println(f"[scale] logit_train10 ${nDocs / 1000000}M docs (run $rep/$repeats): $tFeat%.1f s")
        settle()
      }
      if (phase == "kmeans" || phase == "all") {
        // Lloyd's at 10x the bench entry: 2M x 64 synthetic embeddings,
        // k=64, 3 iterations. Per-iteration cost must scale with the
        // assignment scan (the shuffle is centroid-table-shaped: k x dim
        // DECIMAL partials per partition, constant in nDocs)
        import org.apache.spark.sql.functions._
        val emb2m = spark.range(nDocs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        emb2m.count()
        var km: operators.Kmeans.Model = null
        val tFit = time {
          km = operators.Kmeans.fit(emb2m, "embedding", "id", k = 64, iters = 3)
        }
        println(f"[scale] kmeans_fit64x3 ${nDocs / 1000000}M vecs (run $rep/$repeats): $tFit%.1f s")
        val tAssign = time {
          println("  kmeans cells: " + operators.Kmeans.assign(
            emb2m, "embedding", "id", km).groupBy("cid").count().count())
        }
        println(f"[scale] kmeans_assign ${nDocs / 1000000}M vecs (run $rep/$repeats): $tAssign%.1f s")
        emb2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "kminit" || phase == "all") {
        // k-means|| scalable init at the REAL IVF regime: k=4096 over
        // nDocs x 64 vectors. Cost contract: 2*rounds + 1 full scans +
        // a driver-local greedy over <= rounds*2k candidates — vs
        // farthest-first's k-1 = 4095 sequential scans (guarded off).
        // The d2 kernel's broadcast table is candidates x dim doubles
        // (~20 MB at the final round) — still broadcast-sized.
        import org.apache.spark.sql.functions._
        val embN = spark.range(nDocs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        embN.count()
        val tInit = time {
          val c = operators.Kmeans.initScalableCentroids(
            embN, "embedding", "id", k = 4096)
          println("  scalable init centroids: " + c.length)
        }
        println(f"[scale] kmeans_scalable_init_k4096 ${nDocs / 1000000}M vecs (run $rep/$repeats): $tInit%.1f s")
        embN.unpersist(blocking = true)
        settle()
      }

      if (phase == "bm25seg" || phase == "all") {
        // segmented BM25 at scale: base segment over nDocs docs, then
        // a 1% delta segment. The append must cost delta-sized; the
        // segmented serve must cost what the monolithic serve costs
        // (same term-bounded postings read, one extra term-bounded
        // window for the serve-time df)
        val docsN = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docsN.count()
        val tag = s"bm25seg_${ProcessHandle.current.pid}_$rep"
        val name = s"graft_$tag"
        val path = s"/tmp/$name"
        val q16 = (0L until 16L).map(i =>
          i -> (s"w${i * 13 % 10000} w${(i * 131 + 7) % 10000} w${(i * 997 + 3) % 10000}"))
        val tBase = time {
          operators.Retrieval.appendBm25Segment(docsN, "text", "doc_id",
            name, path, nBuckets = 64, segment = "base")
        }
        println(f"[scale] bm25seg_base ${nDocs / 1000000}M docs (run $rep/$repeats): $tBase%.1f s")
        val delta = BenchData.dupGroupDocs(spark, nDocs / 100)
          .select((org.apache.spark.sql.functions.col("doc_id") + nDocs).as("doc_id"),
            org.apache.spark.sql.functions.col("text"))
        val tDelta = time {
          operators.Retrieval.appendBm25Segment(delta, "text", "doc_id",
            name, path, nBuckets = 64, segment = "delta")
        }
        println(f"[scale] bm25seg_append_1pct ${nDocs / 1000000}M docs (run $rep/$repeats): $tDelta%.1f s")
        val tServe = time {
          println("  segmented rows: " + operators.Retrieval
            .bm25TopKSegmented(spark, name, path, q16, k = 10).count())
        }
        println(f"[scale] bm25seg_serve ${nDocs / 1000000}M docs (run $rep/$repeats): $tServe%.1f s")
        // fan-out leg: the SAME corpus as 8 segments — quantifies the
        // per-segment serve overhead (8 pruned scans + plan fan-out vs
        // 2) that tells an operator when to schedule compactBm25Index
        val name8 = s"${name}8"
        val path8 = s"/tmp/$name8"
        (0 until 8).foreach { sgm =>
          operators.Retrieval.appendBm25Segment(
            docsN.where(org.apache.spark.sql.functions.col("doc_id") % 8 === sgm),
            "text", "doc_id", name8, path8, nBuckets = 64, segment = s"s$sgm")
        }
        val tServe8 = time {
          println("  8-segment rows: " + operators.Retrieval
            .bm25TopKSegmented(spark, name8, path8, q16, k = 10).count())
        }
        println(f"[scale] bm25seg_serve_8seg ${nDocs / 1000000}M docs (run $rep/$repeats): $tServe8%.1f s")
        val tCompact = time {
          operators.Retrieval.compactBm25Index(spark, name8, path8, nBuckets = 64)
        }
        println(f"[scale] bm25seg_compact8 ${nDocs / 1000000}M docs (run $rep/$repeats): $tCompact%.1f s")
        val tServeC = time {
          println("  compacted rows: " + operators.Retrieval
            .bm25TopKSegmented(spark, name8, path8, q16, k = 10).count())
        }
        println(f"[scale] bm25seg_serve_compacted ${nDocs / 1000000}M docs (run $rep/$repeats): $tServeC%.1f s")
        (Seq(s"${name}__base", s"${name}__delta") ++
          (sources.IndexLog.snapshot(spark, path8).data ++
            (0 until 8).map(sgm => s"s$sgm")).map(sgm => s"${name8}__$sgm"))
          .foreach(graft.sources.Bucketed.drop(spark, _))
        BenchData.deleteRecursively(path)
        BenchData.deleteRecursively(path8)
        docsN.unpersist(blocking = true)
        settle()
      }

      if (phase == "exact" || phase == "all") {
        // exact dedup a THIRD decade above the suite: fingerprint +
        // keep-first over nDocs docs (pass 100M+). The docs are NOT
        // pre-persisted — at this scale the text exists only inside
        // the one md5 scan (fp+id ride the shuffle, never documents),
        // which is exactly the 100 TB contract being probed
        val docsX = BenchData.dupGroupDocs(spark, nDocs)
        val tExact = time {
          println("  kept docs: " + operators.Dedup
            .dropExactDuplicates(docsX, "text", "doc_id")
            .select("doc_id").count())
        }
        println(f"[scale] dedup_exact ${nDocs / 1000000}M docs (run $rep/$repeats): $tExact%.1f s")
        settle()
      }

      if (phase == "append" || phase == "all") {
        // incremental IVF+SQ index ingest: build over nDocs, then
        // append a nDocs/100 batch. The append must cost batch-sized
        // (one encode scan of the batch + file adds in its cells),
        // NOT corpus-sized — the contract that makes nightly ingest
        // at 100 TB a minutes job instead of a rebuild
        import org.apache.spark.sql.functions._
        val mkVecs = (from: Long, until: Long) =>
          spark.range(from, until).select(col("id"),
            transform(sequence(lit(1), lit(64)),
              i => sin(col("id") * i * 0.7 + i * 1.3).cast("float")).as("embedding"))
        val baseN = mkVecs(0L, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        baseN.count()
        val som = new graft.som.Som(graft.som.SomConfig(4, 4, seed = 42))
          .fit(baseN.limit(10000), "embedding", numEpochs = 1)
        val sq = operators.Similarity.sqTrain(baseN, "embedding")
        val path = s"/tmp/graft_append_probe_${ProcessHandle.current.pid}_$rep"
        val tBuild = time {
          operators.Similarity.writeIvfSqIndex(baseN, "embedding", "id",
            som, sq, path)
        }
        println(f"[scale] ivfsq_build ${nDocs / 1000000}M vecs (run $rep/$repeats): $tBuild%.1f s")
        val batchN = mkVecs(nDocs, nDocs + nDocs / 100)
        val tAppend = time {
          operators.Similarity.appendToIvfSqIndex(batchN, "embedding", "id",
            som, sq, path)
        }
        println(f"[scale] ivfsq_append_1pct ${nDocs / 1000000}M vecs (run $rep/$repeats): $tAppend%.1f s")
        // serve cost must be unchanged by the append (still pruned)
        val (codes, sqB) = operators.Similarity.readIvfSqIndex(spark, path)
        val qs = (0L until 16L).map { q =>
          (q, Array.tabulate(64)(d => math.sin(q * (d + 1) * 0.7 + (d + 1) * 1.3)))
        }
        val tServe = time {
          println("  served rows: " + operators.Similarity
            .ivfSqTopKFromCodes(codes, som, sqB, qs, kNN = 10,
              nProbe = 2).count())
        }
        println(f"[scale] ivfsq_serve_post_append ${nDocs / 1000000}M vecs (run $rep/$repeats): $tServe%.1f s")
        BenchData.deleteRecursively(path)
        baseN.unpersist(blocking = true)
        settle()
      }

      if (phase == "curation" || phase == "all") {
        // the two round-6 heavyweights at 2M docs (400x the sf0.1 rows
        // their suite entries run on): the full curation lineage and the
        // corpus cross-entropy. The generator's tokens are synthetic
        // (`w<hash>`), so the Gopher stop-hits gate is set to 0 — with
        // the default >=1 every doc fails and the downstream dedup/
        // sampling stages would probe nothing.
        import org.apache.spark.sql.functions._
        val docs2m = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs2m.count()
        val tCur = time {
          val kept = operators.Corpus.gopherKeep(docs2m, "text",
            minTok = 30, maxTok = 100000, minStopHits = 0)
          val deduped = operators.Dedup.dropExactDuplicates(kept, "text", "doc_id")
          val sampled = operators.Sampling.sampleByHashStratified(
            operators.Materialize.once(deduped, "lang",
              functions.TextFunctions.langId(col("text"))),
            "doc_id", "lang", Map("en" -> 0.6), defaultRate = 0.15,
            salt = "cur")
          println("  curated rows: " + sampled.count())
        }
        println(f"[scale] curation_e2e ${nDocs / 1000000}M docs (run $rep/$repeats): $tCur%.1f s")
        val tCe = time {
          val ce = operators.Corpus.unigramCrossEntropy(docs2m, "text", "doc_id")
            .agg(sum("n_tok"), avg("ce"))
          println("  ce agg: " + ce.collect().head)
        }
        println(f"[scale] unigram_ce ${nDocs / 1000000}M docs (run $rep/$repeats): $tCe%.1f s")
        docs2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "ann" || phase == "all") {
        // IVF serving at nDocs embeddings (64-dim): build the partitioned
        // index ONCE, then serve a 5-query batch from the read-back index
        // — the repeated-query ANN story. Serve must stay flat-ish as the
        // corpus grows (static partition pruning scans only the probed
        // cells), while build scales with the corpus.
        import org.apache.spark.sql.functions._
        val big = spark.range(nDocs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float").cast("double"))
            .as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        big.count()
        val qvecs = big.where(col("id") < 5).collect().map { r =>
          (r.getLong(0), r.getSeq[Double](1).toArray)
        }.toSeq
        // contrastive mining a decade above its bench entry: 8 anchors'
        // hardest cross-label negatives — one scan, bounded heaps, so
        // cost must track the scan (≤ k pairs/query leave a partition)
        val tMine = time {
          println("  hard-neg rows: " + operators.Similarity.hardNegatives(
            big.withColumn("label", pmod(col("id"), lit(16))),
            "embedding", "id", "label", (0L until 8L).toSeq, k = 10).count())
        }
        println(f"[scale] hard_negatives ${nDocs / 1000000}M vecs (run $rep/$repeats): $tMine%.1f s")
        val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_probe_").toString
        var model: graft.som.SomModel = null
        val tBuild = time {
          model = new graft.som.Som(graft.som.SomConfig(4, 4, seed = 7))
            .fit(big, "embedding", numEpochs = 2)
          operators.Similarity.writeAssignedIndex(big, "embedding", model,
            s"$idxDir/index")
        }
        println(f"[scale] ivf_build ${nDocs / 1000000}M vecs (run $rep/$repeats): $tBuild%.1f s")
        val assigned = spark.read.parquet(s"$idxDir/index")
        def serve(): Long = operators.Similarity.somTopKAssigned(
          assigned, model, "embedding", "id", qvecs, k = 10, nProbe = 4).count()
        val tCold = time { println("  top-k rows: " + serve()) }
        val tWarm = time { serve(); () }
        println(f"[scale] ivf_serve ${nDocs / 1000000}M vecs cold/warm (run $rep/$repeats): $tCold%.1f / $tWarm%.1f s")
        big.unpersist(blocking = true)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(idxDir)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        settle()
      }

      if (phase == "semantic" || phase == "all") {
        // semantic dedup at realistic cell occupancy: a trained 32x32
        // codebook (1024 cells) holds the within-cell quadratic to
        // ~nDocs^2/2048 cosine pairs corpus-wide — the occupancy tuning
        // the operator's scaladoc prescribes (probe default 200k vecs;
        // a 3x3 codebook here would be a 2B-pair mistake, not a probe).
        // Prints pair/component counts so a generator change that
        // explodes the duplicate graph is visible, not silent.
        import org.apache.spark.sql.functions._
        val nVecs = math.min(nDocs, 200000L)
        val big = spark.range(nVecs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float").cast("double"))
            .as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        big.count()
        var model: graft.som.SomModel = null
        val tTrain = time {
          model = new graft.som.Som(graft.som.SomConfig(32, 32, seed = 11))
            .fit(big, "embedding", numEpochs = 1)
        }
        val tSem = time {
          val r = operators.Dedup.semanticDupClusters(
            big, "embedding", "id", model, threshold = 0.999)
          println("  dup members: " + r.count() +
            ", components: " + r.select("keep_id").distinct().count())
          org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        }
        println(f"[scale] semantic ${nVecs / 1000}k vecs, 1024 cells (run $rep/$repeats): " +
          f"train $tTrain%.1f s + dedup $tSem%.1f s")
        big.unpersist(blocking = true)
        settle()
      }

      if (phase == "pack" || phase == "all") {
        // sequence packing + deterministic shuffle rank at nDocs: the
        // distributed prefix-sum machinery (range shuffle + tiny count
        // aggregate + broadcast offsets + narrow scan) at 400x the
        // suite rows — the declarative spelling would be a
        // single-partition window here
        import org.apache.spark.sql.functions._
        val docs2m = BenchData.dupGroupDocs(spark, nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs2m.count()
        val tPack = time {
          val p = operators.Packing.packSequences(docs2m, "text", "doc_id",
            budget = 2048)
          println("  packed docs: " + p.count() +
            ", sequences: " + (p.agg(max("seq_last")).collect().head.getLong(0) + 1))
          p.unpersist(blocking = false)
        }
        println(f"[scale] pack_sequences ${nDocs / 1000000}M docs (run $rep/$repeats): $tPack%.1f s")
        val tRank = time {
          val keyed = docs2m.select(col("doc_id"),
            md5(concat(lit("s"), col("doc_id").cast("string"))).as("skey"))
          val r = operators.Packing.globalRank(keyed, "skey", "doc_id")
          println("  ranked rows: " + r.count())
          r.unpersist(blocking = false)
        }
        println(f"[scale] shuffle_rank ${nDocs / 1000000}M docs (run $rep/$repeats): $tRank%.1f s")
        docs2m.unpersist(blocking = true)
        settle()
      }

      if (phase == "pq" || phase == "all") {
        // PQ at nDocs embeddings (64-dim, same generator as the ann
        // phase): encode throughput (one codegen scan -> 8 codes/vec)
        // and ADC serving over the codes. Serving scales with the CODES
        // table (nDocs x 8 ints), not the float vectors — the probe's
        // point is that the serve cost tracks that 32x-smaller artifact.
        import org.apache.spark.sql.functions._
        val big = spark.range(nDocs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float").cast("double"))
            .as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        big.count()
        val sample = big.where(col("id") < 16).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
        val cb = operators.Similarity.pqCodebookFromRows(
          sample.map(_._2).toSeq, m = 8)
        val qvecs = sample.take(5).toSeq
        val tEncode = time {
          // consume the codes through an aggregate: a bare count() lets
          // Catalyst PRUNE the encode projection down to the scan and
          // times nothing (the bench-methodology count() caveat)
          println("  code checksum: " + operators.Similarity
            .pqEncode(big, "embedding", "id", cb, m = 8, k = 16)
            .agg(sum(element_at(col("codes"), 1))).collect().head.get(0))
        }
        println(f"[scale] pq_encode ${nDocs / 1000000}M vecs (run $rep/$repeats): $tEncode%.1f s")
        val tServe = time {
          println("  top-k rows: " + operators.Similarity
            .pqTopK(big, "embedding", "id", cb, m = 8, k = 16, qvecs,
              kNN = 10).count())
        }
        println(f"[scale] pq_topk ${nDocs / 1000000}M vecs, 5 queries (run $rep/$repeats): $tServe%.1f s")
        // batch serving: materialize the codes once (the served
        // artifact), then answer 100 queries in ONE scan
        val codes = operators.Similarity
          .pqEncode(big, "embedding", "id", cb, m = 8, k = 16)
          .select(col("id"), col("codes"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        codes.count()
        val q100 = big.where(col("id") < 100).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        val tBatch100 = time {
          println("  batch100 rows: " + operators.Similarity
            .pqTopKFromCodes(codes, cb, m = 8, k = 16, q100, kNN = 10)
            .count())
        }
        println(f"[scale] pq_batch100 ${nDocs / 1000000}M codes, 100 queries, one scan (run $rep/$repeats): $tBatch100%.1f s")
        codes.unpersist(blocking = true)
        big.unpersist(blocking = true)
        settle()
      }

      if (phase == "sq" || phase == "all") {
        // int8 scalar quantization at nDocs embeddings (64-dim, same
        // generator as pq): train (one partial-aggregated min/max pass),
        // encode throughput, and decode-on-the-fly serving over the
        // persisted codes — the ~1-byte/dim artifact is the point
        import org.apache.spark.sql.functions._
        val big = spark.range(nDocs).select(col("id"),
          transform(sequence(lit(1), lit(64)),
            i => sin(col("id") * i * 0.7 + i * 1.3).cast("float").cast("double"))
            .as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        big.count()
        var model: operators.Similarity.SqModel = null
        val tTrain = time { model = operators.Similarity.sqTrain(big, "embedding") }
        println(f"[scale] sq_train ${nDocs / 1000000}M vecs (run $rep/$repeats): $tTrain%.1f s")
        val tEncode = time {
          println("  code checksum: " + operators.Similarity
            .sqEncode(big, "embedding", "id", model)
            .agg(sum(element_at(col("codes"), 1))).collect().head.get(0))
        }
        println(f"[scale] sq_encode ${nDocs / 1000000}M vecs (run $rep/$repeats): $tEncode%.1f s")
        val codes = operators.Similarity.sqEncode(big, "embedding", "id", model)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        codes.count()
        val qvecs = big.where(col("id") < 5).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        val tServe = time {
          println("  top-k rows: " + operators.Similarity
            .sqTopK(codes, "codes", "id", model, qvecs, k = 10).count())
        }
        println(f"[scale] sq_topk ${nDocs / 1000000}M codes, 5 queries (run $rep/$repeats): $tServe%.1f s")
        codes.unpersist(blocking = true)
        big.unpersist(blocking = true)
        settle()
      }

      if (phase == "resolve" || phase == "all") {
        // chain graph at nDocs×2 nodes (default: 4M nodes → 8M
        // symmetrized edges, 2000-length chains): above the 2M-edge
        // union-find threshold, so this takes the REAL dispatch into
        // the iterative path — contraction check included. Pass
        // nDocs=20M for the 40M-node / 80M-edge two-decade probe.
        val chains = BenchData.chainGraph(spark, nDocs * 2, 2000)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        chains.count()
        val tResolve = time {
          val r = operators.Dedup.resolveDuplicateClusters(chains)
          println("  labeled nodes: " + r.count())
          org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        }
        println(f"[scale] resolve ${nDocs * 4 / 1000000}M-edge chains (iterative dispatch, run $rep/$repeats): $tResolve%.1f s")
        chains.unpersist(blocking = true)
        settle()
      }

      if (phase == "relational" || phase == "all") {
        import org.apache.spark.sql.functions._
        // the round-7b relational/sampling operators at nDocs events:
        // bucketed range join in its dense regime (~2,000 events/key,
        // 1e7-wide window over a 1e9 ns span → ~20 matches/row), the
        // bounded top-n-per-stratum aggregate, and the weighted
        // reservoir — matched pairs scale linearly with events, so the
        // probe pins that none of the three goes super-linear
        val nKeys = math.max(100L, nDocs / 2000L)
        val ev = spark.range(nDocs).select(
            col("id").as("eid"),
            pmod(col("id"), lit(nKeys)).as("k"),
            pmod(col("id") * 2654435761L, lit(1000000000L)).as("ts"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ev.count()
        val tRange = time {
          println("  range pairs: " + operators.AsOfJoin
            .joinRange(ev, ev, "k", "ts", 0L, 10000000L, mode = "bucket").count())
        }
        println(f"[scale] rangejoin ${nDocs / 1000000}M events (run $rep/$repeats): $tRange%.1f s")
        val strat = ev.withColumn("lang", pmod(col("eid"), lit(20)).cast("string"))
        val tTopn = time {
          println("  stratum sample: " + operators.Sampling
            .sampleFixedPerStratum(strat, "eid", "lang", n = 100).count())
        }
        println(f"[scale] topn-stratum ${nDocs / 1000000}M rows (run $rep/$repeats): $tTopn%.1f s")
        val wtd = ev.withColumn("w", (pmod(col("eid"), lit(100)) + 1).cast("double"))
        val tWeighted = time {
          println("  weighted sample: " + operators.Sampling
            .sampleByWeight(wtd, "eid", "w", k = 1000).count())
        }
        println(f"[scale] weighted-sample ${nDocs / 1000000}M rows (run $rep/$repeats): $tWeighted%.1f s")
        ev.unpersist(blocking = true)
        settle()
      }

      if (phase == "ingest" || phase == "all") {
        import org.apache.spark.sql.functions._
        // the ingest-gate regime the Bloom sketch exists for: a SMALL
        // batch (nDocs/100) arriving against a BIG frozen corpus
        // (nDocs). The plain anti-join must shuffle corpus-sized
        // fingerprints EVERY batch; the gate pays one sketch build,
        // then each batch touches the corpus only through a broadcast
        // of the (tiny) suspect set. The bench entry at batch==corpus
        // scale shows the opposite regime (gate adds cost) — this
        // probe is the half of the story the bench can't show.
        // one generated id space, split like the bench: corpus = ids
        // below nDocs, batch = an id band straddling the boundary so
        // ~half the batch shares dup-group texts with the corpus
        val bSize = nDocs / 50L
        val all = BenchData.dupGroupDocs(spark, nDocs + bSize)
        val corpus = all.where(org.apache.spark.sql.functions.col("doc_id") < nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        corpus.count()
        // dup-heavy band straddling the boundary: ~50% true dups — the
        // adversarial suspect-set size (forces the gate's fallback join)
        val batch = all.where(org.apache.spark.sql.functions.col("doc_id") >= nDocs - bSize / 2L)
          .where(org.apache.spark.sql.functions.col("doc_id") < nDocs + bSize / 2L)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batch.count()
        // fresh band fully above the corpus: ~0% dups — the REALISTIC
        // ingest batch (suspects ≈ fpp·|batch|, pushdown route)
        val batchFresh = all.where(org.apache.spark.sql.functions.col("doc_id") >= nDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batchFresh.count()
        val tAnti = time {
          println("  anti-join survivors: " + operators.Dedup
            .dropExistingDuplicates(batch, corpus, "text", "doc_id").count())
        }
        println(f"[scale] ingest anti-join ${nDocs / 1000000}M corpus / ${nDocs / 50000}k batch (run $rep/$repeats): $tAnti%.1f s")
        var bloom: org.apache.spark.util.sketch.BloomFilter = null
        val tBuild = time {
          bloom = operators.Dedup.corpusFingerprintBloom(corpus, "text",
            expectedItems = nDocs, fpp = 0.01)
        }
        println(f"[scale] ingest bloom build (one-off, run $rep/$repeats): $tBuild%.1f s")
        val tGate = time {
          println("  bloom-gate survivors: " + operators.Dedup
            .dropExistingDuplicatesBloom(batch, corpus, "text", "doc_id", bloom)
            .count())
        }
        println(f"[scale] ingest bloom gate per-batch (run $rep/$repeats): $tGate%.1f s")
        // the PERSISTED fingerprint index: one build, then per-batch
        // confirm reads fp-only sorted parquet with IN pushdown — the
        // corpus text is never re-read per ingest
        val idxDir = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
        val tIdxBuild = time {
          operators.Dedup.writeFingerprintIndex(corpus, "text", idxDir,
            numPartitions = math.max(32, (nDocs / 250000L).toInt))
        }
        println(f"[scale] ingest fp-index build (one-off, run $rep/$repeats): $tIdxBuild%.1f s")
        val tIdx = time {
          println("  indexed-gate survivors: " + operators.Dedup
            .dropExistingDuplicatesIndexed(batch, idxDir, "text", "doc_id", bloom)
            .count())
        }
        println(f"[scale] ingest indexed gate per-batch (run $rep/$repeats): $tIdx%.1f s")
        // fresh-batch legs: the regime every real ingest lives in
        val tAntiF = time {
          println("  anti-join fresh survivors: " + operators.Dedup
            .dropExistingDuplicates(batchFresh, corpus, "text", "doc_id").count())
        }
        println(f"[scale] ingest anti-join FRESH batch (run $rep/$repeats): $tAntiF%.1f s")
        val tIdxF = time {
          println("  indexed-gate fresh survivors: " + operators.Dedup
            .dropExistingDuplicatesIndexed(batchFresh, idxDir, "text", "doc_id", bloom)
            .count())
        }
        println(f"[scale] ingest indexed gate FRESH batch (run $rep/$repeats): $tIdxF%.1f s")
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(idxDir)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        batchFresh.unpersist(blocking = true)
        batch.unpersist(blocking = true)
        corpus.unpersist(blocking = true)
        settle()
      }

      if (phase == "bushy" || phase == "all") {
        // complete binary tree at nDocs×4 nodes (default 8M nodes → 16M
        // symmetrized edges): the bushy extreme. Every node's label
        // changes every round (chains flip only a frontier), so the
        // per-round aggregates and hop joins see maximal churn — the
        // heavy-cost counterpart to the chain probe's max-diameter
        // case. Real dispatch: above the union-find threshold, eager
        // contraction check fails (~nNodes label-space edges), full
        // iterative loop (~5 rounds at diameter ~46).
        val tree = BenchData.treeGraph(spark, nDocs * 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        tree.count()
        val tTree = time {
          val r = operators.Dedup.resolveDuplicateClusters(tree)
          println("  labeled nodes: " + r.count())
          org.apache.spark.sql.GraftBridge.freeCheckpoint(r)
        }
        println(f"[scale] bushy ${nDocs * 4 / 1000000}M-node tree (real dispatch, run $rep/$repeats): $tTree%.1f s")
        tree.unpersist(blocking = true)
        settle()
      }

      if (phase == "jsonl" || phase == "all") {
        import org.apache.spark.sql.functions._
        // JSONL vs parquet ingest at nDocs (50-token docs): the same
        // fingerprint pass over both encodings prices the JSON parse
        // tax a 100 TB raw-corpus ingest pays before its first parquet
        // conversion — and why that conversion is the first job
        val tag = s"probe_jsonl_${ProcessHandle.current.pid}_$rep"
        val docsN = BenchData.dupGroupDocs(spark, nDocs)
        val jd = s"/tmp/graft_${tag}_j"; val pd = s"/tmp/graft_${tag}_p"
        val tJw = time { sources.Jsonl.write(docsN, jd) }
        docsN.write.mode("overwrite").parquet(pd)
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string")
        def fpCount(df: org.apache.spark.sql.DataFrame): Long =
          df.select(md5(col("text")).as("fp")).where(col("fp").isNotNull).count()
        fpCount(sources.Jsonl.readStrict(spark, jd, schema)) // warm
        val tJ = time { fpCount(sources.Jsonl.readStrict(spark, jd, schema)) }
        fpCount(spark.read.parquet(pd)) // warm
        val tP = time { fpCount(spark.read.parquet(pd)) }
        println(f"[scale] jsonl ${nDocs / 1000000}M docs: write $tJw%.1f s; strict read+fp $tJ%.1f s vs parquet $tP%.1f s (run $rep/$repeats)")
        Seq(jd, pd).foreach(BenchData.deleteRecursively)
        settle()
      }

      if (phase == "layout" || phase == "all") {
        import org.apache.spark.sql.functions._
        // the storage layouts at 10x bench scale: bucketed-vs-plain
        // join (the Exchange the bucket write deletes grows with data;
        // the bucketed read does not), routed write + pruned read
        // (listing/scan cost should track the REQUESTED partitions,
        // not the corpus), and small-file compaction (the shuffle is
        // the whole cost — one pass over the bytes)
        val tag = s"probe_${ProcessHandle.current.pid}_$rep"
        val fps = BenchData.layoutFps(spark, nDocs)
        val meta = BenchData.layoutMeta(spark, nDocs)
        val pA = s"/tmp/graft_probe_plain_a_$tag"; val pB = s"/tmp/graft_probe_plain_b_$tag"
        fps.write.mode("overwrite").parquet(pA)
        meta.write.mode("overwrite").parquet(pB)
        val tW = time {
          sources.Bucketed.writeBucketed(fps, s"graft_pa_$tag",
            s"/tmp/graft_bkt_pa_$tag", "doc_id", parts.toInt)
          sources.Bucketed.writeBucketed(meta, s"graft_pb_$tag",
            s"/tmp/graft_bkt_pb_$tag", "doc_id", parts.toInt)
        }
        import BenchData.{mergeJoinCount => jc}
        val nb = jc(sources.Bucketed.table(spark, s"graft_pa_$tag"),
                    sources.Bucketed.table(spark, s"graft_pb_$tag")) // warm
        val tBkt = time { jc(sources.Bucketed.table(spark, s"graft_pa_$tag"),
                             sources.Bucketed.table(spark, s"graft_pb_$tag")) }
        val np = jc(spark.read.parquet(pA), spark.read.parquet(pB)) // warm
        val tPlain = time { jc(spark.read.parquet(pA), spark.read.parquet(pB)) }
        require(nb == np, s"layout probe join mismatch: $nb vs $np")
        println(f"[scale] layout ${nDocs / 1000000}M bucketed write $tW%.1f s; join bucketed $tBkt%.2f s vs plain $tPlain%.2f s (run $rep/$repeats)")
        val rDir = s"/tmp/graft_probe_routed_$tag"
        val tRW = time { sources.Partitioned.writeRouted(meta, rDir, "lang") }
        val tRR = time {
          println("  routed rows: " + sources.Partitioned
            .readRouted(spark, rDir, "lang", Seq("1", "2")).count())
        }
        println(f"[scale] layout routed write $tRW%.1f s; 2-of-20 pruned read $tRR%.2f s (run $rep/$repeats)")
        val fragDir = s"/tmp/graft_probe_frag_$tag"
        fps.repartition(512).write.mode("overwrite").parquet(fragDir)
        val tC = time {
          val (nIn, nOut) = sources.Compact.compactParquet(spark, fragDir,
            fragDir + "_out", targetFileBytes = 64L * 1024 * 1024)
          println(s"  compacted $nIn -> $nOut files")
        }
        println(f"[scale] layout compaction 512-file rewrite $tC%.1f s (run $rep/$repeats)")
        Seq(s"graft_pa_$tag", s"graft_pb_$tag").foreach(t => sources.Bucketed.drop(spark, t))
        Seq(pA, pB, s"/tmp/graft_bkt_pa_$tag", s"/tmp/graft_bkt_pb_$tag",
            rDir, fragDir, fragDir + "_out").foreach(BenchData.deleteRecursively)
        settle()
      }
    }
    spark.stop()
  }
}
