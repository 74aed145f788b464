package graft

import org.apache.spark.sql.functions._

/** Throughput + state-size probe for the composed streaming
  * ingest-to-release path (`StreamingSom.curationExportStream`: Gopher
  * gate -> watermarked exact dedup -> content-keyed shard assignment ->
  * partitioned file sink). The batch==stream correctness of the
  * composition is spec-pinned at toy scale (`StreamingSpec`); this
  * probe answers the SCALE questions the specs cannot:
  *
  *  - sustained docs/s across real micro-batches (file source,
  *    maxFilesPerTrigger=1, a real partitioned parquet sink);
  *  - whether the dedup state store stays BOUNDED by the watermark
  *    (each landing file carries a later event-time band, so the
  *    watermark must evict earlier batches' fingerprints — an unbounded
  *    state line would grow by ~the kept-docs count every batch).
  *
  * Prints one line per micro-batch from `StreamingQuery.recentProgress`
  * (inputRows, proc docs/s, state rows, state MB) and a `[stream-probe]
  * TOTAL` line; numbers go into COVERAGE.md's headroom table.
  *
  * Usage: `runMain graft.StreamThroughputProbe [nDocs] [nFiles]`
  * (defaults 2,000,000 docs over 8 landing files).
  */
object StreamThroughputProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = GraftSession.local(GraftSession.cores(32))

    val base = java.nio.file.Files.createTempDirectory("graft_stream_probe").toString
    val landing = s"$base/landing"
    val sinkDir = s"$base/shards"
    val ckpt = s"$base/ckpt"

    // landing files: dup groups of 4 (same generator as the dedup
    // benches, so ~75% of each batch is duplicate), one event-time band
    // per file 40 minutes apart with a 10-minute watermark: batch i's
    // fingerprints expire at ts+10m, and the watermark reaching batch
    // i+1 (40i, one batch's lag behind) clears every earlier batch —
    // state_rows must plateau at ~one batch's distinct count, not grow
    // with the corpus
    val perFile = nDocs / nFiles
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    // ONE corpus sliced into per-file id ranges, so every landing file
    // carries fresh content (texts derive from the global doc_id) and
    // the dedup work is intra-batch groups-of-4, not cross-batch replays
    val corpus = BenchData.dupGroupDocs(spark, nDocs)
    for (i <- 0 until nFiles) {
      corpus
        .where(col("doc_id") >= i * perFile && col("doc_id") < (i + 1) * perFile)
        .select(
          col("doc_id"),
          col("text"),
          timestamp_millis(lit(t0 + i * 40L * 60 * 1000) +
            pmod(col("doc_id"), lit(600000L))).as("ts"))
        .coalesce(1)
        .write.mode("overwrite").parquet(f"$landing/batch_$i%02d")
      // strictly increasing mod-times so the file source triggers the
      // landing files in event-time order
      Thread.sleep(1100)
    }
    // one landing DIRECTORY per micro-batch: the file source globs them
    // in order with maxFilesPerTrigger bounding each trigger
    val schema = spark.read.parquet(s"$landing/batch_00").schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // = one landing file per trigger
      .parquet(s"$landing/batch_*")
    // permissive quality thresholds: the synthetic vocab ("w1234"-style
    // tokens) is not English prose — the gate must stay a real codegen
    // filter pass without rejecting the corpus wholesale
    val curated = graft.streaming.StreamingSom.curationExportStream(
      stream, "text", "doc_id", "ts",
      watermarkDur = "10 minutes", numShards = 16,
      minTok = 10, maxTok = 100000, minMeanLen = 1.0, maxMeanLen = 100.0,
      minAlphaRatio = 0.0, minStopHits = 0)

    val wall0 = System.nanoTime()
    val q = curated.writeStream
      .partitionBy("shard")
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()

    progress.foreach { p =>
      val st = p.stateOperators.headOption
      println(f"[stream-probe] batch=${p.batchId}%2d input=${p.numInputRows}%8d " +
        f"proc_docs_s=${p.processedRowsPerSecond}%10.0f " +
        f"state_rows=${st.map(_.numRowsTotal).getOrElse(-1L)}%8d " +
        f"state_mb=${st.map(_.memoryUsedBytes).getOrElse(-1L) / 1e6}%8.1f")
    }
    val kept = spark.read.parquet(sinkDir).count()
    val maxState = progress.flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal).maxOption.getOrElse(-1L)
    println(f"[stream-probe] TOTAL docs=$nDocs kept=$kept batches=${progress.length} " +
      f"wall_s=$wallS%.1f sustained_docs_s=${nDocs / wallS}%.0f " +
      f"max_state_rows=$maxState")
    BenchData.deleteRecursively(base)
    spark.stop()
  }
}
