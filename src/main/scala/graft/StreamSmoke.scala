package graft

import org.apache.spark.sql.functions._
import graft.som._
import graft.streaming.StreamingSom

/** Manual E2E drive of the streaming surface: file-source stream of the
  * embeddings table, som_bmu tagging, aggregate to console.
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cores(8))
    val dir = "/root/testdata/sf0.001"
    val static = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = new Som(SomConfig(4, 4, seed = 42)).fit(static, "embedding", 2)
    val streamDir = java.nio.file.Files.createTempDirectory("stream-smoke")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
      streamDir.resolve("embeddings.parquet"))
    val stream = spark.readStream.schema(static.schema).parquet(streamDir.toString)
    val tagged = StreamingSom.assignBmu(stream, model, "embedding")
    val q = tagged.groupBy("bmu_id").count()
      .writeStream.format("memory").queryName("stream_ar").outputMode("complete").start()
    q.processAllAvailable()
    val rows = spark.table("stream_ar").orderBy("bmu_id")
    println("[stream-smoke] neurons=" + rows.count())
    rows.show(20, truncate = false)
    q.stop()
    // cross-check against the batch path
    val batch = model.activationResponse(static, "embedding")
      .select("bmu_id", "n_wins").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val streamed = spark.table("stream_ar").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    println("[stream-smoke] batch==stream: " + (batch == streamed))

    // stateful sessionize over a real file stream vs the batch twin
    val eventsStatic = spark.read.parquet(s"$dir/events.parquet")
    val evDir = java.nio.file.Files.createTempDirectory("stream-smoke-ev")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      evDir.resolve("events.parquet"))
    val evStream = spark.readStream.schema(eventsStatic.schema).parquet(evDir.toString)
    val sess = graft.streaming.StreamingSom.sessionizeStream(
      evStream, "user_id", "ts", gapNs = 1800L * 1000000000L)
    val q2 = sess.writeStream.format("memory").queryName("stream_sess")
      .outputMode("update").start()
    q2.processAllAvailable()
    q2.stop()
    val streamSess = spark.table("stream_sess").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val batchSess = Queries.all("events_sessionize")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    println("[stream-smoke] sessionize batch==stream: " + (batchSess == streamSess))
    spark.stop()
  }
}
