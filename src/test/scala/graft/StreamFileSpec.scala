package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** H1 against a real file source: the production shape (readStream over a
  * growing parquet directory) rather than MemoryStream. */
class StreamFileSpec extends SparkSpec {

  test("windowed counts over a parquet file stream match the batch rollup") {
    val events = Tables.events(spark, Sf)
      .select("ts", "event_type", "value")
    val dir = tempDir("graft_stream").toString + "/events"
    // two "arriving" batches
    events.filter(col("event_id").isNotNull) // no-op filter keeps schema
    val half = events.count() / 2
    events.limit(half.toInt).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val counts = Streams.windowedCounts(stream, windowLen = "1 day")
    val q = counts.writeStream.format("memory").queryName("h1_file_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      // second batch arrives
      events.write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("h1_file_counts")
        .groupBy("window_start", "event_type")
        .agg(sum(col("n_events")).as("n_events"))
      // batch truth: first half + full set appended = 1.5x... compare keys
      // against the direct batch rollup of everything written to the dir
      val written = spark.read.parquet(dir)
      val batch = Streams.windowedCounts(written)
      val s = streamed.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val b = batch.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(s == b, s"streamed ${s.size} windows vs batch ${b.size}")
    } finally q.stop()
  }

  test("streaming ingest writes a durable checkpointed parquet sink") {
    val events = Tables.events(spark, Sf).select("event_id", "ts", "event_type", "value")
    val srcDir = tempDir("graft_sink_src").toString + "/events"
    val sinkDir = tempDir("graft_sink_out").toString + "/bronze"
    val ckptDir = tempDir("graft_sink_ck").toString + "/ckpt"
    events.write.mode("overwrite").parquet(srcDir)

    // the raw->bronze ingest shape: stateless derive + filter, append sink
    val stream = spark.readStream.schema(events.schema).parquet(srcDir)
      .filter(col("value") >= 0.0)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val q = stream.writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()

    val sunk = spark.read.parquet(sinkDir)
    val expected = events.filter(col("value") >= 0.0).count()
    assert(sunk.count() == expected, "sink row count != filtered source count")
    assert(sunk.columns.contains("day"))
    // exactly-once bookkeeping exists: committed offsets in the checkpoint
    // (listFiles is null when the dir is missing — that IS the failure case)
    val commits = Option(new java.io.File(s"$ckptDir/commits").listFiles())
    assert(commits.exists(_.nonEmpty), "checkpoint has no committed batches")
  }
}
