package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Batch/stream unification proof: the exact q_events_hourly plan
  * ([[Streams.hourlyCounts]]) run under readStream + watermark over a file
  * source produces the same result as the batch run on the same input. */
class StreamingSpec extends SparkSpec {

  private def assertBatchStreamEqual(
      name: String,
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    withTempDir(s"graft-stream-$name") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val events = Tables.events(spark, "/root/testdata/sf0.001")
      events.write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema

      val batch = plan(spark.read.parquet(src))
      val q = plan(spark.readStream.schema(schema).parquet(src)).writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val streamed = spark.table(name)
      assert(streamed.count() === batch.count())
      assert(batch.except(streamed).isEmpty)
      assert(streamed.except(batch).isEmpty)
    }
  }

  test("hourlyCounts: readStream result equals batch result") {
    assertBatchStreamEqual("hourly_stream", Streams.hourlyCounts)
  }

  test("slidingCounts: readStream result equals batch result") {
    assertBatchStreamEqual("sliding_stream", Streams.slidingCounts)
  }

  test("chunkDocs runs unchanged under readStream (streaming text pipeline)") {
    withTempDir("graft-stream-chunk") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").coalesce(1).write.parquet(src)
      val schema = spark.read.parquet(src).schema

      val batch = graft.ops.Chunk.chunkDocs(
        spark.read.parquet(src), "doc_id", "text", maxLen = 120, overlap = 30)
      val q = graft.ops.Chunk.chunkDocs(
          spark.readStream.schema(schema).parquet(src),
          "doc_id", "text", maxLen = 120, overlap = 30)
        .writeStream.format("memory").queryName("chunk_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val streamed = spark.table("chunk_stream")
      assert(streamed.count() === batch.count())
      assert(batch.except(streamed).isEmpty && streamed.except(batch).isEmpty)
    }
  }
}
