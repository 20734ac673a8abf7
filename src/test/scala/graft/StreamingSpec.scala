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

  test("stream-stream range join equals the batch join on the same input") {
    withTempDir("graft-ssj") { dir =>
      val pSrc = s"${dir.getAbsolutePath}/purchases"
      val cSrc = s"${dir.getAbsolutePath}/clicks"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "ts", "event_type")
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .coalesce(1).write.parquet(pSrc)
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .coalesce(1).write.parquet(cSrc)
      val pSchema = spark.read.parquet(pSrc).schema
      val cSchema = spark.read.parquet(cSrc).schema

      // generous watermark so no row is dropped as late — the equivalence
      // is exact; state-bounding is the production concern, not this test's
      val batch = Streams.purchaseClickJoin(
        spark.read.parquet(pSrc), spark.read.parquet(cSrc), "30 days")
      val q = Streams.purchaseClickJoin(
          spark.readStream.schema(pSchema).parquet(pSrc),
          spark.readStream.schema(cSchema).parquet(cSrc), "30 days")
        .writeStream.format("memory").queryName("ssj_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val streamed = spark.table("ssj_stream")
      assert(streamed.count() > 0)
      assert(streamed.count() === batch.count())
      assert(batch.except(streamed).isEmpty && streamed.except(batch).isEmpty)
    }
  }

  test("dedupByKey: streaming dedup equals batch distinct on duplicated input") {
    withTempDir("graft-stream-dedup") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // the same event file twice → every row is an exact duplicate across
      // micro-batches; the dedup state must suppress the whole second batch
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "ts", "user_id", "event_type")
      ev.coalesce(1).write.parquet(src)
      ev.coalesce(1).write.mode("append").parquet(src)
      val schema = spark.read.parquet(src).schema

      val batch = Streams.dedupByKey(spark.read.parquet(src), Seq("event_id"))
      val q = Streams.dedupByKey(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(src), Seq("event_id"))
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val streamed = spark.table("dedup_stream")
      assert(streamed.count() === batch.count())
      assert(streamed.count() === ev.count()) // input was fully unique pre-doubling
      assert(batch.except(streamed).isEmpty && streamed.except(batch).isEmpty)
    }
  }
}
