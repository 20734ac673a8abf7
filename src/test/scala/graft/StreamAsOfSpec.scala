package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Streaming as-of join equivalence: [[Streams.asOfStream]] under
  * readStream over time-split micro-batches must reproduce the batch
  * q_asof_join result exactly (same purchases, same matched clicks, same
  * gaps), including matches that span the micro-batch boundary. */
class StreamAsOfSpec extends SparkSpec {
  import spark.implicits._

  private val dataDir = "/root/testdata/sf0.001"

  test("asOfStream == batch q_asof_join on time-split micro-batches") {
    withTempDir("graft-asof") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val ev = Tables.events(spark, dataDir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("side"))
      val cutoff = ev.agg(percentile_approx(unix_micros(col("ts")),
        lit(0.5), lit(100))).as[Long].head()
      val maxTs = ev.agg(max(unix_micros(col("ts")))).as[Long].head()
      // two time-ordered files → matches must survive the state handoff
      ev.filter(unix_micros(col("ts")) < cutoff).coalesce(1).write.parquet(src)
      ev.filter(unix_micros(col("ts")) >= cutoff).coalesce(1)
        .write.mode("append").parquet(src)
      // sentinel pair: first advances the watermark past every real event,
      // second fires the timeouts that flush the remaining buffers
      def sentinel(daysAhead: Int, id: Long) = Seq(
        (-1L, new java.sql.Timestamp(maxTs / 1000 + daysAhead * 86400000L),
          id, 0)).toDF("user_id", "ts", "event_id", "side")
      sentinel(10, 9000001L).coalesce(1).write.mode("append").parquet(src)
      sentinel(20, 9000002L).coalesce(1).write.mode("append").parquet(src)

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "0 seconds")
        .as[Streams.SideEvent]
      val q = Streams.asOfStream(stream).writeStream
        .format("memory").queryName("asof_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val got = spark.table("asof_stream").filter(col("user_id") >= 0)
        .select("user_id", "purchase_id", "click_id", "gap_us")
      val expected = Registry.byName("q_asof_join").fn(spark, dataDir)
        .select("user_id", "purchase_id", "click_id", "gap_us")
      assert(got.count() === expected.count())
      assert(expected.except(got).isEmpty && got.except(expected).isEmpty)
    }
  }
}
