package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Streaming ordered-funnel equivalence: [[Streams.funnelStream]] under
  * readStream over time-split micro-batches must reproduce the batch
  * sequential min-join chain exactly — same users, same stages reached,
  * same completion timestamps — including chains that span the
  * micro-batch boundary. */
class StreamFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val dataDir = "/root/testdata/sf0.001"
  private val stages = Seq("view", "click", "purchase")

  test("funnelStream == batch funnelUserTimes on time-split micro-batches") {
    withTempDir("graft-funnel") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val base = Tables.events(spark, dataDir)
        .filter(col("event_type").isin(stages: _*))
      val ev = base.select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1).otherwise(2).as("side"))
      val cutoff = ev.agg(percentile_approx(unix_micros(col("ts")),
        lit(0.5), lit(100))).as[Long].head()
      val maxTs = ev.agg(max(unix_micros(col("ts")))).as[Long].head()
      // two time-ordered files → stage chains must survive the state handoff
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
      val q = Streams.funnelStream(stream, stages.size).writeStream
        .format("memory").queryName("funnel_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val got = spark.table("funnel_stream").filter(col("user_id") >= 0)
        .select("user_id", "stage", "ts_us")
      val expected = queries.AnalyticsQueries.funnelUserTimes(base, stages)
        .zipWithIndex.map { case (df, i) =>
          df.select(col("user_id"), lit(i + 1).as("stage"),
            unix_micros(col(s"t$i")).as("ts_us"))
        }.reduce(_.unionAll(_))
      assert(got.count() === expected.count())
      assert(expected.except(got).isEmpty && got.except(expected).isEmpty)
      // sanity: the funnel is non-trivial on this data (some users convert)
      assert(spark.table("funnel_stream").filter(col("stage") === 3).count() > 0)
    }
  }
}
