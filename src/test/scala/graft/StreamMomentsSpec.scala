package graft

import org.apache.spark.sql.functions._
import graft.queries.AnalyticsQueries
import graft.streaming.Streams

/** Streaming moments (the telemetry baseline behind q_anomaly): the
  * three-long state must fold across micro-batches AND survive a query
  * restart from the checkpoint, and at each stage the streamed
  * (n, mean, std) must EXACTLY equal the batch q_value_moments over the
  * data seen so far — same fixed-point cast, same integer sums, same
  * finisher op chain. */
class StreamMomentsSpec extends SparkSpec {
  import spark.implicits._

  private def batchOf(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Double, Double)] =
    AnalyticsQueries.valueMoments(df)
      .as[(String, Long, Double, Double)].collect()
      .map { case (g, n, mean, std) => g -> ((n, mean, std)) }.toMap

  test("streamed moments equal the batch query at each stage, across a restart") {
    withTempDir("graft-moments") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // split by event_id range: every event_type appears in both halves,
      // so every group's state must carry across the restart. One NULL
      // value lands in the second half: it counts toward n but not toward
      // the sums, as in the batch query's count(*) next to sum(vc)
      val whole = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "event_type", "value")
        .union(Seq((1000001L, "click", Option.empty[Double]))
          .toDF("event_id", "event_type", "value"))
      val half1 = whole.filter(col("event_id") % 2 === 0)
      val half2 = whole.filter(col("event_id") % 2 === 1)

      def runOnce(): Map[String, (Long, Double, Double)] =
        lastPerKey(src, Some(ckpt))(
          Streams.momentsStream(_, "event_type", "value"))(
          _.map { case (g, n, m, s) => g -> ((n, m, s)) })

      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      assert(stage1 === batchOf(half1), "stage-1 stream != batch of half 1")

      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce() // new query run: state recovered from ckpt
      assert(stage2 === batchOf(whole), "post-restart stream != batch of all")
      assert(stage2.keySet === stage1.keySet)
      stage2.foreach { case (g, (n2, _, _)) =>
        assert(n2 > stage1(g)._1, s"group $g count did not grow")
      }
    }
  }
}
