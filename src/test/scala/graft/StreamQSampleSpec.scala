package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketch
import graft.streaming.Streams

/** Streaming hash-sample quantiles: the bottom-k-by-hash state must fold
  * across micro-batches AND survive a query restart, and at each stage
  * the streamed (n, m, p50, p90, p99) must EXACTLY equal the batch
  * sketch over the data seen so far — selection is by HASH, not
  * arrival, so any slicing of the input converges on the identical
  * state (the canonicity property the op's block comment claims,
  * executed under readStream). */
class StreamQSampleSpec extends SparkSpec {
  import spark.implicits._

  private val k = 256

  private def batchOf(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long, Double, Double, Double)] = {
    val est = Sketch.qsampleQuantiles(
      Sketch.qsampleState(df, "event_type", "event_id", "value", k),
      "event_type",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
    val n = df.groupBy("event_type").agg(count(lit(1)).as("n"))
    n.join(est, "event_type")
      .select("event_type", "n", "m", "p50", "p90", "p99")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map { case (g, nn, m, a, b, c) => g -> ((nn, m, a, b, c)) }.toMap
  }

  test("streamed sample quantiles equal the batch sketch at each stage, across a restart") {
    withTempDir("graft-qsample") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // split by event_id parity: every event_type appears in both halves,
      // so every group's sample must fold across the restart — and because
      // selection is by hash, the SAME final state must emerge as from any
      // other split
      val whole = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "event_type", "value")
      val half1 = whole.filter(col("event_id") % 2 === 0)
      val half2 = whole.filter(col("event_id") % 2 === 1)

      def runOnce(): Map[String, (Long, Long, Double, Double, Double)] =
        lastPerKey(src, Some(ckpt))(
          Streams.qsampleStream(_, "event_type", "event_id", "value", k))(
          _.map { case (g, n, m, a, b, c) => g -> ((n, m, a, b, c)) })

      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      assert(stage1 === batchOf(half1), "stage-1 stream != batch of half 1")

      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce() // new query run: sample state recovered from ckpt
      assert(stage2 === batchOf(whole), "post-restart stream != batch of all")
      stage2.foreach { case (g, (n2, _, _, _, _)) =>
        assert(n2 > stage1(g)._1, s"group $g count did not grow")
      }
    }
  }
}
