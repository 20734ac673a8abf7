package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketch
import graft.streaming.Streams

/** Streaming histogram quantiles: the integer bin counts must merge
  * across micro-batches AND survive a query restart, and at each stage
  * the streamed (n, p50, p90, p99) must EXACTLY equal the batch
  * histogram sketch over the data seen so far — same binning cast, same
  * ceil(q·n) threshold scan, same bin·width finisher. */
class StreamHistSpec extends SparkSpec {
  import spark.implicits._

  private val width = 10.0

  private def batchOf(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Double, Double, Double)] =
    Sketch.histQuantiles(df, "event_type", "value", width,
        Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99))
      .as[(String, Long, Double, Double, Double)].collect()
      .map { case (g, n, a, b, c) => g -> ((n, a, b, c)) }.toMap

  test("streamed quantiles equal the batch sketch at each stage, across a restart") {
    withTempDir("graft-hist") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // split by event_id parity: every event_type appears in both halves,
      // so every group's bin state must carry across the restart
      val whole = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "event_type", "value")
      val half1 = whole.filter(col("event_id") % 2 === 0)
      val half2 = whole.filter(col("event_id") % 2 === 1)

      def runOnce(): Map[String, (Long, Double, Double, Double)] =
        lastPerKey(src, Some(ckpt))(
          Streams.histQuantileStream(_, "event_type", "value", width))(
          _.map { case (g, n, a, b, c) => g -> ((n, a, b, c)) })

      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      assert(stage1 === batchOf(half1), "stage-1 stream != batch of half 1")

      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce() // new query run: bin state recovered from ckpt
      assert(stage2 === batchOf(whole), "post-restart stream != batch of all")
      stage2.foreach { case (g, (n2, _, _, _)) =>
        assert(n2 > stage1(g)._1, s"group $g count did not grow")
      }
    }
  }
}
