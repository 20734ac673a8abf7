package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketch
import graft.streaming.Streams

/** Streaming KMV cardinality: the k-minima state must carry across
  * micro-batches AND query restarts (state-store recovery from the
  * checkpoint), and at each stage the streamed estimate must equal the
  * one-shot batch sketch of the data seen so far EXACTLY — same hashes,
  * same order statistic, same finisher arithmetic. */
class StreamSketchSpec extends SparkSpec {
  import spark.implicits._

  test("streamed estimates equal the batch sketch at each stage, across a restart") {
    withTempDir("graft-kmv") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"
      val k = 48

      // split by doc_id RANGE (not parity — source is doc_id mod 20, so a
      // parity split would give each half disjoint groups): both halves
      // contain every source, so the k-minima state must hand off for
      // every group
      val whole = Tables.documents(spark, "/root/testdata/sf0.001")
      val half1 = whole.filter(col("doc_id") < 250).select("source", "text")
      val half2 = whole.filter(col("doc_id") >= 250).select("source", "text")

      def runOnce(): Map[String, Double] =
        lastPerKey(src, Some(ckpt))(
          Streams.kmvDistinctStream(_, "source", "text", k))(_.toSeq)

      // stage 1: only the first half exists → estimates of half 1
      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      val batch1 = Sketch.kmvDistinct(half1, "source", "text", k)
        .as[(String, Double)].collect().toMap
      assert(stage1 === batch1, "stage-1 stream != batch sketch of half 1")

      // stage 2: second half lands; a NEW query run recovers the k-minima
      // from the checkpointed state store and folds the new batch in
      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce()
      val batchAll = Sketch.kmvDistinct(whole.select("source", "text"),
          "source", "text", k)
        .as[(String, Double)].collect().toMap
      assert(stage2.keySet == batchAll.keySet)
      stage2.foreach { case (g, est) =>
        assert(est === batchAll(g), s"group $g: streamed $est != ${batchAll(g)}")
      }
      // the second batch genuinely changed estimates (more distincts seen)
      assert(stage2.exists { case (g, est) => est != stage1(g) })
    }
  }

  test("streamed CMS equals the batch sketch at each stage, across a restart") {
    withTempDir("graft-cms") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"
      val (depth, width) = (4, 64)
      val whole = Tables.documents(spark, "/root/testdata/sf0.001")
      val probes = whole.select("lang").distinct().as[String].collect()
        .sorted.take(3).toSeq :+ "zz" // 3 real keys + one never seen

      val half1 = whole.filter(col("doc_id") < 250).select("source", "lang")
      val half2 = whole.filter(col("doc_id") >= 250).select("source", "lang")

      def runOnce(): Map[(String, String), Long] =
        lastPerKey(src, Some(ckpt))(
          Streams.cmsStream(_, "source", "lang", depth, width, probes))(
          _.map { case (g, k, e) => (g, k) -> e })

      // batch reference: the same sketch per group over `rows`
      def batchRef(rows: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
        rows.select("source").distinct().as[String].collect().flatMap { g =>
          Sketch.cmsEstimate(
              Sketch.cmsCounters(rows.filter(col("source") === g), "lang",
                depth, width),
              probes.toDF("key"), "key", depth, width)
            .as[(String, Long)].collect().map { case (k, e) => (g, k) -> e }
        }.toMap

      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      assert(stage1 === batchRef(half1), "stage-1 stream != batch CMS of half 1")

      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce()
      val ref2 = batchRef(whole.select("source", "lang"))
      assert(stage2 === ref2, "post-restart stream != batch CMS of the whole")
      // counters genuinely accumulated across the restart
      assert(stage2.exists { case (gk, est) => est > stage1.getOrElse(gk, 0L) })
    }
  }
}
