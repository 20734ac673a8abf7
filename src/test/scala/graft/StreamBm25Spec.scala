package graft

import org.apache.spark.sql.functions._
import graft.queries.RetrievalQueries
import graft.streaming.Streams

/** Streaming BM25-lite: the per-group corpus state (N, Σdl, df,
  * postings) must carry across micro-batches AND a checkpoint restart,
  * and at each stage the streamed top-k must EXACTLY equal the batch
  * [[RetrievalQueries.bm25Scored]] ranking over the data seen so far —
  * bit-identical scores, not approximately-equal ones, because both
  * sides share one tokenizer, one float expression tree, and one
  * fixed-point finisher. */
class StreamBm25Spec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("vector", "join", "stream", "filter")
  private val k = 5

  /** Batch analog, per group: bm25Scored over the group's documents,
    * ranked (score desc, doc_id) like rankTop. */
  private def batchTop(docs: org.apache.spark.sql.DataFrame)
      : Map[String, Seq[(Int, Long, Double)]] =
    docs.select("source").distinct().as[String].collect().flatMap { g =>
      val scored = RetrievalQueries.bm25Scored(
          docs.filter(col("source") === g), "doc_id", "text", terms)
        .as[(Long, Double)].collect()
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s) }
      if (scored.isEmpty) None else Some(g -> scored.toSeq)
    }.toMap

  private def runStream(src: String, ckpt: Option[String])
      : Map[String, Seq[(Int, Long, Double)]] =
    lastPerKey(src, ckpt)(
      Streams.bm25Stream(_, "source", "doc_id", "text", terms, k))(
      _.groupBy(_._1).map { case (g, rows) =>
        g -> rows.toSeq.sortBy(_._2).map { case (_, rk, id, s) => (rk, id, s) }
      })

  test("crafted corpus parity: null text, empty text, edge whitespace") {
    // null text counts toward N (shifting every score) but posts
    // nothing; "" has dl=1 (one empty token); edge tabs survive the
    // space-only trim and produce an empty edge token — all three must
    // move the streamed scores exactly as they move the batch plan's
    withTempDir("graft-bm25-crafted") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val docs = Seq(
        (1L, "g", "join join vector stays hot"),
        (2L, "g", "\tjoin filter\n"),
        (3L, "g", "stream stream stream cold filter"),
        (4L, "g", "no match here"),
        (5L, "g", ""),
        (6L, "g", null.asInstanceOf[String]),
        (7L, "h", "  vector  "),
        (8L, "h", "vector vector join")
      ).toDF("doc_id", "source", "text")
      docs.coalesce(1).write.parquet(src)
      assert(runStream(src, None) === batchTop(docs),
        "crafted-corpus stream != batch BM25")
    }
  }

  test("streamed ranking equals batch at each stage, across a restart") {
    withTempDir("graft-bm25") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // range split keeping every source group in both halves: corpus
      // stats (N, avgdl, df) must hand off for scores to stay exact
      val whole = Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "source", "text")
      val half1 = whole.filter(col("doc_id") < 250)
      val half2 = whole.filter(col("doc_id") >= 250)

      half1.coalesce(1).write.parquet(src)
      val stage1 = runStream(src, Some(ckpt))
      assert(stage1 === batchTop(half1), "stage-1 stream != batch BM25 of half 1")

      // a NEW query run recovers corpus state from the checkpoint; the
      // second half shifts N/avgdl/df, re-scoring every earlier posting
      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runStream(src, Some(ckpt))
      assert(stage2 === batchTop(whole), "restarted stream != batch BM25 of whole")
      assert(stage2 != stage1, "second half moved no ranking — fixture too weak")
    }
  }
}
