package graft

import org.apache.spark.sql.functions._
import graft.ops.Shingles
import graft.streaming.Streams

/** Streaming per-group top-k terms: the (tf, df) state must carry across
  * micro-batches AND a checkpoint restart, and at each stage the streamed
  * top-k must EXACTLY equal the batch computation (same tokenizer, same
  * (tf desc, term) order) over the data seen so far. */
class StreamTopTermsSpec extends SparkSpec {
  import spark.implicits._

  private val k = 10

  /** The stream's current top-k per group, from the rows of one batch. */
  private def byGroup(rows: Array[(String, Int, String, Long, Long)])
      : Map[String, Seq[(Int, String, Long, Long)]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.toSeq.sortBy(_._2).map { case (_, rk, t, c, d) => (rk, t, c, d) }
    }

  /** Batch analog: group-level q_top_terms core over the same tokenizer. */
  private def batchTop(docs: org.apache.spark.sql.DataFrame)
      : Map[String, Seq[(Int, String, Long, Long)]] =
    Shingles.tokens(docs.withColumn("gid", col("source")),
        "doc_id", "text", lowered = true)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .as[(String, String, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (g, rows) =>
        g -> rows.toSeq.sortBy { case (_, t, c, _) => (-c, t) }.take(k)
          .zipWithIndex
          .map { case ((_, t, c, d), i) => (i + 1, t, c, d) }
      }

  test("tokenizer parity holds on edge tabs/newlines (SQL trim is space-only)") {
    // SQL trim strips only U+0020: a text with edge '\t'/'\n' keeps that
    // whitespace, and split('\s+', -1) then emits an edge "" token. The
    // stream must reproduce exactly that (a Java String.trim would not).
    withTempDir("graft-topterms-ws") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val docs = Seq(
        (1L, "g", "\tAlpha beta\n"), (2L, "g", "  alpha Beta  "),
        (3L, "g", "beta\tgamma"), (4L, "g", ""),
        (5L, "g", null.asInstanceOf[String]) // batch explode drops NULL text
      ).toDF("doc_id", "source", "text")
      docs.coalesce(1).write.parquet(src)
      val got = lastPerKey(src)(Streams.topTermsStream(_, "source", "text", k))(byGroup)
      assert(got.toMap === batchTop(docs), "edge-whitespace tokenization diverged")
    }
  }

  test("streamed top-k equals the batch top-k at each stage, across a restart") {
    withTempDir("graft-topterms") { dir =>
      val src = s"${dir.getAbsolutePath}/docs"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      // range split so both halves contain every source group — the term
      // state must hand off across batches for every group
      val whole = Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "source", "text")
      val half1 = whole.filter(col("doc_id") < 250)
      val half2 = whole.filter(col("doc_id") >= 250)

      def runOnce(): Map[String, Seq[(Int, String, Long, Long)]] =
        lastPerKey(src, Some(ckpt))(
          Streams.topTermsStream(_, "source", "text", k))(byGroup)

      half1.coalesce(1).write.parquet(src)
      val stage1 = runOnce()
      assert(stage1 === batchTop(half1), "stage-1 stream != batch top-k of half 1")

      // stage 2: a NEW query run recovers (tf, df) from the checkpointed
      // state store and folds the second half in
      half2.coalesce(1).write.mode("append").parquet(src)
      val stage2 = runOnce()
      assert(stage2 === batchTop(whole), "restarted stream != batch top-k of whole")
      // the second half genuinely moved some group's ranking or counts
      assert(stage2 != stage1)
    }
  }
}
