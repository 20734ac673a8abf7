package graft

import org.apache.spark.sql.functions._
import graft.ops.RenderSink

/** S10's per-row file write actually executed: the pipeline's final
  * artifact set lands on disk, one document per surviving row (ref
  * commercial_rfp_content_doc_library_creation.py:103-131). */
class RenderSinkSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q_pipeline_e2e rows land as one file per row with exact content") {
    withTempDir("graft-docs") { out =>
      val docs = Registry.byName("q_pipeline_e2e").fn(spark, dir)
      val expected = docs.select("file_name", "doc_text")
        .as[(String, String)].collect().toMap
      assert(expected.nonEmpty)
      assert(expected.size === docs.count(),
        "file names must be unique (key_hash-derived)")

      RenderSink.writeDocs(docs, "file_name", "doc_text", out.toString)

      val written = out.listFiles().toSeq
      assert(written.size === expected.size)
      written.foreach { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(expected(f.getName) === text, s"content mismatch in ${f.getName}")
      }
    }
  }

  test("rerun overwrites idempotently; unsafe names fail fast") {
    withTempDir("graft-docs2") { out =>
      val df = Seq(("a.docx", "v1")).toDF("file_name", "doc_text")
      RenderSink.writeDocs(df, "file_name", "doc_text", out.toString)
      RenderSink.writeDocs(
        Seq(("a.docx", "v2")).toDF("file_name", "doc_text"),
        "file_name", "doc_text", out.toString)
      val text = new String(java.nio.file.Files.readAllBytes(
        out.toPath.resolve("a.docx")), java.nio.charset.StandardCharsets.UTF_8)
      assert(text === "v2")

      val bad = Seq(("../escape.docx", "x")).toDF("file_name", "doc_text")
      val err = intercept[org.apache.spark.SparkException] {
        RenderSink.writeDocs(bad, "file_name", "doc_text", out.toString)
      }
      assert(err.getMessage != null)
    }
  }
}
