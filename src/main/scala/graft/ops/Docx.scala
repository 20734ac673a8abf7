package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** REAL .docx codec — S9/S10 at full honesty. The reference's per-row
  * output is a binary OOXML Word document (python-docx `Document()` →
  * `add_paragraph(...)` → `doc.save(buffer)`,
  * commercial_rfp_content_doc_library_creation.py:46-69; naming contract
  * at :103-131). Until round 12 the engine rendered the same label/value
  * content as a TEXT column and wrote plain text files — the last declared
  * codec delta. A .docx is the same ZIP-of-XML-parts container as .xlsx,
  * so the writer packs `word/document.xml` (one `<w:p>` paragraph per
  * rendered line, exactly python-docx's add_paragraph loop) plus the three
  * boilerplate parts through [[Xlsx.zipBytes]], and the reader inverts it
  * with the same `java.util.zip` walk (STORED and DEFLATE alike — the JDK
  * inflater is a full codec; DocxSpec proves DEFLATE parses identically).
  *
  * Differential check (the q_xlsx_scan pattern applied to WRITER output):
  * [[DocxFixture]] builds its corpus THROUGH [[docxBytes]] — the
  * production writer — with STORED entries, which leaves document.xml as
  * contiguous plaintext inside the blob, so the DuckDB oracle re-parses
  * the SAME BYTES the writer emitted with `read_blob` + hex-domain
  * regular expressions and checks them against the generation formula:
  * the oracle proves the writer wrote well-formed OOXML with the right
  * content AND the reader decoded it, sharing nothing with either but the
  * files and the WordprocessingML grammar.
  *
  * Scale: one document is one binary row; both directions are typed
  * `mapPartitions`/`foreachPartition` passes — embarrassingly parallel
  * across files, no shuffle, no driver involvement.
  */
object Docx {

  /** One parsed paragraph: document file, 1-based paragraph ordinal, the
    * paragraph's run text (XML entities unescaped). */
  final case class DocxPara(file_name: String, para_id: Long, text: String)

  // One run per paragraph is what the writer emits (python-docx's
  // add_paragraph(text) shape); the reader accepts any number of <w:t>
  // runs per <w:p> and concatenates them, per the OOXML data model.
  // Alternative 1 (tried first) is a SELF-CLOSING paragraph — exactly what
  // python-docx emits for add_paragraph("") — which carries no runs and
  // yields an empty-text row (group 1 null). ADVICE r12: before this, the
  // census pattern "<w:p[ >]" and the open/close-only grammar both missed
  // it, silently dropping the paragraph. [^>]*? cannot cross '>' so the
  // self-closing branch can never steal an open tag's content.
  private val paraRe =
    "(?s)<w:p(?:\\s[^>]*?)?/>|<w:p(?:>|\\s[^>]*>)(.*?)</w:p>".r
  private val runRe =
    """<w:t(?: xml:space="preserve")?>([^<]*)</w:t>""".r

  private[graft] def documentXml(lines: Seq[String]): String = {
    val body = lines.map(l =>
      s"""<w:p><w:r><w:t xml:space="preserve">${Xlsx.xmlEscape(l)}</w:t></w:r></w:p>""").mkString
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      s"<w:body>$body</w:body></w:document>"
  }

  /** Render one document's text (one paragraph per '\n'-separated line —
    * [[Render.docBody]]'s join convention inverted) as .docx bytes.
    * `stored = true` packs method-0 entries (what makes the gate fixture
    * oracle-parsable); the default DEFLATE is the production choice. */
  def docxBytes(text: String, stored: Boolean = false): Array[Byte] = {
    val lines: Seq[String] =
      if (text == null || text.isEmpty) Seq.empty
      else text.split("\n", -1).toIndexedSeq
    Xlsx.zipBytes(Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
          """</Types>"""),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
          """</Relationships>"""),
      "word/document.xml" -> documentXml(lines)),
      stored)
  }

  /** Parse one document's paragraphs. Loud-failure discipline (the xlsx
    * cell-count assert): every `<w:p` and `<w:t` in the body must be
    * consumed by the grammar — a document carrying constructs outside it
    * (tables, nested bodies) refuses to parse rather than dropping text. */
  private[graft] def parseDocx(name: String,
                               bytes: Array[Byte]): Seq[DocxPara] = {
    val parts = Xlsx.entries(bytes)
    val doc = new String(
      parts.getOrElse("word/document.xml",
        throw new IllegalArgumentException(s"$name: missing word/document.xml")),
      "UTF-8")
    // group(1) is null for a self-closing <w:p/> — an empty paragraph,
    // kept as an empty-text row (document order preserved)
    val paras = paraRe.findAllMatchIn(doc).map(m => Option(m.group(1)))
      .toIndexedSeq
    val pTags = "<w:p[/ >]".r.findAllMatchIn(doc).size
    require(paras.size == pTags,
      s"$name: $pTags <w:p> tags but ${paras.size} parsed paragraphs — " +
        "refusing to drop content silently")
    paras.zipWithIndex.map { case (pOpt, i) =>
      val p = pOpt.getOrElse("")
      val runs = runRe.findAllMatchIn(p).map(_.group(1)).toIndexedSeq
      val tTags = "<w:t[ >]".r.findAllMatchIn(p).size
      require(runs.size == tTags,
        s"$name: paragraph ${i + 1} has $tTags <w:t> tags but " +
          s"${runs.size} matched the run grammar")
      DocxPara(name, i + 1L, runs.map(Xlsx.xmlUnescape).mkString)
    }
  }

  /** Decode a binaryFile frame (path, content) of .docx documents into
    * one row per paragraph. */
  def readDocs(df: DataFrame): Dataset[DocxPara] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (name, bytes) =>
        parseDocx(name, bytes)
      })
  }

  /** S10 at full honesty: one REAL .docx per row (name column, text
    * column; text's '\n' lines become paragraphs), written
    * executor-parallel: each task writes its partition's rows straight
    * to `outDir`, no collect. Names must be relative and flat, and a
    * rerun overwrites by name. `outDir` must be reachable from every
    * executor (shared/object store at cluster scale). */
  def writeDocx(df: DataFrame, nameCol: String, textCol: String,
                outDir: String, stored: Boolean = false): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    df.select(col(nameCol).cast("string"), col(textCol).cast("string"))
      .foreachPartition { (it: Iterator[Row]) =>
        val base = java.nio.file.Paths.get(outDir)
        it.foreach { r =>
          val name = r.getString(0)
          require(name != null && name.nonEmpty && !name.contains('/') &&
            !name.contains('\\') && !name.startsWith("."),
            s"unsafe document name: $name")
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          java.nio.file.Files.write(base.resolve(name),
            docxBytes(text, stored))
          ()
        }
      }
  }
}

/** Deterministic on-disk .docx corpus, built THROUGH the production
  * writer ([[Docx.docxBytes]], STORED — see [[Docx]]): every byte a pure
  * function of the file index. Content contract per file i: paragraphs
  * p = 1..(3 + i mod 4), each the label/value line
  * `field_p: value_((i*31 + p*7) mod 97)` — the [[Render.docBody]] shape
  * restricted to the oracle's hex character classes (the specials/escape
  * path is DocxSpec's round-trip job, the xlsx precedent). */
object DocxFixture {
  val count = 24

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_docx_v2").getAbsolutePath

  def docText(i: Int): String =
    (1 to 3 + i % 4)
      .map(p => s"field_$p: value_${(i * 31 + p * 7) % 97}")
      .mkString("\n")

  /** Build the fixture if missing; returns [[path]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"doc_$i%03d.docx").toPath,
        Docx.docxBytes(docText(i), stored = true))
    }
  }
}
