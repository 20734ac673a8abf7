package graft

import graft.ops.{Docx, DocxFixture}
import org.apache.spark.sql.functions._

class DocxSpec extends SparkSpec {

  test("parse matches the generation formula (all files, all paragraphs)") {
    for (i <- 0 until DocxFixture.count) {
      val paras = Docx.parseDocx(f"doc_$i%03d.docx",
        Docx.docxBytes(DocxFixture.docText(i), stored = true))
      assert(paras.size === 3 + i % 4)
      paras.foreach { p =>
        assert(p.text === s"field_${p.para_id}: " +
          s"value_${(i * 31 + p.para_id * 7) % 97}")
      }
    }
  }

  test("DEFLATE-compressed documents parse identically to STORED ones") {
    for (i <- 0 until DocxFixture.count) {
      val stored = Docx.parseDocx("d.docx",
        Docx.docxBytes(DocxFixture.docText(i), stored = true))
      val deflated = Docx.parseDocx("d.docx",
        Docx.docxBytes(DocxFixture.docText(i), stored = false))
      assert(stored === deflated)
      // and DEFLATE actually compressed (the variant isn't a no-op)
      assert(Docx.docxBytes(DocxFixture.docText(i), stored = false).length <
        Docx.docxBytes(DocxFixture.docText(i), stored = true).length)
    }
  }

  test("writer round-trip survives XML specials, blank lines, empty docs") {
    val text = "a <&> \"quoted\" 'b'\n\nplain   spaced\n<w:t>not a tag</w:t>"
    val paras = Docx.parseDocx("rt.docx", Docx.docxBytes(text))
    assert(paras.map(_.text) ===
      Seq("a <&> \"quoted\" 'b'", "", "plain   spaced",
        "<w:t>not a tag</w:t>"))
    // null/empty text -> zero-paragraph document (the reference renders
    // blank docs too), still a valid OOXML package
    assert(Docx.parseDocx("e.docx", Docx.docxBytes("")) === Seq.empty)
    assert(Docx.parseDocx("n.docx", Docx.docxBytes(null)) === Seq.empty)
  }

  test("reader concatenates multiple runs per paragraph (OOXML data model)") {
    val doc = """<?xml version="1.0"?><w:document xmlns:w="x"><w:body>""" +
      """<w:p><w:r><w:t>ab</w:t></w:r><w:r><w:t xml:space="preserve"> cd</w:t></w:r></w:p>""" +
      """<w:p w:rsidR="0"><w:r><w:t>e</w:t></w:r></w:p>""" +
      """</w:body></w:document>"""
    val bytes = graft.ops.Xlsx.zipBytes(
      Seq("word/document.xml" -> doc), stored = true)
    assert(Docx.parseDocx("m.docx", bytes).map(p => p.para_id -> p.text) ===
      Seq(1L -> "ab cd", 2L -> "e"))
  }

  test("self-closing <w:p/> parses as an empty paragraph, not a drop") {
    // ADVICE r12: python-docx (the reference's writer) emits <w:p/> for
    // add_paragraph("") — it must yield an empty-text row in document
    // order, with and without attributes, never be silently dropped
    val doc = """<?xml version="1.0"?><w:document xmlns:w="x"><w:body>""" +
      """<w:p><w:r><w:t>a</w:t></w:r></w:p>""" +
      """<w:p/>""" +
      """<w:p w:rsidR="00AB12CD"/>""" +
      """<w:p><w:r><w:t>b</w:t></w:r></w:p>""" +
      """</w:body></w:document>"""
    val bytes = graft.ops.Xlsx.zipBytes(
      Seq("word/document.xml" -> doc), stored = true)
    assert(Docx.parseDocx("sc.docx", bytes).map(p => p.para_id -> p.text) ===
      Seq(1L -> "a", 2L -> "", 3L -> "", 4L -> "b"))
  }

  test("out-of-grammar content fails loudly instead of being dropped") {
    // a <w:t> carrying an unsupported attribute must refuse the document,
    // not silently drop the run (the xlsx cell-count discipline)
    val doc = """<?xml version="1.0"?><w:document xmlns:w="x"><w:body>""" +
      """<w:p><w:r><w:t w:x="1">hidden</w:t></w:r></w:p>""" +
      """</w:body></w:document>"""
    val bytes = graft.ops.Xlsx.zipBytes(
      Seq("word/document.xml" -> doc), stored = true)
    val e = intercept[IllegalArgumentException] {
      Docx.parseDocx("bad.docx", bytes)
    }
    assert(e.getMessage.contains("matched the run grammar"))
  }

  test("multi-byte UTF-8 survives the zip + XML round trip") {
    val text = "日本語の段落\nEmoji: 😀🎉\n" +
      "Ключ: значение\nมาตรา ๑๒"
    val paras = Docx.parseDocx("u.docx", Docx.docxBytes(text))
    assert(paras.map(_.text) === text.split("\n", -1).toSeq)
    // and through DEFLATE too (the production packing)
    val defl = Docx.parseDocx("u.docx", Docx.docxBytes(text, stored = false))
    assert(defl.map(_.text) === text.split("\n", -1).toSeq)
  }

  test("property fuzz: any printable paragraph list round-trips exactly") {
    import org.scalacheck.{Gen, Prop}
    // XML 1.0 forbids raw control chars below 0x20 (except tab/LF/CR) —
    // the generator draws from printable BMP text plus the specials the
    // escaper must handle; '\n' is excluded per paragraph because it IS
    // the paragraph separator in the writer's contract.
    val ch: Gen[Char] = Gen.frequency(
      8 -> Gen.choose(0x20.toChar, 0x7e.toChar),
      2 -> Gen.oneOf('<', '>', '&', '"', '\'', '\t'),
      1 -> Gen.choose(0xa0.toChar, 0x24f.toChar),
      1 -> Gen.oneOf('一', 'ア', 'Ж'))
    val para = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, ch).map(_.mkString))
    val doc = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, para))
    val prop = Prop.forAll(doc, Gen.oneOf(true, false)) {
      (paras: List[String], stored: Boolean) =>
        val joined = paras.mkString("\n")
        // the writer's contract is text-level: an EMPTY text is a
        // zero-paragraph document (so List("") and Nil both render
        // empty), every other text splits on newline
        val expect: Seq[String] =
          if (joined.isEmpty) Nil else joined.split("\n", -1).toSeq
        Docx.parseDocx("fz.docx",
          Docx.docxBytes(joined, stored)).map(_.text) == expect
    }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200),
      prop)
    assert(r.passed, r.status.toString)
  }

  test("distributed sink writes one real .docx per row and the reader " +
      "closes the loop") {
    withTempDir("graft_docx_sink") { out =>
      val df = spark.range(7).select(
        concat(lit("doc_"), col("id"), lit(".docx")).as("file_name"),
        concat(lit("Client Name: c"), col("id") % 3, lit("\nResponse: r"),
          col("id")).as("doc_text"))
      Docx.writeDocx(df, "file_name", "doc_text", out.getAbsolutePath)
      val files = out.listFiles()
        .filter(_.getName.endsWith(".docx"))
      assert(files.length === 7)
      val got = Docx.readDocs(
          spark.read.format("binaryFile").load(s"$out/*.docx"))
        .collect().groupBy(_.file_name)
        .map { case (f, ps) =>
          f -> ps.sortBy(_.para_id).map(_.text).mkString("\n")
        }
      assert(got === (0 until 7).map(i =>
        s"doc_$i.docx" -> s"Client Name: c${i % 3}\nResponse: r$i").toMap)
    }
  }
}
