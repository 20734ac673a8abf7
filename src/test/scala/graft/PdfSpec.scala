package graft

import graft.ops.{Pdf, PdfFixture}

class PdfSpec extends SparkSpec {

  test("xref walk + Tj/TJ extraction matches the fixture formulas") {
    for (i <- 0 until PdfFixture.count) {
      val pages = Pdf.parse(f"doc_$i%03d.pdf", PdfFixture.pdfBytes(i))
      assert(pages.length === PdfFixture.pagesOf(i))
      pages.zipWithIndex.foreach { case (pg, p) =>
        assert(pg.page === p + 1)
        assert(pg.text === PdfFixture.textOf(i, p))
        assert(pg.n_lits === 3)
        assert(pg.stream_bytes === PdfFixture.contentOf(i, p).length.toLong)
      }
    }
  }

  test("FlateDecode content streams parse identically to plain") {
    // re-pack every content stream compressed, keeping xref offsets
    // correct by rebuilding the file through the same writer logic
    for (i <- 0 until PdfFixture.count) {
      val plain = Pdf.parse(f"doc_$i%03d.pdf", PdfFixture.pdfBytes(i))
      val gz = Pdf.parse(f"doc_$i%03d.pdf", deflateVariant(i))
      // /Length legitimately measures the COMPRESSED bytes in the
      // variant; everything the extractor derives must be identical
      assert(gz.map(_.copy(stream_bytes = 0L)) ===
        plain.map(_.copy(stream_bytes = 0L)))
    }
  }

  test("malformed files refuse loudly") {
    val good = PdfFixture.pdfBytes(0)
    val s = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
    // truncated: startxref points past the cut
    val e1 = intercept[IllegalArgumentException] {
      Pdf.parse("t.pdf", good.take(good.length / 2))
    }
    assert(e1.getMessage.nonEmpty)
    // a corrupted xref offset no longer lands on its object header
    // (NB lastIndexOf("xref") would match inside "startxref")
    val xrefPos = s.lastIndexOf("\nxref\n") + 1
    val entry = s.indexOf("\n", s.indexOf("\n", xrefPos) + 1) + 1 + 20
    val bad = good.clone()
    bad(entry + 8) = '9' // a low digit of object 1's offset
    val e2 = intercept[IllegalArgumentException] {
      Pdf.parse("x.pdf", bad)
    }
    assert(e2.getMessage.contains("xref") ||
      e2.getMessage.contains("does not hold"))
    // /Length that does not land on endstream
    val lenAt = s.indexOf("/Length ")
    val bad2 = good.clone()
    bad2(lenAt + 8) = '9'
    val e3 = intercept[IllegalArgumentException] {
      Pdf.parse("l.pdf", bad2)
    }
    assert(e3.getMessage.contains("endstream") ||
      e3.getMessage.contains("overruns"))
  }

  test("escape grammar: octal, control escapes, nesting, continuations") {
    val (t1, n1) = Pdf.extractText("e", "BT (a\\051b\\tc) Tj ET")
    assert(t1 === "a)b\tc" && n1 === 1)
    val (t2, n2) = Pdf.extractText("e", "BT (nested (parens) ok) Tj ET")
    assert(t2 === "nested (parens) ok" && n2 === 1)
    val (t3, n3) = Pdf.extractText("e", "BT (split\\\nline) Tj ET")
    assert(t3 === "splitline" && n3 === 1)
    // \<CR> and \<CR><LF> are continuations too (ISO 32000 §7.3.4.2) —
    // neither may inject a CR into the text (ADVICE r14)
    val (t3b, _) = Pdf.extractText("e", "BT (split\\\rline) Tj ET")
    assert(t3b === "splitline")
    val (t3c, _) = Pdf.extractText("e", "BT (split\\\r\nline) Tj ET")
    assert(t3c === "splitline")
    // a literal NOT bound to a text operator contributes nothing
    val (t4, n4) = Pdf.extractText("e",
      "BT (shown) Tj (ignored) Tw [(a) -1 (b)] TJ ET")
    assert(t4 === "shownab" && n4 === 3)
    // hex string literals (§7.3.4.3): whitespace ignored inside, odd
    // trailing digit padded with 0, mixed forms in one TJ array
    val (t5, n5) = Pdf.extractText("e", "BT <48656C6C6F> Tj ET")
    assert(t5 === "Hello" && n5 === 1)
    val (t6, _) = Pdf.extractText("e", "BT <4 86 5\n6C6C6F7> Tj ET")
    assert(t6 === "Hellop") // odd digit 7 pads to 0x70
    val (t7, n7) = Pdf.extractText("e", "BT [(a) -2 <20> -2 (b)] TJ ET")
    assert(t7 === "a b" && n7 === 3)
    // << opens a dictionary, not a hex string — must not be consumed
    val (t8, n8) = Pdf.extractText("e",
      "/MC << /K 1 >> BDC BT (x) Tj ET EMC")
    assert(t8 === "x" && n8 === 1)
    val e6 = intercept[IllegalArgumentException] {
      Pdf.extractText("e", "BT <48656C Tj ET")
    }
    assert(e6.getMessage.contains("hex string"))
  }

  test("PDF 1.5 xref streams + object streams parse identically to classic") {
    for (i <- 0 until PdfFixture.count) {
      val name = f"doc_$i%03d.pdf"
      assert(Pdf.parse(name, xrefStreamVariant(i)) ===
        Pdf.parse(name, PdfFixture.pdfBytes(i)))
    }
  }

  test("xref-stream out-of-scope shapes refuse loudly") {
    val v = new String(xrefStreamVariant(0),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    def bytes(s: String) =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    // a /Prev pointing at the section ITSELF: cycle, refused by name.
    // The insertion sits AFTER the xref object's start, so the literal
    // startxref offset still lands on it.
    val sx = "startxref\n(\\d+)".r.findFirstMatchIn(v).get.group(1)
    val withCycle = v.replace("/Type /XRef", s"/Type /XRef /Prev $sx")
    val e1 = intercept[IllegalArgumentException] {
      Pdf.parse("p.pdf", bytes(withCycle))
    }
    assert(e1.getMessage.contains("cycle"))
    // row-count mismatch: /Size inflated by one
    val sizeM = "/Size (\\d+)".r.findFirstMatchIn(v).get
    val withBadSize = v.replace(s"/Size ${sizeM.group(1)}",
      s"/Size ${sizeM.group(1).toInt + 1}")
    val e2 = intercept[IllegalArgumentException] {
      Pdf.parse("s.pdf", bytes(withBadSize))
    }
    assert(e2.getMessage.contains("rows of"))
    // TIFF Predictor 2: refused by value (PNG 10-15 only)
    val withTiff = v.replace("/Type /XRef",
      "/Type /XRef /DecodeParms << /Predictor 2 /Columns 7 >>")
    val e3 = intercept[IllegalArgumentException] {
      Pdf.parse("d.pdf", bytes(withTiff))
    }
    assert(e3.getMessage.contains("PNG 10-15"))
    // PNG predictor whose /Columns disagrees with the /W row width
    val withCols = v.replace("/Type /XRef",
      "/Type /XRef /DecodeParms << /Predictor 12 /Columns 5 >>")
    val e4 = intercept[IllegalArgumentException] {
      Pdf.parse("c.pdf", bytes(withCols))
    }
    assert(e4.getMessage.contains("Columns"))
  }

  test("Predictor-12 xref streams + a /Prev incremental update parse " +
      "with newest-wins shadowing") {
    for (i <- 0 until PdfFixture.count) {
      val name = f"doc_$i%03d.pdf"
      val base = Pdf.parse(name, PdfFixture.pdf15Bytes(i))
      val upd = Pdf.parse(name, PdfFixture.pdfPrevBytes(i))
      assert(upd.length === base.length)
      // page 1 is REPLACED by the update — reading the base section's
      // entry (or merging the chain in the wrong order) fails here
      assert(upd.head.text === PdfFixture.litsV2Of(i).mkString)
      assert(upd.head.n_lits === 3)
      assert(upd.head.stream_bytes ===
        PdfFixture.contentV2Of(i).length.toLong)
      // every other page identical to the base-framing parse
      assert(upd.tail === base.tail)
    }
  }

  /** Reference PNG row-filter ENCODER (RFC 2083 §6, bpp=1) — the single
    * spec-side inverse both predictor tests encode through. */
  private def pngFilterRows(rows: Seq[Array[Byte]], types: Seq[Int],
      cols: Int): Array[Byte] = {
    val enc = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](cols)
    rows.zip(types).foreach { case (r, t) =>
      enc.write(t)
      (0 until cols).foreach { k =>
        val x = r(k) & 0xff
        val a = if (k > 0) r(k - 1) & 0xff else 0
        val b = prev(k) & 0xff
        val c = if (k > 0) prev(k - 1) & 0xff else 0
        val pred = t match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        enc.write((x - pred) & 0xff)
      }
      prev = r
    }
    enc.toByteArray
  }

  test("PNG predictor un-filtering recovers all five filter types") {
    val cols = 7
    val rows = Seq(
      Array[Byte](1, 2, 3, 4, 5, 6, 7),
      Array[Byte](9, 9, 9, 0, 0, -1, 127),
      Array[Byte](0, 50, -100, 25, 25, 25, 80))
    // filter each row with its own type; the decoder must dispatch on
    // the per-ROW filter byte, not the /Predictor hint
    for (types <- Seq(Seq(0, 0, 0), Seq(1, 2, 3), Seq(4, 4, 4),
        Seq(2, 1, 4))) {
      val got = Pdf.unfilterPng("t", pngFilterRows(rows, types, cols), cols)
      assert(got.toSeq === rows.flatten.toSeq)
    }
    // filter type 5: refused with the row
    val bad = Array[Byte](5, 0, 0, 0, 0, 0, 0, 0).take(cols + 1)
    val e = intercept[RuntimeException](Pdf.unfilterPng("t", bad, cols))
    assert(e.getMessage.contains("filter type 5"))
  }

  test("PNG predictor un-filtering round-trips random rows under " +
      "random per-row filters (seeded fuzz)") {
    val rnd = new scala.util.Random(422)
    for (trial <- 0 until 40) {
      val cols = 1 + rnd.nextInt(16)
      val nRows = 1 + rnd.nextInt(24)
      val rows = Array.fill(nRows)(
        Array.fill(cols)((rnd.nextInt(256) - 128).toByte))
      val types = Seq.fill(nRows)(rnd.nextInt(5))
      val got = Pdf.unfilterPng(s"f$trial",
        pngFilterRows(rows.toSeq, types, cols), cols)
      assert(got.toSeq === rows.flatten.toSeq, s"trial $trial cols=$cols")
    }
  }

  test("classic xref table /Prev update (multi-subsection) shadows " +
      "the base") {
    val base = PdfFixture.pdfBytes(0) // 1 page; content obj 4, font 5
    val v = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
    val oldXref = "startxref\n(\\d+)".r.findFirstMatchIn(v).get.group(1)
    val cs2 = "BT (classic update) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val coOff = out.size()
    w(s"4 0 obj\n<< /Length ${cs2.length} >>\nstream\n$cs2\nendstream" +
      "\nendobj\n")
    val fontOff = out.size()
    w("5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" +
      "\nendobj\n")
    val xOff = out.size()
    // TWO subsections — the table walk must loop, not read one header
    w(f"xref\n4 1\n$coOff%010d 00000 n \n")
    w(f"5 1\n$fontOff%010d 00000 n \n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R /Prev $oldXref >>\n" +
      s"startxref\n$xOff\n%%EOF\n")
    val pages = Pdf.parse("u.pdf", out.toByteArray)
    assert(pages.length === 1)
    assert(pages.head.text === "classic update")
    assert(pages.head.stream_bytes === cs2.length.toLong)
  }

  test("scanPdf reads the on-disk fixture through binaryFile") {
    val dir = PdfFixture.ensure()
    val got = Pdf.scanPdf(
        spark.read.format("binaryFile").load(dir + "/*.pdf"))
      .collect().groupBy(_.file_name)
    // v3: classic, PDF 1.5 (doc15_), and predictor+/Prev (docp_) framed
    assert(got.size === 3 * PdfFixture.count)
    for (i <- 0 until PdfFixture.count) {
      assert(got(f"doc_$i%03d.pdf").length === PdfFixture.pagesOf(i))
      assert(got(f"doc15_$i%03d.pdf").length === PdfFixture.pagesOf(i))
      assert(got(f"docp_$i%03d.pdf").length === PdfFixture.pagesOf(i))
      // identical page text through both unchanged framings
      assert(got(f"doc15_$i%03d.pdf").map(r => (r.page, r.text)).toSet ===
        got(f"doc_$i%03d.pdf").map(r => (r.page, r.text)).toSet)
      // the docp framing's update replaced page 1's text
      val byPage = got(f"docp_$i%03d.pdf").map(r => r.page -> r.text).toMap
      assert(byPage(1) === PdfFixture.litsV2Of(i).mkString)
      (2 to PdfFixture.pagesOf(i)).foreach(p =>
        assert(byPage(p) === PdfFixture.textOf(i, p - 1)))
    }
  }

  test("pdf15Bytes parses to the classic twin's pages (uncompressed " +
      "ObjStm + binary xref stream)") {
    for (i <- 0 until PdfFixture.count) {
      val cls = Pdf.parse(f"doc_$i%03d.pdf", PdfFixture.pdfBytes(i))
      val v15 = Pdf.parse(f"doc_$i%03d.pdf", PdfFixture.pdf15Bytes(i))
      assert(v15 === cls)
    }
  }

  test("a second /Prev update re-shadows the first, and a newer " +
      "type-0 free DELETES an object (classic chain of three)") {
    val base = PdfFixture.pdfBytes(0) // 1 page; content obj 4
    val v = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
    val x0 = "startxref\n(\\d+)".r.findFirstMatchIn(v).get.group(1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    // update 1: replace the content stream
    val cs1 = "BT (first update) Tj ET"
    val co1 = out.size()
    w(s"4 0 obj\n<< /Length ${cs1.length} >>\nstream\n$cs1\nendstream" +
      "\nendobj\n")
    val x1 = out.size()
    w(f"xref\n4 1\n$co1%010d 00000 n \n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R /Prev $x0 >>\nstartxref\n$x1\n%%EOF\n")
    // chain of three: newest wins over BOTH older sections
    val cs2 = "BT (second update) Tj ET"
    val co2 = out.size()
    w(s"4 0 obj\n<< /Length ${cs2.length} >>\nstream\n$cs2\nendstream" +
      "\nendobj\n")
    val x2 = out.size()
    w(f"xref\n4 1\n$co2%010d 00000 n \n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R /Prev $x1 >>\nstartxref\n$x2\n%%EOF\n")
    val pages = Pdf.parse("u2.pdf", out.toByteArray)
    assert(pages.head.text === "second update")
    // update 3: FREE the content object — the newer type-0 entry must
    // shadow every older in-use entry, so the reference now dangles
    val x3 = out.size()
    w("xref\n4 1\n0000000000 65535 f \n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R /Prev $x2 >>\nstartxref\n$x3\n%%EOF\n")
    val e = intercept[RuntimeException](Pdf.parse("u3.pdf", out.toByteArray))
    assert(e.getMessage.contains("not in xref") ||
      e.getMessage.contains("/Contents"))
  }

  test("indirect /Length (the `n 0 R` shape real writers emit) " +
      "resolves through the xref; xref streams keep the direct rule") {
    for (i <- Seq(0, 3)) {
      assert(Pdf.parse(f"doc_$i%03d.pdf", indirectLengthVariant(i)) ===
        Pdf.parse(f"doc_$i%03d.pdf", PdfFixture.pdfBytes(i)))
    }
    // an xref STREAM with an indirect /Length refuses by name (ISO
    // 32000 §7.5.8 requires direct keys there) — and must NOT misparse
    // the object number as the length, the pre-r16 failure shape
    val tiny = ("%PDF-1.5\n" +
      "1 0 obj\n<< /Type /XRef /Size 2 /W [1 4 2] /Root 1 0 R " +
      "/Length 2 0 R >>\nstream\nxxxxxxx\nendstream\nendobj\n" +
      "startxref\n9\n%%EOF\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e = intercept[IllegalArgumentException](Pdf.parse("x.pdf", tiny))
    assert(e.getMessage.contains("indirect /Length"))
  }

  /** File i with every content stream's /Length replaced by an indirect
    * reference to a trailing integer object — the order real writers
    * serialize in (stream first, length once known). Same pages, same
    * stream bytes; parse must be identical to the direct twin. */
  private def indirectLengthVariant(i: Int): Array[Byte] = {
    val np = PdfFixture.pagesOf(i)
    val fontObj = 3 + 2 * np
    def lenObj(p: Int) = fontObj + 1 + p
    val kids = (0 until np).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    val bodies: Seq[(Int, String)] = (Seq(
      1 -> s"<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count $np >>") ++
      (0 until np).flatMap { p =>
        val cs = PdfFixture.contentOf(i, p)
        Seq(
          (3 + 2 * p) -> (s"<< /Type /Page /Parent 2 0 R " +
            s"/MediaBox [0 0 612 792] /Contents ${4 + 2 * p} 0 R " +
            s"/Resources << /Font << /F1 $fontObj 0 R >> >> >>"),
          (4 + 2 * p) -> (s"<< /Length ${lenObj(p)} 0 R >>\nstream\n$cs" +
            "\nendstream"))
      } ++ Seq(
      fontObj -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
      (0 until np).map(p =>
        lenObj(p) -> PdfFixture.contentOf(i, p).length.toString))
    val size = fontObj + 1 + np
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = new Array[Int](size)
    bodies.foreach { case (n, b) =>
      offsets(n) = sb.length
      sb.append(s"$n 0 obj\n").append(b).append("\nendobj\n")
    }
    val xrefPos = sb.length
    sb.append(s"xref\n0 $size\n")
    sb.append("0000000000 65535 f \n")
    (1 until size).foreach(n => sb.append(f"${offsets(n)}%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size $size /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefPos\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  test("/Contents arrays (Word-style split content) concatenate into " +
      "one logical stream") {
    // page content split across TWO streams, the split landing BETWEEN
    // tokens (§7.8.2: tokens never span a stream boundary)
    val cs1 = "BT (first half ) Tj"
    val cs2 = "( second half) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit =
      out.write(str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = new Array[Int](6)
    def obj(n: Int, bodyStr: String): Unit = {
      offsets(n) = out.size()
      w(s"$n 0 obj\n$bodyStr\nendobj\n")
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>")
    obj(4, s"<< /Length ${cs1.length} >>\nstream\n$cs1\nendstream")
    obj(5, s"<< /Length ${cs2.length} >>\nstream\n$cs2\nendstream")
    val xrefPos = out.size()
    w("xref\n0 6\n0000000000 65535 f \n")
    (1 to 5).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    val pages = Pdf.parse("arr.pdf", out.toByteArray)
    assert(pages.length === 1)
    assert(pages.head.text === "first half  second half")
    assert(pages.head.n_lits === 2)
    assert(pages.head.stream_bytes === (cs1.length + cs2.length).toLong)
  }

  test("the /Filter grammar: array-of-one, ASCIIHexDecode, the " +
      "ASCIIHex->Flate cascade decode; anything else refuses by name") {
    val cs = "BT (filtered) Tj ET"
    val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // array-of-one FlateDecode: equivalent to the name form, must parse
    val one = onePageWithFilter("/Filter [/FlateDecode]",
      deflateBytes(cs.getBytes(L1)))
    assert(Pdf.parse("a.pdf", one).head.text === "filtered")
    // ASCIIHexDecode alone (ISO 32000 §7.4.2): whitespace ignored, odd
    // trailing digit padded, > EOD required
    def hexOf(b: Array[Byte]): String =
      b.map(x => f"$x%02X").mkString(" ") + " >"
    val hexed = onePageWithFilter("/Filter /ASCIIHexDecode",
      hexOf(cs.getBytes(L1)).getBytes(L1))
    assert(Pdf.parse("h.pdf", hexed).head.text === "filtered")
    // the [/ASCIIHexDecode /FlateDecode] cascade older writers emit
    // (r17, VERDICT r16 stretch #8): decode left-to-right
    val casc = onePageWithFilter("/Filter [/ASCIIHexDecode /FlateDecode]",
      hexOf(deflateBytes(cs.getBytes(L1))).getBytes(L1))
    assert(Pdf.parse("c.pdf", casc).head.text === "filtered")
    // a SINGLE unsupported filter refuses by name — pre-r17 the bytes
    // fed the text interpreter still-encoded (ADVICE r16, medium)
    for (f <- Seq("/Filter /DCTDecode", "/Filter [/DCTDecode]")) {
      val dct = onePageWithFilter(f, Array[Byte](1, 2, 3, 4))
      val e = intercept[RuntimeException](Pdf.parse("l.pdf", dct))
      assert(e.getMessage.contains("DCTDecode") &&
        e.getMessage.contains("unsupported"), e.getMessage)
    }
    // an unsupported cascade refuses by name too
    val badCasc = onePageWithFilter(
      "/Filter [/JBIG2Decode /FlateDecode]", Array[Byte](1, 2))
    val e3 = intercept[RuntimeException](Pdf.parse("c2.pdf", badCasc))
    assert(e3.getMessage.contains("JBIG2Decode"), e3.getMessage)
    // malformed hex data refuses with context: missing EOD, data after
    // EOD, a non-hex byte
    for ((data, what) <- Seq("4254" -> "EOD", "42 > 54" -> "after",
        "4Z54 >" -> "non-hex")) {
      val b = onePageWithFilter("/Filter /ASCIIHexDecode",
        data.getBytes(L1))
      val e = intercept[RuntimeException](Pdf.parse("m.pdf", b))
      assert(e.getMessage.contains(what), s"'$data': ${e.getMessage}")
    }
    // odd trailing digit pads with 0 (spec): "42 5>" decodes to 0x42 0x50
    val odd = onePageWithFilter("/Filter /ASCIIHexDecode",
      "28 4F 4B 29 54 6A 2>".getBytes(L1)) // "(OK)Tj " + 0x20
    assert(Pdf.parse("o.pdf", odd).head.text === "OK")
    // malformed zlib bytes under a legitimate /FlateDecode refuse with
    // file context, not a bare DataFormatException
    val bad = onePageWithFilter("/Filter /FlateDecode",
      Array[Byte](0x12, 0x34, 0x56, 0x78))
    val e2 = intercept[IllegalArgumentException](Pdf.parse("z.pdf", bad))
    assert(e2.getMessage.contains("FlateDecode"))
  }

  test("LZWDecode: hand-packed code vector, width-boundary round-trips " +
      "at both /EarlyChange values, RunLengthDecode; refusals") {
    val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // bit-packer over explicit (code, width) pairs — packing is trivial
    // and SEPARATE from the LZW logic under test
    def pack(codes: Seq[(Int, Int)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var buf = 0L; var n = 0
      codes.foreach { case (c, w) =>
        buf = (buf << w) | c; n += w
        while (n >= 8) { out.write(((buf >> (n - 8)) & 0xff).toInt); n -= 8 }
      }
      if (n > 0) out.write(((buf << (8 - n)) & 0xff).toInt)
      out.toByteArray
    }
    // hand-packed micro-vector at width 9 spelling "BT (ok) Tj ET"
    // through literal codes + ONE table reference + the KwKwK case:
    //   Clear, B, T, sp, (, o, k, ), sp, T, j, 258 ("BT"→ wait: the
    // first add is made processing the SECOND code, so 258 = "BT"),
    // then EOD. Decoded: "BT (ok) Tj" + "BT" — includes a table hit.
    val lit = "BT (ok) Tj ".getBytes(L1).map(b => ((b & 0xff), 9)).toSeq
    val micro = pack(Seq((256, 9)) ++ lit ++ Seq((258, 9), (257, 9)))
    // after 11 literals the decoder's table is 258.."BT"(258),"T "(259),
    // " ("(260)... so 258 decodes to "BT"; total text ops: "(ok) Tj"
    // then "BT" is a dangling op — harmless to the interpreter
    val mpg = onePageWithFilter("/Filter /LZWDecode", micro)
    assert(Pdf.parse("mi.pdf", mpg).head.text === "ok")
    // spec-side ENCODER mirrored on the decoder's width rule; emits
    // Clear up front and EOD at the end
    def enc(data: Array[Byte], early: Int): Array[Byte] = {
      val dict = scala.collection.mutable.HashMap[Seq[Byte], Int]()
      def reset(): Int = { dict.clear(); 258 }
      var next = reset()
      var width = 9
      val codes = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      codes += ((256, width))
      var wseq: Vector[Byte] = Vector.empty
      def codeOf(s: Seq[Byte]): Int =
        if (s.length == 1) s.head & 0xff else dict(s)
      data.foreach { b =>
        val cand = wseq :+ b
        if (cand.length == 1 || dict.contains(cand)) wseq = cand
        else {
          codes += ((codeOf(wseq), width))
          dict(cand) = next; next += 1
          // the encoder's table runs ONE entry ahead of the decoder's
          // at the same stream position (the decoder's add lags one
          // emission), so its bump condition is one entry later than
          // the decoder's size+early >= 2^w rule
          if (width < 12 && next + early > (1 << width)) width += 1
          if (next == 4096) { codes += ((256, width)); next = reset(); width = 9 }
          wseq = Vector(b)
        }
      }
      if (wseq.nonEmpty) codes += ((codeOf(wseq), width))
      codes += ((257, width))
      pack(codes.toSeq)
    }
    // round-trips that CROSS the 9->10->11 width boundaries (unique
    // pairs grow the table past 1023): both parameter values, asserted
    // through the full page parse so /Length and the interpreter hold
    // the aaaa run forces the KwKwK pattern deterministically; 2200
    // distinct literals push the table past 2047 (both width bumps and
    // the 4096 Clear/reset path)
    val body = (0 until 2200).map(k =>
      s"(${k % 97}x${(k * 7) % 89})")
      .mkString("BT (aaaaaaaaaaaa) Tj ", " Tj ", " Tj ET")
    for (early <- Seq(0, 1)) {
      val parms = if (early == 1) ""
        else " /DecodeParms << /EarlyChange 0 >>"
      val pg = onePageWithFilter(s"/Filter /LZWDecode$parms",
        enc(body.getBytes(L1), early))
      val expected = Pdf.extractText("x", body)._1
      assert(Pdf.parse(s"e$early.pdf", pg).head.text === expected,
        s"early=$early")
    }
    // the parameter is LOAD-BEARING: an EarlyChange=1 stream read under
    // EarlyChange=0 misaligns at the first boundary and refuses loudly
    val e1 = intercept[RuntimeException] {
      Pdf.parse("mm.pdf", onePageWithFilter(
        "/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
        enc(body.getBytes(L1), 1)))
    }
    assert(e1.getMessage.contains("LZW"), e1.getMessage)
    // the classic pre-Flate combo: [/ASCII85Decode /LZWDecode]
    def enc85(b: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < b.length) {
        val n = math.min(4, b.length - i)
        var v = 0L
        for (j <- 0 until 4)
          v = (v << 8) | (if (j < n) b(i + j) & 0xffL else 0L)
        val cs = new Array[Char](5)
        for (j <- 4 to 0 by -1) { cs(j) = ('!' + v % 85).toChar; v /= 85 }
        sb.appendAll(cs, 0, n + 1)
        i += n
      }
      sb.append("~>").toString
    }
    val combo = onePageWithFilter("/Filter [/ASCII85Decode /LZWDecode]",
      enc85(enc("BT (classic) Tj ET".getBytes(L1), 1)).getBytes(L1))
    assert(Pdf.parse("cl.pdf", combo).head.text === "classic")
    // truncation before EOD refuses
    val trunc = enc("BT (t) Tj ET".getBytes(L1), 1)
    val e2 = intercept[RuntimeException] {
      Pdf.parse("t.pdf", onePageWithFilter("/Filter /LZWDecode",
        trunc.dropRight(2)))
    }
    assert(e2.getMessage.contains("LZW"), e2.getMessage)

    // RunLengthDecode: literal runs, repeat runs, EOD required
    def rle(parts: Seq[Either[Array[Byte], (Byte, Int)]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach {
        case Left(lit) => out.write(lit.length - 1); out.write(lit, 0,
          lit.length)
        case Right((b, n)) => out.write(257 - n); out.write(b & 0xff)
      }
      out.write(128)
      out.toByteArray
    }
    val rl = rle(Seq(Left("BT (r".getBytes(L1)),
      Right(('l'.toByte, 4)), Left(") Tj ET".getBytes(L1))))
    val rpg = onePageWithFilter("/Filter /RunLengthDecode", rl)
    assert(Pdf.parse("r.pdf", rpg).head.text === "rllll")
    val e3 = intercept[RuntimeException] {
      Pdf.parse("r2.pdf", onePageWithFilter("/Filter /RunLengthDecode",
        rl.dropRight(1)))
    }
    assert(e3.getMessage.contains("EOD"), e3.getMessage)
  }

  test("ASCII85Decode: base-85 groups, z shorthand, partial final " +
      "group, the a85->Flate cascade; malformed data refuses loudly") {
    val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // independent ENCODER here (the asciiHex test discipline): group
    // bytes big-endian, emit 5 base-85 chars, n+1 for a partial n
    def enc85(b: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < b.length) {
        val n = math.min(4, b.length - i)
        var v = 0L
        for (j <- 0 until 4)
          v = (v << 8) | (if (j < n) b(i + j) & 0xffL else 0L)
        val cs = new Array[Char](5)
        for (j <- 4 to 0 by -1) { cs(j) = ('!' + v % 85).toChar; v /= 85 }
        sb.appendAll(cs, 0, n + 1)
        i += n
      }
      sb.append("~>").toString
    }
    val cs = "BT (eightyfive) Tj ET"
    val a85 = onePageWithFilter("/Filter /ASCII85Decode",
      enc85(cs.getBytes(L1)).getBytes(L1))
    assert(Pdf.parse("a.pdf", a85).head.text === "eightyfive")
    // the cascade form: hex of DEFLATE bytes through base-85
    val casc = onePageWithFilter("/Filter [/ASCII85Decode /FlateDecode]",
      enc85(deflateBytes(cs.getBytes(L1))).getBytes(L1))
    assert(Pdf.parse("c.pdf", casc).head.text === "eightyfive")
    // 'z' = four zero bytes: a content stream of NULs then real text is
    // not meaningful, so check at the byte level through an object
    // stream-free path: decode "(A) Tj" prefixed by 4 NULs via z —
    // extractText skips NULs? keep it simpler: z + text bytes
    val zPayload = enc85("BT (pad) Tj ET".getBytes(L1))
    val withZ = onePageWithFilter("/Filter /ASCII85Decode",
      ("z" + zPayload).getBytes(L1))
    // 4 leading NUL bytes then the stream — the interpreter ignores
    // bytes outside literals/operators, so the text survives
    assert(Pdf.parse("zz.pdf", withZ).head.text === "pad")
    // refusals: missing EOD, single trailing char, invalid byte,
    // z inside a group
    for ((data, what) <- Seq(
        "9jqo" -> "EOD",
        "9~>" -> "single trailing",
        "9j|~>" -> "invalid ASCII85",
        "9jz~>" -> "'z' inside")) {
      val b = onePageWithFilter("/Filter /ASCII85Decode",
        data.getBytes(L1))
      val e = intercept[RuntimeException](Pdf.parse("m.pdf", b))
      assert(e.getMessage.contains(what), s"'$data': ${e.getMessage}")
    }
  }

  /** Minimal classic one-page file whose content stream carries the
    * given /Filter clause and raw bytes — offsets computed as written,
    * so the parse reaches the filter logic with a valid xref. */
  private def onePageWithFilter(filter: String,
      content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = new Array[Int](5)
    def obj(n: Int)(body: => Unit): Unit = {
      offsets(n) = out.size()
      w(s"$n 0 obj\n"); body; w("\nendobj\n")
    }
    obj(1)(w("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(w("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
    obj(3)(w("<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"))
    obj(4) {
      w(s"<< /Length ${content.length} $filter >>\nstream\n")
      out.write(content)
      w("\nendstream")
    }
    val xrefPos = out.size()
    w("xref\n0 5\n0000000000 65535 f \n")
    (1 to 4).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** File i with every content stream FlateDecode-compressed — built by
    * the same object/xref bookkeeping as the fixture writer, so offsets
    * stay exact while /Length now measures the compressed bytes. */
  private def deflateVariant(i: Int): Array[Byte] = {
    val np = PdfFixture.pagesOf(i)
    val fontObj = 3 + 2 * np
    val kids = (0 until np).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      d.finish()
      val buf = new Array[Byte](s.length * 2 + 64)
      val n = d.deflate(buf)
      d.end()
      buf.take(n)
    }
    val bodies: Seq[(Int, Array[Byte])] = (Seq(
      1 -> s"<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1"),
      2 -> s"<< /Type /Pages /Kids [$kids] /Count $np >>".getBytes("ISO-8859-1")) ++
      (0 until np).flatMap { p =>
        val cz = deflate(PdfFixture.contentOf(i, p))
        Seq(
          (3 + 2 * p) -> (s"<< /Type /Page /Parent 2 0 R " +
            s"/MediaBox [0 0 612 792] /Contents ${4 + 2 * p} 0 R " +
            s"/Resources << /Font << /F1 $fontObj 0 R >> >> >>")
            .getBytes("ISO-8859-1"),
          (4 + 2 * p) -> (
            (s"<< /Length ${cz.length} /Filter /FlateDecode >>\nstream\n")
              .getBytes("ISO-8859-1") ++ cz ++
              "\nendstream".getBytes("ISO-8859-1")))
      } ++ Seq(
      fontObj -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        .getBytes("ISO-8859-1")))
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
    val offsets = new Array[Int](fontObj + 1)
    bodies.foreach { case (n, b) =>
      offsets(n) = out.size()
      out.write(s"$n 0 obj\n".getBytes("ISO-8859-1"))
      out.write(b)
      out.write("\nendobj\n".getBytes("ISO-8859-1"))
    }
    val xrefPos = out.size()
    out.write(s"xref\n0 ${fontObj + 1}\n".getBytes("ISO-8859-1"))
    out.write("0000000000 65535 f \n".getBytes("ISO-8859-1"))
    (1 to fontObj).foreach(n =>
      out.write(f"${offsets(n)}%010d 00000 n \n".getBytes("ISO-8859-1")))
    out.write((s"trailer\n<< /Size ${fontObj + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefPos\n%%EOF\n").getBytes("ISO-8859-1"))
    out.toByteArray
  }

  private def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b)
    d.finish()
    val buf = new Array[Byte](b.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    buf.take(n)
  }

  /** File i re-authored the PDF 1.5 way (VERDICT r15 #4): every
    * dict-only object (catalog, pages, page dicts, font) packed into
    * one FlateDecode /ObjStm, content streams top-level (streams may
    * not live in an ObjStm), and a FlateDecode cross-reference STREAM
    * (/W [1 4 2], type-0/1/2 entries, trailer keys in its own dict) in
    * place of the classic table. Same logical document — parse must
    * return identical rows. */
  private def xrefStreamVariant(i: Int): Array[Byte] = {
    val np = PdfFixture.pagesOf(i)
    val fontObj = 3 + np
    def contentObj(p: Int) = 4 + np + p
    val objStmObj = 4 + 2 * np
    val xrefObj = 5 + 2 * np
    val kids = (0 until np).map(p => s"${3 + p} 0 R").mkString(" ")
    val members: Seq[(Int, String)] = (Seq(
      1 -> s"<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count $np >>") ++
      (0 until np).map { p =>
        (3 + p) -> (s"<< /Type /Page /Parent 2 0 R " +
          s"/MediaBox [0 0 612 792] /Contents ${contentObj(p)} 0 R " +
          s"/Resources << /Font << /F1 $fontObj 0 R >> >> >>")
      }) :+
      (fontObj -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val memberOffs = members.map(_._2.length + 1).scanLeft(0)(_ + _).init
    val hdr = members.zip(memberOffs)
      .map { case ((n, _), o) => s"$n $o" }.mkString(" ") + "\n"
    val payload = hdr + members.map(_._2).mkString("\n")
    val pz = deflateBytes(payload.getBytes("ISO-8859-1"))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    val offs = scala.collection.mutable.Map.empty[Int, Int]
    offs(objStmObj) = out.size()
    w(s"$objStmObj 0 obj\n<< /Type /ObjStm /N ${members.length} " +
      s"/First ${hdr.length} /Filter /FlateDecode /Length ${pz.length} " +
      ">>\nstream\n")
    out.write(pz)
    w("\nendstream\nendobj\n")
    (0 until np).foreach { p =>
      val cs = PdfFixture.contentOf(i, p)
      offs(contentObj(p)) = out.size()
      w(s"${contentObj(p)} 0 obj\n<< /Length ${cs.length} >>\n" +
        s"stream\n$cs\nendstream\nendobj\n")
    }
    val xrefOff = out.size()
    offs(xrefObj) = xrefOff
    val size = xrefObj + 1
    val slot = (Map(1 -> 0, 2 -> 1) ++
      (0 until np).map(p => (3 + p) -> (2 + p))) + (fontObj -> (np + 2))
    val data = new java.io.ByteArrayOutputStream()
    (0 until size).foreach { n =>
      val (t, f2, f3) =
        if (n == 0) (0, 0, 65535)
        else if (slot.contains(n)) (2, objStmObj, slot(n))
        else (1, offs(n), 0)
      data.write(t)
      data.write((f2 >> 24) & 0xff); data.write((f2 >> 16) & 0xff)
      data.write((f2 >> 8) & 0xff); data.write(f2 & 0xff)
      data.write((f3 >> 8) & 0xff); data.write(f3 & 0xff)
    }
    val dz = deflateBytes(data.toByteArray)
    w(s"$xrefObj 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Root 1 0 R /Filter /FlateDecode /Length ${dz.length} >>\nstream\n")
    out.write(dz)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }
}
