package graft

import graft.ops.{Xlsx, XlsxFixture}

/** The real-XLSX reader's two independent checks (the gate oracle is the
  * third): parse equals the generation FORMULA (so a bug shared by the
  * zip writer and reader still fails), and the reader is codec-complete —
  * the gate fixture uses STORED entries (so the DuckDB oracle can see the
  * XML), but the same workbooks re-packed with DEFLATE must parse
  * identically, proving nothing about the reader depends on the
  * compression method choice. */
class XlsxSpec extends SparkSpec {

  test("parse matches the generation formula (all files, all cells)") {
    for (i <- 0 until XlsxFixture.count) {
      val rows = Xlsx.parseWorkbook(f"wb_$i%03d.xlsx",
        XlsxFixture.workbookBytes(i)).sortBy(_.row_id)
      assert(rows.size === 3 + i % 3)
      rows.foreach { r =>
        assert(r.client === s"client_${(i * 7 + (r.row_id - 1) % 3) % 5}")
        assert(r.amount === (i * 31 + r.row_id * 7) % 1000)
        assert(r.note === s"note_${i}_${r.row_id}")
      }
    }
  }

  test("DEFLATE-compressed workbooks parse identically to STORED ones") {
    for (i <- 0 until XlsxFixture.count) {
      val stored = Xlsx.parseWorkbook("wb.xlsx",
        XlsxFixture.workbookBytes(i, stored = true)).sortBy(_.row_id)
      val deflated = Xlsx.parseWorkbook("wb.xlsx",
        XlsxFixture.workbookBytes(i, stored = false)).sortBy(_.row_id)
      assert(stored === deflated)
      // and DEFLATE actually compressed (the variant isn't a no-op)
      assert(XlsxFixture.workbookBytes(i, stored = false).length <
        XlsxFixture.workbookBytes(i, stored = true).length)
      // every entry of both packings carries the one fixed time and no
      // extended-timestamp field, so the bytes never depend on the clock
      for (stored <- Seq(true, false)) {
        val zin = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(XlsxFixture.workbookBytes(i, stored)))
        var e = zin.getNextEntry
        while (e != null) {
          assert(e.getTimeLocal === Xlsx.entryTime, e.getName)
          assert(e.getExtra === null, e.getName)
          e = zin.getNextEntry
        }
        zin.close()
      }
    }
  }

  test(".xlsm parity: the macro container parses identically (extra " +
      "vbaProject.bin entry ignored)") {
    // Reference parity (VERDICT r12 #5): the reference accepts .xlsm by
    // extension (commercial_rfp_raw_data_ingestion_and_cleaning.py:131-132)
    // and parses it with openpyxl (:286), which reads ONLY the OOXML
    // parts — a .xlsm is the same zip plus an xl/vbaProject.bin blob the
    // sheet grammar never touches. Repackage a fixture workbook with
    // that extra entry and require identical rows. (.xls/BIFF8 is a
    // different, non-zip format the reference itself cannot read with
    // engine="openpyxl" — correctly out of scope on both sides.)
    for (i <- Seq(0, 3, 7)) {
      val base = Xlsx.parseWorkbook(f"wb_$i%03d.xlsm",
        XlsxFixture.workbookBytes(i)).sortBy(_.row_id)
      val parts = graft.ops.Xlsx.entries(XlsxFixture.workbookBytes(i))
        .toSeq.map { case (n, b) => n -> new String(b, "UTF-8") }
      val vba = "vba-project-stub-" + i // content never read
      val xlsm = graft.ops.Xlsx.zipBytes(
        parts :+ ("xl/vbaProject.bin" -> vba), stored = true)
      val got = Xlsx.parseWorkbook(f"wb_$i%03d.xlsm", xlsm).sortBy(_.row_id)
      assert(got === base)
    }
  }

  test("out-of-grammar cells fail loudly instead of being dropped") {
    // A styled cell (s="0") and a decimal <v> are both outside the
    // documented grammar; the reader must refuse the workbook, not parse
    // a silently smaller sheet (ADVICE r11).
    for (cell <- Seq(
        """<c r="A1" s="0"><v>1</v></c>""",
        """<c r="A1"><v>1.5</v></c>""",
        """<c r="A1"/>""")) {
      val bytes = Xlsx.zipBytes(Seq(
        "xl/sharedStrings.xml" ->
          """<?xml version="1.0"?><sst count="0" uniqueCount="0"></sst>""",
        "xl/worksheets/sheet1.xml" ->
          s"""<?xml version="1.0"?><worksheet><sheetData><row r="1">$cell</row></sheetData></worksheet>"""),
        stored = true)
      val e = intercept[IllegalArgumentException] {
        Xlsx.parseCells("bad.xlsx", bytes)
      }
      assert(e.getMessage.contains("matched"), s"cell=$cell msg=${e.getMessage}")
    }
  }

  test("sink round-trip: arbitrary cells survive write -> parseCells " +
      "(specials, negatives, nulls, shared-string reuse)") {
    val rows: Seq[Seq[Option[Either[String, Long]]]] = Seq(
      Seq(Some(Left("a <&> \"quoted\" 'b'")), Some(Right(-42L)), Some(Left("dup"))),
      Seq(Some(Left("plain")), None, Some(Left("dup"))),
      Seq(None, Some(Right(0L)), Some(Left("a <&> \"quoted\" 'b'"))))
    val bytes = XlsxSpec.workbookBytes(rows)
    val cells = graft.ops.Xlsx.parseCells("rt.xlsx", bytes)
      .map { case (r, c, v) => (r, c) -> v }.toMap
    assert(cells === Map(
      (1L, "A") -> Left("a <&> \"quoted\" 'b'"), (1L, "B") -> Right(-42L),
      (1L, "C") -> Left("dup"),
      (2L, "A") -> Left("plain"), (2L, "C") -> Left("dup"),
      (3L, "B") -> Right(0L), (3L, "C") -> Left("a <&> \"quoted\" 'b'")))
  }

  test("sink column letters cover the multi-letter range (AA+)") {
    val wide = Seq((0 until 30).map(j => Some(Right(j.toLong))
      : Option[Either[String, Long]]))
    val cells = graft.ops.Xlsx.parseCells("w.xlsx",
      XlsxSpec.workbookBytes(wide))
    val byCol = cells.map { case (_, c, v) => c -> v }.toMap
    assert(byCol("Z") === Right(25L) && byCol("AA") === Right(26L) &&
      byCol("AD") === Right(29L))
  }

  test("reader runs distributed over the binaryFile source") {
    val dir = XlsxFixture.ensure()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".xlsx")).map(_.getAbsolutePath).sorted
    val n = Xlsx.readWorkbooks(
      spark.read.format("binaryFile").load(files.toIndexedSeq: _*)).count()
    assert(n === (0 until XlsxFixture.count).map(i => 3 + i % 3).sum)
  }
}

object XlsxSpec {
  private def colLetter(j: Int): String = {
    var n = j + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Rows as one workbook's bytes, the writer the round-trip tests read
    * back. Cells: Left = string (per-workbook insertion-ordered shared
    * string), Right = long (numeric); None cells are omitted (xlsx's
    * native representation of a missing value). */
  def workbookBytes(rows: Seq[Seq[Option[Either[String, Long]]]]): Array[Byte] = {
    val sstIdx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = sstIdx.getOrElseUpdate(s, sstIdx.size)
    val body = rows.zipWithIndex.map { case (cells, i) =>
      val r = i + 1
      cells.zipWithIndex.flatMap {
        case (None, _) => Nil
        case (Some(Left(s)), j) =>
          Seq(s"""<c r="${colLetter(j)}$r" t="s"><v>${sid(s)}</v></c>""")
        case (Some(Right(v)), j) =>
          Seq(s"""<c r="${colLetter(j)}$r"><v>$v</v></c>""")
      }.mkString(s"""<row r="$r">""", "", "</row>")
    }.mkString
    val sis = sstIdx.keysIterator
      .map(s => s"<si><t>${Xlsx.xmlEscape(s)}</t></si>").mkString
    Xlsx.zipBytes(Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""",
      "xl/workbook.xml" ->
        """<?xml version="1.0"?><workbook><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>""",
      "xl/sharedStrings.xml" ->
        s"""<?xml version="1.0"?><sst count="${sstIdx.size}" uniqueCount="${sstIdx.size}">$sis</sst>""",
      "xl/worksheets/sheet1.xml" ->
        s"""<?xml version="1.0"?><worksheet><sheetData>$body</sheetData></worksheet>"""),
      stored = false)
  }
}
