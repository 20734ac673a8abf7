package graft.ops

import java.util.zip.{CRC32, ZipEntry, ZipInputStream, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** REAL XLSX ingestion (S1/S2 — the reference's actual entry format,
  * commercial_rfp_raw_data_ingestion_and_cleaning.py:286 reads .xlsx
  * workbooks; until round 11 this engine covered Excel only at the
  * listing layer). An .xlsx file is a ZIP package of XML parts;
  * [[readWorkbooks]] walks the archive with `java.util.zip`
  * (STORED and DEFLATE entries alike — the JDK inflater is a full
  * codec), loads the shared-string table, and parses `sheet1`'s cells:
  * A1-style references, shared-string cells (`t="s"`), inline-string
  * cells (`t="inlineStr"`), and plain numeric cells. Styles, formulas
  * and multi-sheet workbooks are out of scope — the reference reads
  * plain tabular content sheets, which is exactly this subset.
  *
  * Differential check: [[XlsxFixture]] writes the gate corpus with
  * STORED (method-0) entries — a fully legal xlsx compression choice —
  * which leaves each XML part as contiguous plaintext inside the blob,
  * so the DuckDB oracle can independently re-parse the SAME BYTES with
  * `read_blob` + hex-domain regular expressions (no zip library, no
  * XML library: cell patterns are matched on the hex encoding with
  * character-class-restricted captures, then hex-decoded in SQL).
  * The JVM reader is additionally proven codec-complete by XlsxSpec,
  * which re-packs the same workbooks with DEFLATE compression and
  * asserts the identical parse — so using STORED in the gate fixture
  * sacrifices no reader generality, it only makes the oracle possible.
  *
  * Scale: one workbook is one binary row; parsing is a typed
  * `mapPartitions` pass (the decode slot), emitting one row per sheet
  * row — embarrassingly parallel across files, no shuffle until
  * whatever aggregation follows.
  */
object Xlsx {

  /** One parsed sheet row: the workbook's A column resolved through the
    * shared-string table, B as a number, C as an inline string. */
  final case class SheetRow(file_name: String, row_id: Long,
                            client: String, amount: Long, note: String)

  private val cellRe =
    """<c r="([A-Z]+)([0-9]+)"(?: t="(s|inlineStr)")?>(?:<v>(-?[0-9]+)</v>|<is><t>([^<]*)</t></is>)</c>""".r
  private val siRe = """<si><t>([^<]*)</t></si>""".r

  private[graft] def xmlEscape(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;").replace("'", "&apos;")
  private[graft] def xmlUnescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
    .replace("&apos;", "'").replace("&amp;", "&")

  /** Reads every ZIP entry into (name → bytes). Shared with [[Docx]] —
    * both OOXML codecs walk the same container format. */
  private[graft] def entries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var e = zin.getNextEntry
    while (e != null) {
      out += e.getName -> zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()
    out.result()
  }

  /** The untyped cell-level parse: (row_id, column letters, string-or-long
    * value), shared strings resolved and XML entities unescaped. The
    * schema-free half of the reader — [[parseWorkbook]] types it, and the
    * sink round-trip ([[XlsxSink]]) asserts against it for arbitrary
    * schemas. */
  private[graft] def parseCells(name: String, bytes: Array[Byte])
      : Seq[(Long, String, Either[String, Long])] = {
    val parts = entries(bytes)
    def xml(part: String): String = new String(
      parts.getOrElse(part,
        throw new IllegalArgumentException(s"$name: missing $part")),
      "UTF-8")
    val sst = siRe.findAllMatchIn(xml("xl/sharedStrings.xml"))
      .map(m => xmlUnescape(m.group(1))).toIndexedSeq
    val sheet = xml("xl/worksheets/sheet1.xml")
    val parsed = cellRe.findAllMatchIn(sheet).toSeq
    // The cell grammar covers exactly the subset documented above; a
    // workbook carrying cells outside it (style attributes, decimal <v>,
    // formulas, empty cells) must fail loudly, not parse to a silently
    // smaller sheet. Count every `<c ` open tag and demand the grammar
    // matched all of them.
    val cellTags = "<c [^>/]*(/?)>".r.findAllMatchIn(sheet).size
    require(parsed.size == cellTags,
      s"$name: sheet1 has $cellTags cells but only ${parsed.size} matched " +
        "the supported grammar (A1 ref, optional t=\"s\"/\"inlineStr\", " +
        "integer <v> or <is><t>) — refusing to drop cells silently")
    parsed.map { m =>
      val rowId = m.group(2).toLong
      val value: Either[String, Long] = m.group(3) match {
        case "s" => Left(sst(m.group(4).toInt))
        case "inlineStr" => Left(xmlUnescape(m.group(5)))
        case null => Right(m.group(4).toLong)
        case other =>
          throw new IllegalArgumentException(s"$name: cell type $other")
      }
      (rowId, m.group(1), value)
    }.toSeq
  }

  /** Parse one workbook's sheet1 into typed rows. */
  private[graft] def parseWorkbook(name: String,
                                 bytes: Array[Byte]): Seq[SheetRow] = {
    parseCells(name, bytes).groupBy(_._1).toSeq.map { case (rowId, cs) =>
      val byCol = cs.map(c => c._2 -> c._3).toMap
      def str(c: String): String = byCol(c).left.getOrElse(
        sys.error(s"$name row $rowId: $c not a string"))
      def num(c: String): Long = byCol(c).getOrElse(
        sys.error(s"$name row $rowId: $c not numeric"))
      SheetRow(name, rowId, str("A"), num("B"), str("C"))
    }
  }

  /** Decode a binaryFile frame (path, content) of workbooks. */
  def readWorkbooks(df: DataFrame): Dataset[SheetRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (name, bytes) =>
        parseWorkbook(name, bytes)
      })
  }

  /** The one modification time every ZIP entry carries, so the packed
    * bytes are a pure function of the parts, never of the wall clock. It
    * fits the DOS time field, so no extended-timestamp field is written
    * (1980-01-01 00:00 itself would add one: java.util.zip reads that
    * DOS value as its "before 1980" marker). */
  private[graft] val entryTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  /** Pack named XML parts as an xlsx (ZIP) byte array. `stored = true`
    * writes method-0 entries (uncompressed — what makes the gate
    * fixture's bytes oracle-parsable); the default DEFLATE is what a
    * production writer emits. */
  private[graft] def zipBytes(parts: Seq[(String, String)],
                              stored: Boolean): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val zout = new ZipOutputStream(buf)
    parts.foreach { case (name, xmlStr) =>
      val bytes = xmlStr.getBytes("UTF-8")
      val e = new ZipEntry(name)
      e.setTimeLocal(entryTime)
      if (stored) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(bytes.length.toLong)
        val crc = new CRC32(); crc.update(bytes)
        e.setCrc(crc.getValue)
      } else e.setMethod(ZipEntry.DEFLATED)
      zout.putNextEntry(e)
      zout.write(bytes)
      zout.closeEntry()
    }
    zout.close()
    buf.toByteArray
  }
}

/** S4 executed — the .xlsx SINK. The reference's
  * `upload_result_to_blob_container` (commercial_rfp_data_ingestion_utils
  * .py:11-21) renders the final frame to one workbook blob and overwrites
  * it; until round 11 this engine covered S4 only by the parquet-overwrite
  * analog (`Verify`'s write path). [[writeWorkbooks]] writes REAL .xlsx
  * bytes: string columns as shared-string cells (per-workbook
  * insertion-ordered distinct table — the layout the reader's sst path
  * parses), integral columns as numeric cells, XML entities escaped.
  *
  * Spark-first shape: `foreachPartition`, one workbook per non-empty
  * partition (`<prefix>-<partition>.xlsx`) — the executor-parallel sink
  * discipline of [[RenderSink]]; `df.coalesce(1)` upstream reproduces the
  * reference's single-artifact contract exactly. Proof is round-trip, not
  * oracle (file sinks have no SQL oracle — the S10 precedent): XlsxSpec
  * re-reads sink output through [[Xlsx.parseCells]] and asserts cell-level
  * equality, specials and negatives included. */
object XlsxSink {

  private def colLetter(j: Int): String = {
    var n = j + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** One partition's rows as workbook bytes. Cells: Left = string (shared
    * string), Right = long (numeric); None cells are omitted (xlsx's
    * native representation of a missing value). */
  private[graft] def workbookBytes(
      rows: Seq[Seq[Option[Either[String, Long]]]],
      stored: Boolean = false): Array[Byte] = {
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
      stored)
  }

  /** Writes `df` (string and integral columns only) as .xlsx files under
    * `outDir`, one per non-empty partition. Returns nothing the driver
    * must collect — the write IS the result, as with [[RenderSink]]. */
  def writeWorkbooks(df: DataFrame, outDir: String,
                     prefix: String = "result"): Unit = {
    import org.apache.spark.sql.types._
    val schema = df.schema
    val kinds: Seq[Int] = schema.fields.toSeq.map(_.dataType match {
      case StringType => 0
      case LongType | IntegerType | ShortType | ByteType => 1
      case dt => throw new IllegalArgumentException(
        s"xlsx sink supports string/integral columns, got $dt")
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rows = it.map { r =>
          kinds.zipWithIndex.map { case (k, j) =>
            if (r.isNullAt(j)) None
            else if (k == 0) Some(Left(r.getString(j)))
            else Some(Right(r.get(j) match {
              case l: Long => l
              case i: Int => i.toLong
              case s: Short => s.toLong
              case b: Byte => b.toLong
            }))
          }
        }.toSeq
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"$prefix-$pid%05d.xlsx"),
          workbookBytes(rows))
        ()
      }
    }
  }
}

/** Deterministic on-disk XLSX corpus (STORED-zip; see [[Xlsx]]): every
  * byte a pure function of the file index. Cell contract per file i,
  * sheet rows r = 1..(3 + i mod 3):
  *   A r — shared string index (r−1) mod 3 into the per-file string
  *         table ["client_((i·7+k) mod 5)" for k = 0..2];
  *   B r — numeric (i·31 + r·7) mod 1000;
  *   C r — inline string "note_i_r".
  */
object XlsxFixture {
  val count = 24

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_xlsx_v2").getAbsolutePath

  private def sheetXml(i: Int): String = {
    val rows = (1 to 3 + i % 3).map { r =>
      s"""<row r="$r"><c r="A$r" t="s"><v>${(r - 1) % 3}</v></c>""" +
        s"""<c r="B$r"><v>${(i * 31 + r * 7) % 1000}</v></c>""" +
        s"""<c r="C$r" t="inlineStr"><is><t>note_${i}_$r</t></is></c></row>"""
    }.mkString
    s"""<?xml version="1.0"?><worksheet><sheetData>$rows</sheetData></worksheet>"""
  }

  private def sstXml(i: Int): String = {
    val sis = (0 until 3)
      .map(k => s"<si><t>client_${(i * 7 + k) % 5}</t></si>").mkString
    s"""<?xml version="1.0"?><sst count="3" uniqueCount="3">$sis</sst>"""
  }

  /** One workbook as zip bytes; `stored = false` packs the same parts
    * with DEFLATE (XlsxSpec's codec-completeness variant). */
  def workbookBytes(i: Int, stored: Boolean = true): Array[Byte] =
    Xlsx.zipBytes(Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""",
      "xl/workbook.xml" ->
        """<?xml version="1.0"?><workbook><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>""",
      "xl/sharedStrings.xml" -> sstXml(i),
      "xl/worksheets/sheet1.xml" -> sheetXml(i)),
      stored)

  /** Build the fixture if missing; returns [[path]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"wb_$i%03d.xlsx").toPath, workbookBytes(i))
    }
  }
}
