package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** One extracted PDF page: the page's text (every string literal shown
  * by a `Tj`/`TJ` text op, escape-decoded, in stream order), the literal
  * count, and the content stream's declared length — the projection a
  * document-ingest stage feeds into the text family. */
final case class PdfPage(file_name: String, page: Int, text: String,
                         n_lits: Int, stream_bytes: Long)

/** Minimal-but-REAL PDF text extraction (ISO 32000 subset): the
  * document format enterprise corpora arrive in next to .docx/.xlsx
  * (the reference's RFP library is exactly such a corpus). The walk is
  * the real file structure, not a grep: `startxref` → the cross-reference
  * section — a classic `xref` TABLE (PDF 1.0–1.4, multi-subsection) or a
  * cross-reference STREAM with /ObjStm member extraction (PDF 1.5+, ISO
  * 32000 §7.5.7-8, including the /DecodeParms PNG predictors real
  * writers emit by default) — then the `/Prev` incremental-update chain
  * newest-to-oldest (ISO 32000 §7.5.6: an update APPENDS changed
  * objects plus a new xref whose /Prev points at the prior section;
  * newer entries shadow older ones, including type-0 frees, which is
  * how a PDF deletes an object without rewriting the file) — → objects
  * located AT THEIR XREF OFFSETS (each validated against
  * the `N 0 obj` header it points at) → trailer `/Root` → Catalog →
  * `/Pages` → `/Kids` in page order → each page's `/Contents` stream by
  * declared `/Length` (mismatch refuses) → a token-level content-stream
  * scan that collects string literals bound to `Tj` and `[...] TJ` text
  * operators, decoding the string-escape grammar (\\ \( \) \n \r \t \b
  * \f, octal \ddd, line continuations). The `/Filter` chain decodes as
  * a left-to-right fold (r17): FlateDecode through `java.util.zip`
  * (the xlsx codec's machinery; PdfSpec proves plain ≡ deflate on
  * identical pages), ASCIIHexDecode, ASCII85Decode, LZWDecode (TIFF
  * variant, /EarlyChange both values) and RunLengthDecode — the full
  * text-transport family, arbitrary cascades included; image-codec
  * filters (DCT/JBIG2/JPX/CCITT) refuse by name.
  *
  * Oracle discipline: the gate fixture is written UNCOMPRESSED with
  * ASCII literals (both legal), so DuckDB re-walks the same bytes in the
  * string domain — object bodies by regex, kids order, per-page literal
  * extraction — while the engine parses the general structure (offsets,
  * lengths, filters). Loud-failure contract as everywhere: bad xref
  * offset, missing endstream, /Length mismatch, or an unterminated
  * literal refuses with the offset. */
object Pdf {

  private val L1 = java.nio.charset.StandardCharsets.ISO_8859_1

  /** One cross-reference entry, the unit the /Prev merge shadows:
    * free (type 0), offset-located (type 1), or inside an /ObjStm
    * (type 2). Kept as a sum type so a NEWER free entry can DELETE an
    * older in-use object in the merge — mapping free to "absent" would
    * let the older section's entry leak back through. */
  private sealed trait XrefEntry
  private case object XFree extends XrefEntry
  private final case class XOff(off: Int) extends XrefEntry
  private final case class XInStm(stm: Int, idx: Int) extends XrefEntry

  /** Parse one PDF into its page rows. `raw` is indexed through an
    * ISO-8859-1 string so char positions ARE byte positions. */
  private[graft] def parse(name: String, raw: Array[Byte]): Seq[PdfPage] = {
    val s = new String(raw, L1)
    require(s.startsWith("%PDF-"), s"$name: no %PDF- header")
    // startxref: the LAST occurrence (incremental updates append)
    val sx = s.lastIndexOf("startxref")
    require(sx >= 0, s"$name: no startxref")
    val xrefPos = s.substring(sx + 9).trim.takeWhile(_.isDigit).toInt
    // PDF 1.0–1.4: a classic `xref` TABLE. PDF 1.5+: a cross-reference
    // STREAM (`N 0 obj` whose dict is /Type /XRef — VERDICT r15 #4).
    // Both resolve to the same facts: per-object entries (free / byte
    // offset / object-stream slot), the trailer dict carrying /Root
    // (classic files keep a `trailer` keyword; xref streams carry the
    // trailer keys in their own dict), and an optional /Prev link to
    // the previous section. The chain walks newest → oldest from the
    // LAST startxref; the merge folds oldest-first so newer entries
    // shadow older ones (a newer type-0 free DELETES the object).
    val sections =
      scala.collection.mutable.ListBuffer.empty[(Map[Int, XrefEntry], String)]
    var cur: Option[Int] = Some(xrefPos)
    val visited = scala.collection.mutable.Set.empty[Int]
    while (cur.isDefined) {
      val p = cur.get
      require(p >= 0 && p < s.length, s"$name: xref offset $p out of file")
      require(visited.add(p),
        s"$name: /Prev xref chain revisits offset $p (cycle)")
      require(visited.size <= 64,
        s"$name: /Prev xref chain longer than 64 sections")
      val (m, tr, prev) =
        if (s.startsWith("xref", p)) parseXrefTable(name, s, p)
        else parseXrefStream(name, s, raw, p)
      sections += ((m, tr))
      cur = prev
    }
    val merged = sections.reverse
      .foldLeft(Map.empty[Int, XrefEntry])(_ ++ _._1)
    val trailer: String = sections.head._2
    val offsets: Map[Int, Int] =
      merged.collect { case (n, XOff(o)) => n -> o }
    val inStm: Map[Int, (Int, Int)] =
      merged.collect { case (n, XInStm(st, ix)) => n -> (st, ix) }
    def ref(dict: String, key: String): Int = {
      val m = (java.util.regex.Pattern.quote(key) + "\\s+(\\d+)\\s+0\\s+R").r
        .findFirstMatchIn(dict)
      require(m.isDefined, s"$name: no $key reference")
      m.get.group(1).toInt
    }
    // decoded /ObjStm payloads, one inflate per stream per file
    val stmCache =
      scala.collection.mutable.Map.empty[Int, (Seq[(Int, Int)], Int, String)]
    /** Object n's body: offset-located and header-validated (the real
      * xref contract) for type-1 entries; extracted from its /ObjStm
      * member slot (header pair validated) for type-2 entries. */
    def body(n: Int): String = {
      val off = offsets.getOrElse(n, -1)
      if (off >= 0) {
        require(s.startsWith(s"$n 0 obj", off),
          s"$name: xref offset $off does not hold object $n")
        val end = s.indexOf("endobj", off)
        require(end > off, s"$name: object $n has no endobj")
        s.substring(off, end)
      } else inStm.get(n) match {
        case Some((stm, idx)) =>
          val (pairs, first, data) = stmCache.getOrElseUpdate(stm, {
            val so = offsets.getOrElse(stm, -1)
            require(so >= 0 && s.startsWith(s"$stm 0 obj", so),
              s"$name: object stream $stm is not offset-located")
            val dictEnd = s.indexOf("stream", so)
            require(dictEnd > so, s"$name: object stream $stm has no stream")
            val dict = s.substring(so, dictEnd)
            require("/Type\\s*/ObjStm".r.findFirstIn(dict).isDefined,
              s"$name: object $stm is not /Type /ObjStm")
            val nM = "/N\\s+(\\d+)".r.findFirstMatchIn(dict)
            val fM = "/First\\s+(\\d+)".r.findFirstMatchIn(dict)
            require(nM.isDefined && fM.isDefined,
              s"$name: object stream $stm missing /N or /First")
            val payload = new String(streamData(name, s, raw, so), L1)
            val firstOff = fM.get.group(1).toInt
            require(firstOff <= payload.length,
              s"$name: object stream $stm /First $firstOff overruns payload")
            val nums = "\\d+".r.findAllIn(payload.substring(0, firstOff))
              .map(_.toInt).toSeq
            require(nums.length == 2 * nM.get.group(1).toInt,
              s"$name: object stream $stm header has ${nums.length} ints, " +
                s"expected ${2 * nM.get.group(1).toInt}")
            (nums.grouped(2).map(p => (p(0), p(1))).toSeq, firstOff, payload)
          })
          require(idx < pairs.length,
            s"$name: object $n slot $idx out of range in object stream $stm")
          require(pairs(idx)._1 == n,
            s"$name: object stream $stm slot $idx holds object " +
              s"${pairs(idx)._1}, not $n")
          val bStart = first + pairs(idx)._2
          val bEnd = if (idx + 1 < pairs.length) first + pairs(idx + 1)._2
            else data.length
          require(bStart <= bEnd && bEnd <= data.length,
            s"$name: object stream $stm member $idx spans [$bStart,$bEnd) " +
              s"outside payload of ${data.length}")
          data.substring(bStart, bEnd)
        case None => sys.error(s"$name: object $n not in xref")
      }
    }
    /** Resolve an integer-valued indirect object (the `/Length 5 0 R`
      * shape real writers emit for content streams routinely — the
      * stream is written before its length is known, then the integer
      * lands in a separate object). Works for offset-located and
      * ObjStm-member integers alike via [[body]]; refuses loudly on a
      * non-integer body. */
    def intObj(n: Int): Int = {
      val t = body(n).trim
      val t2 = "^\\d+ 0 obj".r.findFirstIn(t)
        .map(h => t.substring(h.length)).getOrElse(t).trim
      require(t2.nonEmpty && t2.forall(_.isDigit),
        s"$name: indirect /Length object $n is not an integer: '$t2'")
      t2.toInt
    }
    val catalog = body(ref(trailer, "/Root"))
    val pagesObj = body(ref(catalog, "/Pages"))
    val kids = "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(pagesObj)
    require(kids.isDefined, s"$name: page tree has no /Kids")
    val pageNums = "(\\d+)\\s+0\\s+R".r.findAllMatchIn(kids.get.group(1))
      .map(_.group(1).toInt).toSeq
    require(pageNums.nonEmpty, s"$name: empty /Kids")
    /** Read ONE content stream object: (decoded content, declared
      * length). Shared by the single-ref and array /Contents forms. */
    def readContent(cObjNum: Int): (String, Int) = {
      // streams may not live inside an /ObjStm (ISO 32000 §7.5.7), so a
      // /Contents target must be offset-located — refuse otherwise
      val cOff = offsets.getOrElse(cObjNum, -1)
      require(cOff >= 0 && s.startsWith(s"$cObjNum 0 obj", cOff),
        s"$name: bad /Contents object $cObjNum (content streams must be " +
          "top-level offset-located objects)")
      val cDictEnd = s.indexOf("stream", cOff)
      require(cDictEnd > cOff, s"$name: content object $cObjNum has no stream")
      val cDict = s.substring(cOff, cDictEnd)
      val lenM =
        "/Length\\s+(\\d+)(?:\\s+(\\d+)\\s+R)?".r.findFirstMatchIn(cDict)
      require(lenM.isDefined, s"$name: content object $cObjNum has no /Length")
      // direct integer, or the indirect `/Length n 0 R` real writers
      // emit when the stream is serialized before its length is known;
      // a NON-ZERO generation must refuse by name, not fall through to
      // reading the object number as the length (review r16)
      val len = lenM.get.group(2) match {
        case null => lenM.get.group(1).toInt
        case "0" => intObj(lenM.get.group(1).toInt)
        case g => sys.error(s"$name: /Length ${lenM.get.group(1)} $g R " +
          "has a non-zero generation (unsupported)")
      }
      var dStart = cDictEnd + 6
      require(dStart < s.length,
        s"$name: truncated after stream keyword at $dStart")
      if (s.charAt(dStart) == '\r') dStart += 1
      require(dStart < s.length && s.charAt(dStart) == '\n',
        s"$name: no EOL after stream keyword at $dStart")
      dStart += 1
      require(dStart + len <= raw.length,
        s"$name: /Length $len overruns the file")
      val tail = s.substring(dStart + len)
      require(tail.startsWith("\nendstream") || tail.startsWith("\r\nendstream")
        || tail.startsWith("endstream"),
        s"$name: declared /Length $len does not land on endstream " +
          s"(object $cObjNum)")
      val streamBytes = java.util.Arrays.copyOfRange(raw, dStart, dStart + len)
      val content =
        decodeFilters(name, cDict, streamBytes, s"content object $cObjNum")
      (new String(content, L1), len)
    }
    pageNums.zipWithIndex.map { case (pn, idx) =>
      val page = body(pn)
      // /Contents is a single reference OR an array of them (ISO 32000
      // §7.7.3.3 — Word-style writers split page content into several
      // streams routinely; §7.8.2: the array forms ONE logical content
      // stream, streams concatenated with whitespace between, tokens
      // never spanning a boundary)
      val cRefs: Seq[Int] =
        "/Contents\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(page) match {
          case Some(m) =>
            val ns = "(\\d+)\\s+0\\s+R".r.findAllMatchIn(m.group(1))
              .map(_.group(1).toInt).toSeq
            require(ns.nonEmpty, s"$name: empty /Contents array")
            ns
          case None => Seq(ref(page, "/Contents"))
        }
      val parts = cRefs.map(readContent)
      val (text, nLits) =
        extractText(name, parts.map(_._1).mkString("\n"))
      PdfPage(name, idx + 1, text, nLits,
        parts.map(_._2.toLong).sum)
    }
  }

  /** Classic cross-reference TABLE section (ISO 32000 §7.5.4): the
    * `xref` keyword, one or more `start count` subsections of 20-byte
    * entries (updates carry several — one per changed object run), then
    * `trailer` with the dict, bounded by the section's OWN `startxref`
    * (an updated file has one per section, so the global last one would
    * overrun). Returns (entries, trailer dict, /Prev offset). */
  private def parseXrefTable(name: String, s: String, pos: Int)
      : (Map[Int, XrefEntry], String, Option[Int]) = {
    val m = scala.collection.mutable.Map.empty[Int, XrefEntry]
    var p = s.indexOf('\n', pos + 4)
    require(p >= 0, s"$name: xref table at $pos has no subsection line")
    p += 1
    val subRe = "^(\\d+) (\\d+)$".r
    var nSub = 0
    var done = false
    while (!done) {
      val lineEnd = s.indexOf('\n', p)
      require(lineEnd >= 0, s"$name: unterminated xref table at $p")
      s.substring(p, lineEnd).trim match {
        case subRe(f, c) =>
          val first = f.toInt; val count = c.toInt
          p = lineEnd + 1
          require(p + 20 * count <= s.length,
            s"$name: xref subsection $first $count truncated at $p")
          (0 until count).foreach { k =>
            val e = s.substring(p + 20 * k, p + 20 * (k + 1))
            m(first + k) =
              if (e(17) == 'n') XOff(e.substring(0, 10).toInt) else XFree
          }
          p += 20 * count
          nSub += 1
        case _ => done = true
      }
    }
    require(nSub > 0, s"$name: xref table at $pos has no subsections")
    require(s.startsWith("trailer", p),
      s"$name: xref table at $pos not followed by trailer")
    val sxHere = s.indexOf("startxref", p)
    require(sxHere > p, s"$name: xref section at $pos has no startxref")
    val trailer = s.substring(p, sxHere)
    val prev = "/Prev\\s+(\\d+)".r.findFirstMatchIn(trailer)
      .map(_.group(1).toInt)
    (m.toMap, trailer, prev)
  }

  /** PDF 1.5 cross-reference STREAM (ISO 32000 §7.5.8): startxref lands
    * on `N 0 obj` whose dict is /Type /XRef; entries are fixed-width
    * binary rows (/W field widths, big-endian), subsection layout from
    * /Index (default [0 /Size]), trailer keys (/Root, /Size, /Prev) in
    * the SAME dict. Row types: 0 = free, 1 = (offset, gen), 2 = (object
    * stream number, index within it). /DecodeParms PNG predictors
    * (10–15, the Predictor-12 shape real writers emit by default) are
    * un-filtered per ISO 32000 §7.4.4.4 after FlateDecode; /Columns
    * must equal the /W row width and /Colors//BitsPerComponent their
    * 1/8 defaults, or the parse refuses loudly. Still refused: TIFF
    * Predictor 2, entry types > 2 — refuse-rather-than-misparse. */
  private def parseXrefStream(name: String, s: String, raw: Array[Byte],
      pos: Int): (Map[Int, XrefEntry], String, Option[Int]) = {
    require("^\\d+ 0 obj".r.findFirstIn(
      s.substring(pos, math.min(pos + 32, s.length))).isDefined,
      s"$name: startxref $pos points at neither an xref table nor an object")
    val dictEnd = s.indexOf("stream", pos)
    require(dictEnd > pos, s"$name: xref object at $pos has no stream")
    val dict = s.substring(pos, dictEnd)
    require("/Type\\s*/XRef".r.findFirstIn(dict).isDefined,
      s"$name: object at startxref $pos is not /Type /XRef")
    val wm = "/W\\s*\\[\\s*(\\d+)\\s+(\\d+)\\s+(\\d+)\\s*\\]".r
      .findFirstMatchIn(dict)
    require(wm.isDefined, s"$name: xref stream has no /W")
    val (w1, w2, w3) = (wm.get.group(1).toInt, wm.get.group(2).toInt,
      wm.get.group(3).toInt)
    require(w1 <= 4 && w2 <= 4 && w3 <= 4,
      s"$name: xref /W fields [$w1 $w2 $w3] too wide")
    val sizeM = "/Size\\s+(\\d+)".r.findFirstMatchIn(dict)
    require(sizeM.isDefined, s"$name: xref stream has no /Size")
    val index: Seq[(Int, Int)] =
      "/Index\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(dict) match {
        case Some(m) =>
          val ns = "\\d+".r.findAllIn(m.group(1)).map(_.toInt).toSeq
          require(ns.length % 2 == 0, s"$name: odd-length /Index")
          ns.grouped(2).map(p => (p(0), p(1))).toSeq
        case None => Seq((0, sizeM.get.group(1).toInt))
      }
    val rw = w1 + w2 + w3
    val data = decodeParms(name, dict, rw, streamData(name, s, raw, pos))
    require(rw > 0 && data.length == index.map(_._2).sum * rw,
      s"$name: xref stream data is ${data.length} bytes, expected " +
        s"${index.map(_._2).sum} rows of $rw")
    def field(row: Int, off: Int, len: Int, dflt: Long): Long =
      if (len == 0) dflt
      else (0 until len).foldLeft(0L)((a, k) =>
        (a << 8) | (data(row * rw + off + k) & 0xffL))
    val entB = scala.collection.mutable.Map.empty[Int, XrefEntry]
    var row = 0
    for ((start, n) <- index; k <- 0 until n) {
      val obj = start + k
      // a zero-width type field defaults to 1 (ISO 32000 table 17)
      field(row, 0, w1, 1L) match {
        case 0L => entB(obj) = XFree
        case 1L => entB(obj) = XOff(field(row, w1, w2, 0L).toInt)
        case 2L => entB(obj) = XInStm(field(row, w1, w2, 0L).toInt,
          field(row, w1 + w2, w3, 0L).toInt)
        case t => sys.error(
          s"$name: xref entry type $t for object $obj unsupported")
      }
      row += 1
    }
    val prev = "/Prev\\s+(\\d+)".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt)
    (entB.toMap, dict, prev)
  }

  /** Apply the xref stream's /DecodeParms, if any, to its decoded
    * bytes: the PNG predictors (ISO 32000 §7.4.4.4, values 10–15 — all
    * decode identically, the per-ROW filter byte picks the algorithm;
    * Predictor 12 "Up" is what real writers emit) un-filter rows of
    * /Columns bytes each prefixed by one filter-type byte. /Columns
    * must equal the /W row width `rw`, and /Colors 1 /
    * /BitsPerComponent 8 (their defaults) are the only supported shape
    * — anything else refuses loudly, as does TIFF Predictor 2. */
  private def decodeParms(name: String, dict: String, rw: Int,
      raw0: Array[Byte]): Array[Byte] = {
    val dpM = "/DecodeParms\\s*<<([^>]*)>>".r.findFirstMatchIn(dict)
    if (dpM.isEmpty) return raw0
    val dp = dpM.get.group(1)
    def num(key: String, dflt: Int): Int =
      (java.util.regex.Pattern.quote(key) + "\\s+(\\d+)").r
        .findFirstMatchIn(dp).map(_.group(1).toInt).getOrElse(dflt)
    val pred = num("/Predictor", 1)
    if (pred == 1) return raw0
    require(pred >= 10 && pred <= 15,
      s"$name: xref /Predictor $pred unsupported (PNG 10-15 only)")
    val colors = num("/Colors", 1)
    val bpc = num("/BitsPerComponent", 8)
    require(colors == 1 && bpc == 8,
      s"$name: xref predictor /Colors $colors /BitsPerComponent $bpc " +
        "unsupported (8-bit single-component only)")
    val cols = num("/Columns", 1)
    require(cols == rw,
      s"$name: xref predictor /Columns $cols != /W row width $rw")
    unfilterPng(name, raw0, cols)
  }

  /** PNG row un-filtering (RFC 2083 §6) at bpp=1 — the shape PDF xref
    * streams use. Input is rows of (1 filter byte + `cols` data bytes);
    * output the reconstructed rows. All five filter types decode;
    * anything else refuses with the row. */
  private[graft] def unfilterPng(name: String, d: Array[Byte],
      cols: Int): Array[Byte] = {
    require(cols > 0, s"$name: PNG predictor with /Columns $cols")
    require(d.length % (cols + 1) == 0,
      s"$name: predictor data ${d.length} bytes is not rows of ${cols + 1}")
    val rows = d.length / (cols + 1)
    val out = new Array[Byte](rows * cols)
    var r = 0
    while (r < rows) {
      val ft = d(r * (cols + 1)) & 0xff
      var i = 0
      while (i < cols) {
        val x = d(r * (cols + 1) + 1 + i) & 0xff
        val a = if (i > 0) out(r * cols + i - 1) & 0xff else 0
        val b = if (r > 0) out((r - 1) * cols + i) & 0xff else 0
        val c = if (r > 0 && i > 0) out((r - 1) * cols + i - 1) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) / 2)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case t =>
            sys.error(s"$name: PNG filter type $t at row $r unsupported")
        }
        out(r * cols + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** The decoded bytes of the stream belonging to the object whose
    * header starts at `objOff`: /Length octets after the `stream` EOL,
    * landing exactly on `endstream`, FlateDecode'd when the dict says
    * so — the walk the xref-stream and /ObjStm paths share. */
  private def streamData(name: String, s: String, raw: Array[Byte],
      objOff: Int): Array[Byte] = {
    val dictEnd = s.indexOf("stream", objOff)
    require(dictEnd > objOff, s"$name: object at $objOff has no stream")
    val dict = s.substring(objOff, dictEnd)
    val lenM =
      "/Length\\s+(\\d+)(?:\\s+\\d+\\s+R)?".r.findFirstMatchIn(dict)
    require(lenM.isDefined,
      s"$name: stream object at $objOff has no /Length")
    // xref stream dict keys shall be direct objects (ISO 32000 §7.5.8),
    // and resolving an ObjStm's indirect length could recurse through
    // the ObjStm being opened — refuse BY NAME (any generation) rather
    // than misparse the object number as the length (the pre-r16 regex
    // did exactly that)
    require(!lenM.get.matched.endsWith("R"),
      s"$name: stream object at $objOff has an indirect /Length " +
        "(unsupported for xref/object streams)")
    val len = lenM.get.group(1).toInt
    var dStart = dictEnd + 6
    require(dStart < s.length,
      s"$name: truncated after stream keyword at $dStart")
    if (s.charAt(dStart) == '\r') dStart += 1
    require(dStart < s.length && s.charAt(dStart) == '\n',
      s"$name: no EOL after stream keyword at $dStart")
    dStart += 1
    require(dStart + len <= raw.length,
      s"$name: /Length $len overruns the file")
    val tail = s.substring(dStart + len,
      math.min(dStart + len + 12, s.length))
    require(tail.startsWith("\nendstream") || tail.startsWith("\r\nendstream")
      || tail.startsWith("endstream"),
      s"$name: declared /Length $len does not land on endstream " +
        s"(object at $objOff)")
    val bytes = java.util.Arrays.copyOfRange(raw, dStart, dStart + len)
    decodeFilters(name, dict, bytes, s"stream object at $objOff")
  }

  /** Apply the stream dict's /Filter chain (ISO 32000 §7.3.8.2: name
    * or array form; an array names filters in the order they shall be
    * applied to DECODE — the reverse of encoding order — so decode
    * runs left-to-right). Supported: no filter, /FlateDecode,
    * /ASCIIHexDecode, and the `[/ASCIIHexDecode /FlateDecode]` pair
    * older writers emit for binary-safe transport. ANY other filter
    * name refuses loudly — the pre-r17 helper returned a single
    * non-Flate filter's still-encoded bytes raw into the text
    * interpreter, a silent misparse (ADVICE r16). */
  private def decodeFilters(name: String, dict: String, bytes: Array[Byte],
                            where: String): Array[Byte] = {
    val filters: List[String] =
      "/Filter\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(dict) match {
        case Some(m) =>
          "/(\\w+)".r.findAllMatchIn(m.group(1)).map(_.group(1)).toList
        case None =>
          "/Filter\\s*/(\\w+)".r.findFirstMatchIn(dict)
            .map(_.group(1)).toList
      }
    // r17: the text-transport filters compose arbitrarily per spec, so
    // the chain is a left-to-right fold over the supported decoders
    // ([/ASCII85Decode /LZWDecode] was THE classic pre-Flate combo);
    // any unsupported name refuses loudly
    val earlyChange =
      "/EarlyChange\\s+(\\d+)".r.findFirstMatchIn(dict)
        .map(_.group(1).toInt).getOrElse(1)
    filters.foldLeft(bytes) { (acc, f) =>
      f match {
        case "FlateDecode"     => inflate(name, acc)
        case "ASCIIHexDecode"  => asciiHex(name, acc, where)
        case "ASCII85Decode"   => ascii85(name, acc, where)
        case "LZWDecode"       => lzw(name, acc, where, earlyChange)
        case "RunLengthDecode" => runLength(name, acc, where)
        case other => sys.error(s"$name: filter /$other unsupported " +
          s"(chain ${filters.map("/" + _).mkString(" ")}, $where)")
      }
    }
  }

  /** LZWDecode (ISO 32000 §7.4.4: the TIFF LZW variant): 9-bit codes
    * packed MSB-first, Clear=256 resets the table and width, EOD=257;
    * the width grows at table sizes 511/1023/2047 when /EarlyChange=1
    * (the default — "one code early"), 512/1024/2048 when 0. The KwKwK
    * case (code == next table slot) reconstructs prev+prev[0]. Loud
    * refusals: truncation before EOD, out-of-table codes, table
    * overflow without a Clear — and a wrong width rule MISALIGNS the
    * bit stream into out-of-table codes within a few reads, so the
    * failure mode of a disagreeing writer is loud, not silent. */
  private def lzw(name: String, b: Array[Byte], where: String,
                  earlyChange: Int): Array[Byte] = {
    require(earlyChange == 0 || earlyChange == 1,
      s"$name: /EarlyChange $earlyChange out of spec ($where)")
    val out = new java.io.ByteArrayOutputStream(b.length * 3)
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var i = 0
    var done = false
    while (!done) {
      while (bitCnt < width && i < b.length) {
        bitBuf = (bitBuf << 8) | (b(i) & 0xff); bitCnt += 8; i += 1
      }
      require(bitCnt >= width,
        s"$name: LZW stream truncated before EOD ($where)")
      val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
      bitCnt -= width
      if (code == 256) { dictSize = 258; width = 9; prev = null }
      else if (code == 257) done = true
      else {
        val entry: Array[Byte] =
          if (code < 256) Array(code.toByte)
          else if (code >= 258 && code < dictSize && dict(code) != null)
            dict(code)
          else if (code == dictSize && prev != null) prev :+ prev(0)
          else sys.error(s"$name: LZW code $code outside the table " +
            s"(size $dictSize) at input byte $i ($where)")
        out.write(entry, 0, entry.length)
        if (prev != null) {
          require(dictSize < 4096,
            s"$name: LZW table overflow without a Clear ($where)")
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        prev = entry
        if (width < 12 && dictSize + earlyChange >= (1 << width)) width += 1
      }
    }
    out.toByteArray
  }

  /** RunLengthDecode (ISO 32000 §7.4.5): length byte L — 0..127 copies
    * the next L+1 bytes literally, 129..255 repeats the next byte
    * 257−L times, 128 is EOD (required). */
  private def runLength(name: String, b: Array[Byte],
                        where: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length * 2)
    var i = 0
    var done = false
    while (!done) {
      require(i < b.length,
        s"$name: RunLength data missing the 128 EOD ($where)")
      val l = b(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        require(i + l + 1 <= b.length,
          s"$name: RunLength literal run of ${l + 1} overruns at $i ($where)")
        out.write(b, i, l + 1)
        i += l + 1
      } else {
        require(i < b.length,
          s"$name: RunLength repeat run missing its byte at $i ($where)")
        var k = 0
        while (k < 257 - l) { out.write(b(i) & 0xff); k += 1 }
        i += 1
      }
    }
    out.toByteArray
  }

  /** ASCII85Decode (ISO 32000 §7.4.3): 5 chars `!`..`u` encode 4 bytes
    * base-85 big-endian; a lone `z` encodes 4 zero bytes (illegal
    * mid-group); whitespace ignored; `~>` is the required EOD; a final
    * partial group of n chars (n ≥ 2) encodes n−1 bytes (padded with
    * `u` = 84, surplus output dropped); a single leftover char, a group
    * overflowing 2^32−1, or any other byte refuses loudly. */
  private def ascii85(name: String, b: Array[Byte],
                      where: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var k = 0
    var i = 0
    var eod = false
    def flush(n: Int): Unit = {
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + (if (j < n) grp(j) else 84); j += 1 }
      require(v <= 0xffffffffL,
        s"$name: ASCII85 group overflows 32 bits at $i ($where)")
      val bs = Array((v >> 24).toInt, (v >> 16).toInt, (v >> 8).toInt,
        v.toInt)
      var m = 0
      while (m < (if (n == 5) 4 else n - 1)) {
        out.write(bs(m) & 0xff); m += 1
      }
    }
    while (i < b.length && !eod) {
      val c = b(i) & 0xff
      if (c == '~') {
        require(i + 1 < b.length && b(i + 1) == '>',
          s"$name: malformed ASCII85 EOD at $i ($where)")
        eod = true
        i += 1
      } else if (c == 'z') {
        require(k == 0, s"$name: 'z' inside an ASCII85 group at $i ($where)")
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (c >= '!' && c <= 'u') {
        grp(k) = c - '!'; k += 1
        if (k == 5) { flush(5); k = 0 }
      } else if (!(c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
          c == '\f' || c == 0)) {
        sys.error(s"$name: invalid ASCII85 byte 0x${c.toHexString} " +
          s"at $i ($where)")
      }
      i += 1
    }
    require(eod, s"$name: ASCII85 data missing the ~> EOD ($where)")
    while (i < b.length) {
      require(b(i) == 0 || (b(i) & 0xff).toChar.isWhitespace,
        s"$name: data after the ASCII85 EOD marker ($where)")
      i += 1
    }
    if (k > 0) {
      require(k >= 2,
        s"$name: single trailing ASCII85 char before EOD ($where)")
      flush(k)
    }
    out.toByteArray
  }

  /** ASCIIHexDecode (ISO 32000 §7.4.2): hex pairs, whitespace ignored,
    * `>` is EOD (required; data after it refuses), an odd trailing
    * digit is padded with 0; any other character refuses loudly. */
  private def asciiHex(name: String, b: Array[Byte],
                       where: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length / 2)
    var hi = -1
    var i = 0
    var eod = false
    while (i < b.length && !eod) {
      val c = b(i) & 0xff
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c == '>') { eod = true; -1 }
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
                 c == '\f' || c == 0) -1
        else sys.error(s"$name: non-hex byte 0x${c.toHexString} in " +
          s"ASCIIHexDecode data ($where)")
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.write(hi << 4 | d); hi = -1 }
      }
      i += 1
    }
    require(eod, s"$name: ASCIIHexDecode data missing the > EOD ($where)")
    while (i < b.length) {
      require(b(i) == 0 || (b(i) & 0xff).toChar.isWhitespace,
        s"$name: data after the ASCIIHexDecode EOD marker ($where)")
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd final digit: pad with 0
    out.toByteArray
  }

  private def inflate(name: String, b: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(b)
    val out = new java.io.ByteArrayOutputStream(b.length * 4)
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      // DataFormatException carries no file context — re-refuse loudly
      val n = try inf.inflate(buf)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"$name: malformed FlateDecode stream (${e.getMessage})")
        }
      require(n > 0 || !inf.needsInput(),
        s"$name: truncated FlateDecode stream")
      require(!inf.needsDictionary(), s"$name: FDICT zlib stream unsupported")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** Content-stream text interpreter: collects string literals bound to
    * `Tj`, and every literal inside a `[...]` array closed by `TJ` —
    * both the `(...)` escape-grammar form and the `<...>` HEX form
    * (ISO 32000 §7.3.4.3: whitespace ignored, odd trailing digit padded
    * with 0; `<<` opens a dictionary, not a string).
    * Returns (concatenated text, literal count). */
  private[graft] def extractText(name: String, cs: String): (String, Int) = {
    val out = new StringBuilder
    var n = 0
    var i = 0
    var inArray = false
    val arrayLits = Seq.newBuilder[String]
    def parseLiteral(from: Int): (String, Int) = {
      val sb = new StringBuilder
      var j = from
      var depth = 1
      while (depth > 0) {
        require(j < cs.length, s"$name: unterminated string literal")
        cs.charAt(j) match {
          case '\\' =>
            require(j + 1 < cs.length, s"$name: dangling escape")
            cs.charAt(j + 1) match {
              case 'n' => sb.append('\n'); j += 2
              case 'r' => sb.append('\r'); j += 2
              case 't' => sb.append('\t'); j += 2
              case 'b' => sb.append('\b'); j += 2
              case 'f' => sb.append('\f'); j += 2
              case '\n' => j += 2 // line continuation
              case '\r' => // \<CR> and \<CR><LF> are continuations too
                // (ISO 32000 §7.3.4.2; ADVICE r14 — the default case
                // would have injected a spurious CR into page text)
                j += (if (j + 2 < cs.length && cs.charAt(j + 2) == '\n') 3
                      else 2)
              case d if d >= '0' && d <= '7' =>
                val oct = cs.substring(j + 1,
                  math.min(j + 4, cs.length)).takeWhile(c => c >= '0' && c <= '7')
                sb.append(Integer.parseInt(oct, 8).toChar); j += 1 + oct.length
              case c => sb.append(c); j += 2 // incl. \( \) \\
            }
          case '(' => depth += 1; sb.append('('); j += 1
          case ')' =>
            depth -= 1; if (depth > 0) sb.append(')'); j += 1
          case c => sb.append(c); j += 1
        }
      }
      (sb.toString, j)
    }
    def nextTokenIs(from: Int, tok: String): Boolean = {
      var j = from
      while (j < cs.length && cs.charAt(j).isWhitespace) j += 1
      cs.startsWith(tok, j) &&
        (j + tok.length == cs.length ||
          !cs.charAt(j + tok.length).isLetter)
    }
    while (i < cs.length) {
      cs.charAt(i) match {
        case '(' =>
          val (lit, after) = parseLiteral(i + 1)
          if (inArray) arrayLits += lit
          else if (nextTokenIs(after, "Tj")) { out.append(lit); n += 1 }
          // a literal bound to any other operator is not page text
          i = after
        case '<' =>
          if (i + 1 < cs.length && cs.charAt(i + 1) == '<') {
            i += 2 // dictionary open — consume BOTH chars so the second
                   // '<' cannot re-trigger as a hex-string open
          } else {
            // hex string literal
            val end = cs.indexOf('>', i + 1)
            require(end > i, s"$name: unterminated hex string at $i")
            val hx = cs.substring(i + 1, end).filterNot(_.isWhitespace)
            require(hx.forall(c => Character.digit(c, 16) >= 0),
              s"$name: non-hex digit in hex string at $i")
            val padded = if (hx.length % 2 == 1) hx + "0" else hx
            val lit = padded.grouped(2)
              .map(h => Integer.parseInt(h, 16).toChar).mkString
            if (inArray) arrayLits += lit
            else if (nextTokenIs(end + 1, "Tj")) { out.append(lit); n += 1 }
            i = end + 1
          }
        case '[' => inArray = true; arrayLits.clear(); i += 1
        case ']' =>
          inArray = false
          if (nextTokenIs(i + 1, "TJ")) {
            val ls = arrayLits.result()
            ls.foreach(out.append(_)); n += ls.length
          }
          arrayLits.clear()
          i += 1
        case _ => i += 1
      }
    }
    (out.toString, n)
  }

  /** Scan a binaryFile frame (path, content) of .pdf files into one row
    * per page — the mapPartitions codec slot; linear per-file, no
    * shuffle, parallel by file exactly like the WARC/xlsx scans. */
  def scanPdf(df: DataFrame): Dataset[PdfPage] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (name, bytes) => parse(name, bytes) })
  }
}

/** Deterministic on-disk PDF corpus: [[count]] uncompressed single-font
  * PDFs with REAL file structure — correct xref byte offsets, page tree,
  * per-page content streams with exact /Length — and ASCII literals so
  * the DuckDB oracle can re-extract the same text in the string domain
  * (PdfSpec proves FlateDecode completeness by re-packing these streams
  * compressed and asserting the identical parse). File i has
  * 1 + (i mod 4) pages; page p shows one escaped `Tj` literal and one
  * kerned two-literal `TJ` array, all fixed functions of (i, p). */
object PdfFixture {
  val count = 10

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_pdf_v3").getAbsolutePath

  def pagesOf(i: Int): Int = 1 + (i % 4)

  private val words = Array("annual", "report", "revenue", "segment",
    "outlook", "risk", "margin", "growth", "capital", "audit")

  /** The THREE text literals page (i, p) shows, pre-escape (what the
    * extractor must return). Literal 0 exercises the escape grammar. */
  def litsOf(i: Int, p: Int): Seq[String] = Seq(
    s"Doc $i (rev\\$p) page $p: ",
    (0 until (3 + (i + p) % 4)).map(w =>
      words((i * 5 + p * 3 + w * 7) % words.length)).mkString(" "),
    s" [end $i-$p]")

  def textOf(i: Int, p: Int): String = litsOf(i, p).mkString

  /** PDF-escape a literal for the content stream. */
  private def esc(lit: String): String =
    lit.flatMap {
      case '\\' => "\\\\"
      case '(' => "\\("
      case ')' => "\\)"
      case c => c.toString
    }

  /** Page (i, p)'s content stream (what /Length measures). */
  def contentOf(i: Int, p: Int): String = {
    val ls = litsOf(i, p)
    s"BT /F1 12 Tf 72 720 Td (${esc(ls(0))}) Tj 0 -14 Td " +
      s"[(${esc(ls(1))}) -250 (${esc(ls(2))})] TJ ET"
  }

  def pdfBytes(i: Int): Array[Byte] = {
    val np = pagesOf(i)
    val fontObj = 3 + 2 * np
    val kids = (0 until np).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    val bodies = Seq(
      1 -> s"<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count $np >>") ++
      (0 until np).flatMap { p =>
        val cs = contentOf(i, p)
        Seq(
          (3 + 2 * p) -> (s"<< /Type /Page /Parent 2 0 R " +
            s"/MediaBox [0 0 612 792] /Contents ${4 + 2 * p} 0 R " +
            s"/Resources << /Font << /F1 $fontObj 0 R >> >> >>"),
          (4 + 2 * p) -> (s"<< /Length ${cs.length} >>\nstream\n$cs" +
            "\nendstream"))
      } ++ Seq(
      fontObj -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = new Array[Int](fontObj + 1)
    bodies.foreach { case (n, b) =>
      offsets(n) = sb.length
      sb.append(s"$n 0 obj\n").append(b).append("\nendobj\n")
    }
    val xrefPos = sb.length
    sb.append(s"xref\n0 ${fontObj + 1}\n")
    sb.append("0000000000 65535 f \n")
    (1 to fontObj).foreach(n => sb.append(f"${offsets(n)}%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${fontObj + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefPos\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** File i re-authored as PDF 1.5 for the GATE (r15, the warc.gz
    * move): the dict-only objects (catalog, pages, page dicts, font)
    * live in one UNCOMPRESSED /ObjStm whose payload is a header line of
    * (objnum, offset) pairs followed by ONE DICT PER LINE — offsets are
    * exact, so the engine's member slicing is fully exercised, while
    * the payload stays in the string domain DuckDB can regex. Content
    * streams are top-level plain text. The cross-reference STREAM's
    * entry rows are genuinely BINARY ([1 4 2] field widths) — the
    * engine must parse them to locate anything; the oracle never needs
    * the xref (it re-walks objects from the bytes), and the xref object
    * sits LAST so the oracle can decode the ASCII prefix of the file
    * (the binary rows would break a whole-file decode). Page content
    * formulas are [[contentOf]] verbatim — same pages as the classic
    * twin, under the doc15 name. */
  def pdf15Bytes(i: Int): Array[Byte] = {
    val np = pagesOf(i)
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
    val out = new java.io.ByteArrayOutputStream()
    val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
    def w(str: String): Unit = out.write(str.getBytes(L1))
    w("%PDF-1.5\n")
    val offs = scala.collection.mutable.Map.empty[Int, Int]
    offs(objStmObj) = out.size()
    w(s"$objStmObj 0 obj\n<< /Type /ObjStm /N ${members.length} " +
      s"/First ${hdr.length} /Length ${payload.length} >>\nstream\n")
    w(payload)
    w("\nendstream\nendobj\n")
    (0 until np).foreach { p =>
      val cs = contentOf(i, p)
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
    w(s"$xrefObj 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Root 1 0 R /Length ${size * 7} >>\nstream\n")
    out.write(data.toByteArray)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** The literals page 0 shows AFTER the incremental update in
    * [[pdfPrevBytes]]'s docp framing — a revised first page, so a
    * reader that ignores the update (or walks the /Prev chain in the
    * wrong precedence order) extracts provably wrong text. Same
    * escape-grammar coverage as [[litsOf]]. */
  def litsV2Of(i: Int): Seq[String] = Seq(
    s"Doc $i (rev\\2) page 0: ",
    (0 until (3 + (i + 1) % 4)).map(w =>
      words((i * 7 + w * 5 + 3) % words.length)).mkString(" "),
    s" [end $i-0 r2]")

  def textV2Of(i: Int): String = litsV2Of(i).mkString

  /** Page 0's REPLACEMENT content stream, re-issued by the update. */
  def contentV2Of(i: Int): String = {
    val ls = litsV2Of(i)
    s"BT /F1 12 Tf 72 720 Td (${esc(ls(0))}) Tj 0 -14 Td " +
      s"[(${esc(ls(1))}) -250 (${esc(ls(2))})] TJ ET"
  }

  /** PNG Up-filter (type 2) each `rw`-byte row, then FlateDecode-pack:
    * the Predictor-12 xref-stream payload real PDF writers emit. */
  private def pngUpFlate(rows: Seq[Array[Byte]]): Array[Byte] = {
    val rw = rows.head.length
    val filtered = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](rw)
    rows.foreach { r =>
      require(r.length == rw, s"ragged xref row ${r.length} vs $rw")
      filtered.write(2)
      (0 until rw).foreach(k => filtered.write((r(k) - prev(k)) & 0xff))
      prev = r
    }
    val d = new java.util.zip.Deflater()
    d.setInput(filtered.toByteArray); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](512)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** One [1 4 2] xref-stream row. */
  private def xrow(t: Int, f2: Int, f3: Int): Array[Byte] =
    Array(t, (f2 >> 24) & 0xff, (f2 >> 16) & 0xff, (f2 >> 8) & 0xff,
      f2 & 0xff, (f3 >> 8) & 0xff, f3 & 0xff).map(_.toByte)

  /** File i re-authored the way real-world PDF 1.5+ writers emit it
    * (VERDICT r15 #2): the [[pdf15Bytes]] body (ObjStm members, plain
    * top-level content streams) but with the cross-reference stream
    * FlateDecode'd under /DecodeParms << /Predictor 12 /Columns 7 >>
    * (PNG Up-filtered rows — the near-universal writer default), PLUS
    * one genuine INCREMENTAL UPDATE appended after the base %%EOF: a
    * re-issued page-0 content object ([[contentV2Of]] — different text
    * and /Length) and a second Predictor-12 xref stream whose /Prev
    * points back at the base xref and whose /Index covers only the two
    * new objects. Newest-wins entry shadowing is therefore load-bearing:
    * reading the base section's entry for page 0 extracts the WRONG
    * text. Oracle walkability: both xref streams are binary, but every
    * OBJECT byte stays ASCII, and the two binary spans are excisable
    * from hex — [0, xref1off) and [first-%%EOF + 6, xref2off) are pure
    * ASCII windows (the generator asserts the hex-domain landmarks the
    * oracle navigates by, including that the first `%%EOF` occurrence
    * in the HEX string is the base trailer's, byte-aligned). */
  def pdfPrevBytes(i: Int): Array[Byte] = {
    val np = pagesOf(i)
    val fontObj = 3 + np
    def contentObj(p: Int) = 4 + np + p
    val objStmObj = 4 + 2 * np
    val xref1Obj = 5 + 2 * np
    val xref2Obj = 6 + 2 * np
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
    val out = new java.io.ByteArrayOutputStream()
    val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
    def w(str: String): Unit = out.write(str.getBytes(L1))
    w("%PDF-1.5\n")
    val offs = scala.collection.mutable.Map.empty[Int, Int]
    offs(objStmObj) = out.size()
    w(s"$objStmObj 0 obj\n<< /Type /ObjStm /N ${members.length} " +
      s"/First ${hdr.length} /Length ${payload.length} >>\nstream\n")
    w(payload)
    w("\nendstream\nendobj\n")
    (0 until np).foreach { p =>
      val cs = contentOf(i, p)
      offs(contentObj(p)) = out.size()
      w(s"${contentObj(p)} 0 obj\n<< /Length ${cs.length} >>\n" +
        s"stream\n$cs\nendstream\nendobj\n")
    }
    // --- base xref stream: Predictor-12 Flate, covers objects 0..size1
    val xref1Off = out.size()
    offs(xref1Obj) = xref1Off
    val size1 = xref1Obj + 1
    val slot = (Map(1 -> 0, 2 -> 1) ++
      (0 until np).map(p => (3 + p) -> (2 + p))) + (fontObj -> (np + 2))
    val rows1 = (0 until size1).map { n =>
      if (n == 0) xrow(0, 0, 65535)
      else if (slot.contains(n)) xrow(2, objStmObj, slot(n))
      else xrow(1, offs(n), 0)
    }
    val x1 = pngUpFlate(rows1)
    w(s"$xref1Obj 0 obj\n<< /Type /XRef /Size $size1 /W [1 4 2] " +
      s"/Root 1 0 R /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns 7 >> " +
      s"/Length ${x1.length} >>\nstream\n")
    out.write(x1)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xref1Off\n%%EOF\n")
    val baseEof = out.size() - 6 // byte offset of the base '%%EOF'
    // --- incremental update: page 0's content re-issued, then xref2
    val cs2 = contentV2Of(i)
    val co0Off = out.size()
    w(s"${contentObj(0)} 0 obj\n<< /Length ${cs2.length} >>\n" +
      s"stream\n$cs2\nendstream\nendobj\n")
    val xref2Off = out.size()
    val rows2 = Seq(xrow(1, co0Off, 0), xrow(1, xref2Off, 0))
    val x2 = pngUpFlate(rows2)
    w(s"$xref2Obj 0 obj\n<< /Type /XRef /Size ${xref2Obj + 1} " +
      s"/W [1 4 2] /Root 1 0 R /Prev $xref1Off " +
      s"/Index [${contentObj(0)} 1 $xref2Obj 1] /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns 7 >> " +
      s"/Length ${x2.length} >>\nstream\n")
    out.write(x2)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xref2Off\n%%EOF\n")
    val bytes = out.toByteArray
    // assert the hex-domain landmarks the oracle navigates by: the
    // FIRST '%%EOF' in the hex string must be the base trailer's and
    // byte-aligned (a Flate-coincidence earlier would derail the
    // oracle's window excision — refuse at generation, not at verify)
    val hx = bytes.map(b => f"${b & 0xff}%02X").mkString
    val eofHex = "%%EOF".getBytes(L1).map(b => f"$b%02X").mkString
    require(hx.indexOf(eofHex) == 2 * baseEof,
      s"docp_$i: first %%EOF hex landmark at ${hx.indexOf(eofHex)}, " +
        s"expected ${2 * baseEof} — xref Flate bytes collide, " +
        "adjust the fixture")
    require(new String(bytes, 0, xref1Off, L1).forall(_ < 128) &&
      new String(bytes, baseEof + 6, xref2Off - baseEof - 6, L1)
        .forall(_ < 128),
      s"docp_$i: oracle ASCII windows contain non-ASCII bytes")
    bytes
  }

  /** Build the fixture if missing; returns [[path]]. Race and versioning
    * contract: [[Checkpoints.buildOnce]]. v3:
    * every doc ships in THREE framings — classic doc_NNN.pdf, the
    * PDF 1.5 doc15_NNN.pdf (xref stream + ObjStm), and docp_NNN.pdf
    * ([[pdfPrevBytes]]: Predictor-12 Flate xref streams + a /Prev
    * incremental update) — so the gate covers the real-writer 1.5+
    * path, not just PdfSpec. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"doc_$i%03d.pdf").toPath, pdfBytes(i))
      java.nio.file.Files.write(
        new java.io.File(tmp, f"doc15_$i%03d.pdf").toPath, pdf15Bytes(i))
      java.nio.file.Files.write(
        new java.io.File(tmp, f"docp_$i%03d.pdf").toPath, pdfPrevBytes(i))
    }
  }
}
