package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** One decoded JPEG's header census (one row per file): everything here
  * lives in UNCOMPRESSED marker segments, so the DuckDB oracle re-reads
  * it with hex arithmetic through a recursive segment walk — the
  * WAV/BMP/PNG discipline applied to JPEG's self-delimiting container.
  * `samp` is the per-component sampling factors luma-first ("2x2,1x1,1x1"
  * = 4:2:0); `dqt_luma_sum` sums the 64 8-bit entries of quant table 0
  * (the quality knob's fingerprint); `entropy_bytes` is the scan-data
  * byte count between the FIRST SOS header and the EOI trailer (for a
  * progressive stream this spans the later scan headers too — the walk
  * on both sides stops at the first SOS by the same rule).
  * `progressive` marks SOF2 frames (r14 census, r15 full pixel decode
  * — see [[Jpeg]]'s scope
  * note); `n_scans` counts FF DA marker pairs — exactly the SOS count,
  * since T.81 byte-stuffs every 0xFF inside entropy data (a table
  * segment could in principle embed a literal FF DA, but no JDK/libjpeg
  * output does, and the gate compares the same bytes on both sides). */
final case class JpegMeta(file_name: String, width: Int, height: Int,
                          n_components: Int, samp: String, n_dqt: Int,
                          n_dht: Int, dqt_luma_sum: Long,
                          entropy_bytes: Long, n_segments: Int,
                          progressive: Boolean, n_scans: Int)

/** Baseline JPEG (ITU-T T.81) codec: a marker-segment walk feeding the
  * gate query (REAL header decode, hex-domain oracle) and a full
  * baseline-sequential pixel decoder — Huffman entropy decode, dequant,
  * IDCT, libjpeg-convention chroma upsampling and YCbCr→RGB — proven in
  * MultimodalSpec by round-tripping `javax.imageio`'s own encoder output
  * (the JDK ships an independent libjpeg-based codec; the PNG precedent).
  *
  * Reference anchor: the multimodal-column north star (BASELINE.json) —
  * image payloads decoded in-engine, not shelled out.
  *
  * Scope (loud-failure discipline, the BMP/PNG pattern): PIXEL decode
  * covers baseline (SOF0), extended-sequential (SOF1) and, since r15,
  * PROGRESSIVE (SOF2) Huffman streams — the full T.81 §G successive-
  * approximation ladder (DC first/refine, AC bands with EOB runs, the
  * §G.1.2.3 correction-bit walk), differentially proven against the
  * JDK decoder on real JDK-encoded SOF2 fixtures at the same ±1/±3
  * tolerances as baseline. Arithmetic coding, lossless and
  * hierarchical SOFs refuse with the marker name; 8-bit
  * samples; 1 or 3 components; sampling factors 1x1, the 2x2,1x1,1x1
  * of 4:2:0, the 2x1,1x1,1x1 of 4:2:2, or the 1x2,1x1,1x1 of 4:4:0
  * for the pixel path (anything else — e.g. 4:1:1 — refuses rather
  * than mis-renders). Restart intervals (DRI/RSTn) are handled —
  * byte-aligned, predictors reset, marker sequence checked. */
object Jpeg {

  /** Zigzag order: ZZ(k) = natural (row-major) index of zigzag position k. */
  private val ZZ = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26,
    33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56, 57,
    50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45, 38, 31,
    39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** One marker segment: (marker, payloadStart, payloadLen) — payload
    * excludes the 2 length bytes. The walk starts after SOI and stops AT
    * the SOS segment (entropy-coded data follows it; only RST/EOI/stuffed
    * markers are legal inside, which the bit reader handles). */
  private[graft] def segments(name: String,
                              b: Array[Byte]): Seq[(Int, Int, Int)] = {
    require(b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8,
      s"$name: missing SOI marker")
    val out = Seq.newBuilder[(Int, Int, Int)]
    var pos = 2
    var done = false
    while (!done) {
      require(pos + 4 <= b.length, s"$name: truncated at segment offset $pos")
      require(u8(b, pos) == 0xFF,
        s"$name: expected a marker at $pos, found byte ${u8(b, pos)}")
      val mk = u8(b, pos + 1)
      // standalone markers (RSTn, EOI, TEM) carry no length and are not
      // legal between SOI and SOS — refuse rather than misparse
      require(mk != 0xD9 && mk != 0x01 && !(mk >= 0xD0 && mk <= 0xD7),
        s"$name: standalone marker ${mk.toHexString} before SOS")
      val len = be16(b, pos + 2)
      require(len >= 2 && pos + 2 + len <= b.length,
        s"$name: segment ${mk.toHexString} at $pos has invalid length $len")
      out += ((mk, pos + 4, len - 2))
      pos += 2 + len
      if (mk == 0xDA) done = true
    }
    out.result()
  }

  /** Header census (the gate query's row). Everything is parsed for real
    * (multiple tables per DQT/DHT segment, 16-bit quant precision), and
    * unsupported shapes fail loudly. */
  private[graft] def parseMeta(name: String, b: Array[Byte]): JpegMeta = {
    val segs = segments(name, b)
    var w = 0; var h = 0; var samp = ""; var nComp = 0
    var nDqt = 0; var nDht = 0; var lumaSum = -1L
    var progressive = false
    for ((mk, p, len) <- segs) mk match {
      // baseline / extended-sequential / progressive SOF: the frame
      // header LAYOUT is identical — the census reads all three, and
      // the pixel path routes SOF2 to decodeProgressive (r15)
      case 0xC0 | 0xC1 | 0xC2 =>
        require(u8(b, p) == 8, s"$name: ${u8(b, p)}-bit samples unsupported")
        progressive = mk == 0xC2
        h = be16(b, p + 1); w = be16(b, p + 3); nComp = u8(b, p + 5)
        require(len == 6 + 3 * nComp, s"$name: SOF length $len for $nComp comps")
        samp = (0 until nComp).map { c =>
          val hv = u8(b, p + 7 + 3 * c)
          s"${hv >> 4}x${hv & 15}"
        }.mkString(",")
      case 0xDB => // DQT: one or more (pq/tq, values) tables
        var q = p
        while (q < p + len) {
          val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
          require(pq == 0 || pq == 1, s"$name: DQT precision $pq")
          val vals = (0 until 64).map { i =>
            if (pq == 0) u8(b, q + 1 + i).toLong
            else be16(b, q + 1 + 2 * i).toLong
          }
          if (tq == 0) lumaSum = vals.sum // last-wins, per T.81 replace rule
          nDqt += 1
          q += 1 + (if (pq == 0) 64 else 128)
        }
        require(q == p + len, s"$name: DQT segment over/under-run")
      case 0xC4 => // DHT: one or more (tc/th, counts, symbols) tables
        var q = p
        while (q < p + len) {
          val tot = (1 to 16).map(l => u8(b, q + l)).sum
          nDht += 1
          q += 17 + tot
        }
        require(q == p + len, s"$name: DHT segment over/under-run")
      case mk2 if mk2 >= 0xC3 && mk2 <= 0xCF && mk2 != 0xC4 && mk2 != 0xC8 =>
        throw new IllegalArgumentException(
          s"$name: SOF${mk2 - 0xC0} (lossless/arithmetic/hierarchical) unsupported")
      case _ => () // APPn/COM/DRI/SOS counted in n_segments only
    }
    require(w > 0 && h > 0, s"$name: missing SOF frame header")
    require(lumaSum >= 0, s"$name: missing quant table 0")
    val (_, sosP, sosLen) = segs.last
    require(segs.last._1 == 0xDA, s"$name: walk did not end at SOS")
    require(b.length >= sosP + sosLen + 2 &&
      u8(b, b.length - 2) == 0xFF && u8(b, b.length - 1) == 0xD9,
      s"$name: missing EOI trailer")
    var nScans = 0
    var i = 0
    while (i < b.length - 1) {
      if (u8(b, i) == 0xFF && u8(b, i + 1) == 0xDA) nScans += 1
      i += 1
    }
    JpegMeta(name, w, h, nComp, samp, nDqt, nDht, lumaSum,
      (b.length - 2) - (sosP + sosLen), segs.size, progressive, nScans)
  }

  /** Decode a binaryFile frame (path, content) of .jpg files into one
    * header-census row per file. Linear scan, typed mapPartitions (the
    * marker walk is imperative byte arithmetic Catalyst can't express);
    * everything downstream of the decode is columnar. */
  def scanJpeg(df: DataFrame): Dataset[JpegMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (name, bytes) => parseMeta(name, bytes) })
  }

  // ------------------------------------------------- pixel decode ---

  private final class Huff(counts: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        valPtr(l) = k; minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) == 0) -1 else code - 1
        code <<= 1
      }
    }
  }

  /** Entropy-segment bit reader: FF00 byte-unstuffing; RSTn handled by
    * [[restart]]; any other marker inside the scan refuses loudly. */
  private final class BitReader(b: Array[Byte], var pos: Int, name: String) {
    private var buf = 0; private var cnt = 0
    def bit(): Int = {
      if (cnt == 0) {
        var v = u8(b, pos); pos += 1
        if (v == 0xFF) {
          val m = u8(b, pos)
          if (m == 0x00) pos += 1
          else throw new IllegalArgumentException(
            s"$name: marker ${m.toHexString} inside entropy data")
        }
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def bits(n: Int): Int = { var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    def decode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.vals(h.valPtr(l) + code - h.minCode(l))
        code = (code << 1) | bit(); l += 1
      }
      throw new IllegalArgumentException(s"$name: invalid Huffman code")
    }
    /** Byte-align and consume the expected RSTn marker. */
    def restart(n: Int): Unit = {
      cnt = 0
      require(u8(b, pos) == 0xFF && u8(b, pos + 1) == 0xD0 + (n & 7),
        s"$name: expected RST${n & 7} at $pos")
      pos += 2
    }
  }

  /** T.81 EXTEND: sign-extend an s-bit magnitude to the coefficient. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Float separable IDCT with final round+clamp (within ±1 of libjpeg's
    * fixed-point islow on every probe — the spec's tolerance bound). */
  private def idct(blk: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows of coefficients -> 1D idct per row (u over x)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) math.sqrt(0.5) else 1.0
          s += cu * blk(y * 8 + u) * math.cos((2 * x + 1) * u * math.Pi / 16)
          u += 1
        }
        tmp(y * 8 + x) = s / 2
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) math.sqrt(0.5) else 1.0
          s += cv * tmp(v * 8 + x) * math.cos((2 * yy + 1) * v * math.Pi / 16)
          v += 1
        }
        val p = math.round(s / 2).toInt + 128
        out(yy * 8 + x) = math.max(0, math.min(255, p))
        yy += 1
      }
      x += 1
    }
  }

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0; var ta = 0; var pred = 0
    var bw = 0; var bh = 0
    var blocks: Array[Array[Int]] = _
  }

  /** Full decode to per-component SUBSAMPLED planes:
    * (width, height, comps as (h, v, planeW, planeH, samples)).
    * Baseline/extended-sequential streams take the single-scan MCU walk
    * below; SOF2 streams route to [[decodeProgressive]] (r15). */
  private[graft] def decodePlanes(name: String, b: Array[Byte])
      : (Int, Int, Seq[(Int, Int, Int, Int, Array[Int])]) = {
    if (segments(name, b).exists(_._1 == 0xC2))
      return decodeProgressive(name, b)
    val qt = new Array[Array[Int]](4)
    val hdc = new Array[Huff](4); val hac = new Array[Huff](4)
    var W = 0; var H = 0; var comps: Array[Comp] = null
    var hmax = 0; var vmax = 0; var dri = 0
    var scanStart = -1
    for ((mk, p, len) <- segments(name, b)) mk match {
      case 0xDB =>
        var q = p
        while (q < p + len) {
          val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
          require(pq == 0, s"$name: 16-bit quant tables unsupported in decode")
          qt(tq) = (0 until 64).map(i => u8(b, q + 1 + i)).toArray
          q += 65
        }
      case 0xC4 =>
        var q = p
        while (q < p + len) {
          val tcth = u8(b, q)
          val counts = (1 to 16).map(l => u8(b, q + l)).toArray
          val tot = counts.sum
          val vals = (0 until tot).map(i => u8(b, q + 17 + i)).toArray
          val hh = new Huff(counts, vals)
          if ((tcth >> 4) == 0) hdc(tcth & 15) = hh else hac(tcth & 15) = hh
          q += 17 + tot
        }
      // SOF1 (extended sequential) decodes identically to SOF0 for 8-bit
      // Huffman streams — the extension is 12-bit samples and extra table
      // slots, both still guarded by the requires below (ADVICE r13: a
      // SOF1 file used to fall through to a misleading "missing SOF/SOS")
      case 0xC0 | 0xC1 =>
        require(u8(b, p) == 8, s"$name: ${u8(b, p)}-bit samples unsupported")
        H = be16(b, p + 1); W = be16(b, p + 3)
        val nc = u8(b, p + 5)
        require(nc == 1 || nc == 3, s"$name: $nc components unsupported")
        comps = (0 until nc).map { c =>
          val hv = u8(b, p + 7 + 3 * c)
          Comp(u8(b, p + 6 + 3 * c), hv >> 4, hv & 15, u8(b, p + 8 + 3 * c))
        }.toArray
        hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
        for (c <- comps)
          require((c.h == hmax && c.v == vmax) || (c.h == 1 && c.v == 1),
            s"$name: sampling ${c.h}x${c.v} with max ${hmax}x$vmax unsupported")
      case 0xDD => dri = be16(b, p)
      case 0xDA =>
        val ns = u8(b, p)
        require(comps != null && ns == comps.length,
          s"$name: SOS component count $ns")
        for (s <- 0 until ns) {
          val cid = u8(b, p + 1 + 2 * s); val tdta = u8(b, p + 2 + 2 * s)
          val c = comps.find(_.id == cid).getOrElse(
            throw new IllegalArgumentException(s"$name: SOS refs comp $cid"))
          c.td = tdta >> 4; c.ta = tdta & 15
          // ids index the 4-slot table arrays — a 4-bit field reaches 15
          require(c.td <= 3 && c.ta <= 3,
            s"$name: Huffman table id ${c.td}/${c.ta} out of range in SOS")
          // loud refusal at scan-header time, mirroring the progressive
          // path (ADVICE r16): a scan referencing an undefined table
          // must not NPE with no file context mid-decode
          require(hdc(c.td) != null,
            s"$name: missing DC Huffman table ${c.td}")
          require(hac(c.ta) != null,
            s"$name: missing AC Huffman table ${c.ta}")
        }
        scanStart = p + len
      case mk2 if mk2 >= 0xC2 && mk2 <= 0xCF && mk2 != 0xC4 && mk2 != 0xC8 =>
        throw new IllegalArgumentException(
          s"$name: non-baseline SOF${mk2 - 0xC0} unsupported")
      case _ => ()
    }
    require(W > 0 && scanStart > 0, s"$name: missing SOF/SOS")
    val mcusX = (W + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (H + 8 * vmax - 1) / (8 * vmax)
    for (c <- comps) {
      c.bw = mcusX * c.h; c.bh = mcusY * c.v
      c.blocks = new Array[Array[Int]](c.bw * c.bh)
    }
    val br = new BitReader(b, scanStart, name)
    var mcu = 0; var nextRst = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          br.restart(nextRst); nextRst += 1
          for (c <- comps) c.pred = 0
        }
        for (c <- comps; by <- 0 until c.v; bx <- 0 until c.h) {
          val t = br.decode(hdc(c.td))
          c.pred += extend(br.bits(t), t)
          val blk = new Array[Int](64)
          blk(0) = c.pred * qt(c.tq)(0)
          var k = 1
          var eob = false
          while (k < 64 && !eob) {
            val rs = br.decode(hac(c.ta))
            val r = rs >> 4; val sb = rs & 15
            if (sb == 0) { if (r == 15) k += 16 else eob = true }
            else {
              k += r
              require(k < 64, s"$name: AC run past block end")
              blk(ZZ(k)) = extend(br.bits(sb), sb) * qt(c.tq)(k)
              k += 1
            }
          }
          val px = new Array[Int](64)
          idct(blk, px)
          c.blocks((my * c.v + by) * c.bw + (mx * c.h + bx)) = px
        }
        mcu += 1; mx += 1
      }
      my += 1
    }
    planesOf(W, H, hmax, vmax, comps)
  }

  /** Assemble per-component subsampled planes from decoded pixel blocks
    * — the tail both the sequential and progressive paths share. */
  private def planesOf(W: Int, H: Int, hmax: Int, vmax: Int,
      comps: Array[Comp]): (Int, Int, Seq[(Int, Int, Int, Int, Array[Int])]) = {
    val planes = comps.toSeq.map { c =>
      val pw = (W * c.h + hmax - 1) / hmax // ceil(W * h / hmax)
      val ph = (H * c.v + vmax - 1) / vmax
      val plane = new Array[Int](pw * ph)
      var y2 = 0
      while (y2 < ph) {
        var x2 = 0
        while (x2 < pw) {
          val blk = c.blocks((y2 >> 3) * c.bw + (x2 >> 3))
          plane(y2 * pw + x2) = blk((y2 & 7) * 8 + (x2 & 7))
          x2 += 1
        }
        y2 += 1
      }
      (c.h, c.v, pw, ph, plane)
    }
    (W, H, planes)
  }

  /** Progressive (SOF2) decode — T.81 §G: coefficients ACCUMULATE across
    * scans in the frequency domain, so blocks hold raw coefficients
    * until every scan has landed, then one dequant + IDCT pass renders
    * them. Scan kinds, dispatched on (Ss, Ah): DC first (diff-coded,
    * magnitudes shifted left Al), DC refinement (one bit per block), AC
    * first (band Ss..Se with EOB runs), AC refinement (the §G.1.2.3
    * correction-bit walk). DC scans may interleave components (MCU
    * order); AC scans are single-component by spec, walking that
    * component's ceil(size/8) block grid. DRI restarts byte-align,
    * reset predictors AND the EOB run. The marker walk here is its own
    * loop because scans alternate with DHT segments — [[segments]]
    * stops at the first SOS by design. */
  private def decodeProgressive(name: String, b: Array[Byte])
      : (Int, Int, Seq[(Int, Int, Int, Int, Array[Int])]) = {
    val qt = new Array[Array[Int]](4)
    val hdc = new Array[Huff](4); val hac = new Array[Huff](4)
    var W = 0; var H = 0; var comps: Array[Comp] = null
    var hmax = 0; var vmax = 0; var dri = 0
    var mcusX = 0; var mcusY = 0
    var pos = 2
    var sawEoi = false
    while (!sawEoi) {
      require(pos + 2 <= b.length, s"$name: truncated at $pos")
      require(u8(b, pos) == 0xFF, s"$name: expected marker at $pos")
      if (u8(b, pos + 1) == 0xFF) { pos += 1 } // fill byte
      else {
        val mk = u8(b, pos + 1)
        if (mk == 0xD9) { sawEoi = true; pos += 2 }
        else {
          val len = be16(b, pos + 2)
          require(len >= 2 && pos + 2 + len <= b.length,
            s"$name: segment ${mk.toHexString} at $pos has invalid length")
          val p = pos + 4
          mk match {
            case 0xDB =>
              var q = p
              while (q < p + len - 2) {
                val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
                require(pq == 0,
                  s"$name: 16-bit quant tables unsupported in decode")
                qt(tq) = (0 until 64).map(i => u8(b, q + 1 + i)).toArray
                q += 65
              }
            case 0xC4 =>
              var q = p
              while (q < p + len - 2) {
                val tcth = u8(b, q)
                val counts = (1 to 16).map(l => u8(b, q + l)).toArray
                val tot = counts.sum
                val vals = (0 until tot).map(i => u8(b, q + 17 + i)).toArray
                val hh = new Huff(counts, vals)
                if ((tcth >> 4) == 0) hdc(tcth & 15) = hh
                else hac(tcth & 15) = hh
                q += 17 + tot
              }
            case 0xC2 =>
              require(u8(b, p) == 8,
                s"$name: ${u8(b, p)}-bit samples unsupported")
              H = be16(b, p + 1); W = be16(b, p + 3)
              val nc = u8(b, p + 5)
              require(nc == 1 || nc == 3, s"$name: $nc components unsupported")
              comps = (0 until nc).map { c =>
                val hv = u8(b, p + 7 + 3 * c)
                Comp(u8(b, p + 6 + 3 * c), hv >> 4, hv & 15,
                  u8(b, p + 8 + 3 * c))
              }.toArray
              hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
              for (c <- comps)
                require((c.h == hmax && c.v == vmax) ||
                  (c.h == 1 && c.v == 1),
                  s"$name: sampling ${c.h}x${c.v} with max ${hmax}x$vmax " +
                    "unsupported")
              mcusX = (W + 8 * hmax - 1) / (8 * hmax)
              mcusY = (H + 8 * vmax - 1) / (8 * vmax)
              for (c <- comps) {
                c.bw = mcusX * c.h; c.bh = mcusY * c.v
                c.blocks = Array.fill(c.bw * c.bh)(new Array[Int](64))
              }
            case 0xDD => dri = be16(b, p)
            case 0xDA =>
              require(comps != null, s"$name: SOS before SOF2")
              val ns = u8(b, p)
              val scanComps = (0 until ns).map { si =>
                val cid = u8(b, p + 1 + 2 * si)
                val tdta = u8(b, p + 2 + 2 * si)
                val c = comps.find(_.id == cid).getOrElse(
                  throw new IllegalArgumentException(
                    s"$name: SOS refs comp $cid"))
                c.td = tdta >> 4; c.ta = tdta & 15
                // 4-bit ids reach 15 but index 4-slot arrays — refuse
                // with context before any table lookup (review r16)
                require(c.td <= 3 && c.ta <= 3,
                  s"$name: Huffman table id ${c.td}/${c.ta} out of " +
                    "range in SOS")
                c
              }
              val ss = u8(b, p + 1 + 2 * ns); val se = u8(b, p + 2 + 2 * ns)
              val ahal = u8(b, p + 3 + 2 * ns)
              val ah = ahal >> 4; val al = ahal & 15
              require(ss <= 63 && se <= 63 && ss <= se,
                s"$name: bad spectral band $ss..$se")
              require(if (ss == 0) se == 0 else ns == 1,
                s"$name: progressive scan header out of spec " +
                  s"(Ss=$ss Se=$se ns=$ns)")
              // loud refusal at scan-header time (ADVICE r15): a scan
              // referencing an undefined table must not NPE mid-decode.
              // DC-refine scans (Ss=0, Ah>0) read raw bits, no table.
              for (c <- scanComps) {
                if (ss == 0 && ah == 0)
                  require(hdc(c.td) != null,
                    s"$name: missing DC Huffman table ${c.td}")
                if (se > 0)
                  require(hac(c.ta) != null,
                    s"$name: missing AC Huffman table ${c.ta}")
              }
              val br = new BitReader(b, pos + 2 + len, name)
              decodeProgScan(name, br, scanComps, ss, se, ah, al,
                dri, hdc, hac, mcusX, mcusY, W, H, hmax, vmax)
              pos = br.pos
            case mk2 if mk2 >= 0xC0 && mk2 <= 0xCF && mk2 != 0xC4 &&
                mk2 != 0xC8 && mk2 != 0xC2 =>
              throw new IllegalArgumentException(
                s"$name: SOF${mk2 - 0xC0} mixed into a progressive file")
            case _ => () // APPn/COM
          }
          if (mk != 0xDA) pos += 2 + len
        }
      }
    }
    require(comps != null && W > 0, s"$name: missing SOF2 frame header")
    // every scan has landed: dequant (zigzag-indexed tables) + IDCT
    for (c <- comps) {
      require(qt(c.tq) != null, s"$name: missing quant table ${c.tq}")
      var i = 0
      while (i < c.blocks.length) {
        val coefs = c.blocks(i)
        val dq = new Array[Int](64)
        var k = 0
        while (k < 64) { dq(ZZ(k)) = coefs(ZZ(k)) * qt(c.tq)(k); k += 1 }
        val px = new Array[Int](64)
        idct(dq, px)
        c.blocks(i) = px
        i += 1
      }
    }
    planesOf(W, H, hmax, vmax, comps)
  }

  /** One progressive scan's entropy decode (T.81 §G.1.2). `eobrun` and
    * the DC predictors are scan-local and reset at every restart. */
  private def decodeProgScan(name: String, br: BitReader,
      scanComps: Seq[Comp], ss: Int, se: Int, ah: Int, al: Int, dri: Int,
      hdc: Array[Huff], hac: Array[Huff], mcusX: Int, mcusY: Int,
      W: Int, H: Int, hmax: Int, vmax: Int): Unit = {
    scanComps.foreach(_.pred = 0)
    var eobrun = 0
    val p1 = 1 << al
    val m1 = -1 << al

    def dcFirst(c: Comp, blk: Array[Int]): Unit = {
      val t = br.decode(hdc(c.td))
      c.pred += extend(br.bits(t), t)
      blk(0) = c.pred << al
    }
    def dcRefine(blk: Array[Int]): Unit =
      if (br.bit() == 1) blk(0) |= p1
    def acFirst(c: Comp, blk: Array[Int]): Unit = {
      if (eobrun > 0) { eobrun -= 1 }
      else {
        var k = ss
        while (k <= se) {
          val rs = br.decode(hac(c.ta))
          val r = rs >> 4; val sb = rs & 15
          if (sb == 0) {
            if (r == 15) k += 16
            else {
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += br.bits(r)
              k = 64
            }
          } else {
            k += r
            require(k <= se, s"$name: AC run past band end")
            blk(ZZ(k)) = extend(br.bits(sb), sb) << al
            k += 1
          }
        }
      }
    }
    /** §G.1.2.3: refine existing nonzero coefficients with one
      * correction bit each while inserting newly-significant ±p1s. */
    def acRefine(c: Comp, blk: Array[Int]): Unit = {
      var k = ss
      if (eobrun == 0) {
        var break = false
        while (k <= se && !break) {
          val rs = br.decode(hac(c.ta))
          var r = rs >> 4; val sb = rs & 15
          var coefVal = 0
          if (sb != 0) {
            require(sb == 1, s"$name: bad AC refinement magnitude $sb")
            coefVal = if (br.bit() == 1) p1 else m1
          } else if (r != 15) {
            // refinement EOB convention differs from acFirst's: the
            // CURRENT block's remaining nonzero coefficients still
            // consume one correction bit each (the tail below), so the
            // run is 1<<r + bits and is decremented AFTER the tail —
            // with (1<<r)-1 an EOB0 run skipped the tail and desynced
            // the stream
            eobrun = 1 << r
            if (r > 0) eobrun += br.bits(r)
            break = true
          }
          if (!break) {
            var placed = false
            while (k <= se && !placed) {
              val idx = ZZ(k)
              if (blk(idx) != 0) {
                if (br.bit() == 1 && (blk(idx) & p1) == 0)
                  blk(idx) += (if (blk(idx) >= 0) p1 else m1)
              } else {
                if (r == 0) {
                  if (coefVal != 0) blk(idx) = coefVal
                  placed = true
                } else r -= 1
              }
              k += 1
            }
            require(placed || coefVal == 0,
              s"$name: AC refinement overran band $ss..$se")
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val idx = ZZ(k)
          if (blk(idx) != 0) {
            if (br.bit() == 1 && (blk(idx) & p1) == 0)
              blk(idx) += (if (blk(idx) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
    }
    def decodeBlock(c: Comp, blk: Array[Int]): Unit =
      if (ss == 0) { if (ah == 0) dcFirst(c, blk) else dcRefine(blk) }
      else { if (ah == 0) acFirst(c, blk) else acRefine(c, blk) }

    val interleaved = scanComps.length > 1
    val (unitsX, unitsY) =
      if (interleaved) (mcusX, mcusY)
      else {
        val c = scanComps.head
        val pw = (W * c.h + hmax - 1) / hmax
        val ph = (H * c.v + vmax - 1) / vmax
        ((pw + 7) / 8, (ph + 7) / 8)
      }
    var unit = 0; var nextRst = 0
    var uy = 0
    while (uy < unitsY) {
      var ux = 0
      while (ux < unitsX) {
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          br.restart(nextRst); nextRst += 1
          scanComps.foreach(_.pred = 0)
          eobrun = 0
        }
        if (!interleaved) {
          val c = scanComps.head
          decodeBlock(c, c.blocks(uy * c.bw + ux))
        } else {
          for (c <- scanComps; by <- 0 until c.v; bx <- 0 until c.h)
            decodeBlock(c,
              c.blocks((uy * c.v + by) * c.bw + (ux * c.h + bx)))
        }
        unit += 1; ux += 1
      }
      uy += 1
    }
  }

  // libjpeg jdcolor's fixed-point YCbCr->RGB tables (public constants;
  // SCALEBITS=16, rounding ONE_HALF folded into the red/blue tables and
  // the green pair's shared shift)
  private def fix(x: Double): Int = (x * 65536 + 0.5).toInt
  private val crR = Array.tabulate(256)(i => (fix(1.40200) * (i - 128) + 32768) >> 16)
  private val cbB = Array.tabulate(256)(i => (fix(1.77200) * (i - 128) + 32768) >> 16)
  private val cbG = Array.tabulate(256)(i => -fix(0.34414) * (i - 128))
  private val crG = Array.tabulate(256)(i => -fix(0.71414) * (i - 128) + 32768)
  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** libjpeg-convention h2v2 "fancy" (triangular) upsample: nearest input
    * sample weighted 3 per axis → 9/3/3/1 blend, edges duplicated — the
    * default the JDK decoder applies to 4:2:0 chroma, reproduced so the
    * round-trip spec can hold color to ±2. Rounding follows libjpeg's
    * jdsample.c exactly: +8 on the even (near-neighbor) horizontal phase,
    * +7 on the odd (far-neighbor) phase (ADVICE r13: +8 on both phases
    * left the odd columns ±1 off the JDK decoder). */
  private[graft] def fancyH2V2(in: Array[Int], cw: Int, ch: Int,
                               w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var oy = 0
    while (oy < h) {
      val iy = oy >> 1
      val ny = if ((oy & 1) == 0) math.max(iy - 1, 0) else math.min(iy + 1, ch - 1)
      var ox = 0
      while (ox < w) {
        val ix = ox >> 1
        val nx = if ((ox & 1) == 0) math.max(ix - 1, 0) else math.min(ix + 1, cw - 1)
        val thisCol = 3 * in(iy * cw + ix) + in(ny * cw + ix)
        val nextCol = 3 * in(iy * cw + nx) + in(ny * cw + nx)
        val rnd = if ((ox & 1) == 0) 8 else 7
        out(oy * w + ox) = (3 * thisCol + nextCol + rnd) >> 4
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** libjpeg-convention h2v1 "fancy" upsample (jdsample.c
    * h2v1_fancy_upsample) — the 4:2:2 sibling of [[fancyH2V2]]
    * (VERDICT r15 #6): horizontal-only triangular blend, 3:1 weights,
    * +1 rounding on the even (near-neighbor) phase and +2 on the odd
    * phase; rows pass through untouched. The clamped-neighbor edge
    * formula collapses to sample duplication exactly ((4a+1)>>2 =
    * (4a+2)>>2 = a), matching libjpeg's special-cased first/last
    * columns. */
  private[graft] def fancyH2V1(in: Array[Int], cw: Int,
                               w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var oy = 0
    while (oy < h) {
      var ox = 0
      while (ox < w) {
        val ix = ox >> 1
        val nx = if ((ox & 1) == 0) math.max(ix - 1, 0)
                 else math.min(ix + 1, cw - 1)
        val rnd = if ((ox & 1) == 0) 1 else 2
        out(oy * w + ox) =
          (3 * in(oy * cw + ix) + in(oy * cw + nx) + rnd) >> 2
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** libjpeg-turbo-convention h1v2 "fancy" upsample (jdsample.c
    * h1v2_fancy_upsample) — the 4:4:0 vertical sibling of
    * [[fancyH2V1]] (VERDICT r16 #5): vertical-only triangular blend,
    * 3:1 weights, +1 rounding on the even (near-neighbor) phase and +2
    * on the odd phase; columns pass through untouched. The clamped
    * edge rows collapse to duplication exactly like h2v1's edge
    * columns. */
  private[graft] def fancyH1V2(in: Array[Int], cw: Int, ch: Int,
                               w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var oy = 0
    while (oy < h) {
      val iy = oy >> 1
      val ny = if ((oy & 1) == 0) math.max(iy - 1, 0)
               else math.min(iy + 1, ch - 1)
      val rnd = if ((oy & 1) == 0) 1 else 2
      var ox = 0
      while (ox < w) {
        out(oy * w + ox) =
          (3 * in(iy * cw + ox) + in(ny * cw + ox) + rnd) >> 2
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** Full decode to packed 0xRRGGBB pixels (gray replicates the single
    * plane). 4:2:0 chroma goes through [[fancyH2V2]], 4:2:2 through
    * [[fancyH2V1]], 4:4:0 through [[fancyH1V2]]; 4:4:4 and gray are
    * pass-through. */
  private[graft] def decodeRgb(name: String,
                               b: Array[Byte]): (Int, Int, Array[Int]) = {
    val (w, h, planes) = decodePlanes(name, b)
    val out = new Array[Int](w * h)
    if (planes.size == 1) {
      val (_, _, pw, _, y) = planes.head
      var i = 0
      while (i < w * h) {
        val g = y((i / w) * pw + (i % w))
        out(i) = (g << 16) | (g << 8) | g
        i += 1
      }
    } else {
      val (yh, yv, ypw, _, yp) = planes.head
      require(yh >= 1 && yv >= 1, s"$name: bad luma sampling")
      def full(p: (Int, Int, Int, Int, Array[Int])): Array[Int] = {
        val (ph2, pv2, pw, ph, s) = p
        if (pw == w && ph == h) {
          // crop-free pass-through when the plane is already full-res,
          // but re-strided to w (pw can exceed w at the MCU edge)
          val o = new Array[Int](w * h)
          var yy = 0
          while (yy < h) {
            var xx = 0
            while (xx < w) { o(yy * w + xx) = s(yy * pw + xx); xx += 1 }
            yy += 1
          }
          o
        } else if (ph2 == 1 && pv2 == 1 && pw == (w + 1) / 2 && ph == h) {
          // 4:2:2 (1x1 chroma under a 2x1 luma grid): horizontal-only
          // fancy upsample (r16, VERDICT r15 #6)
          fancyH2V1(s, pw, w, h)
        } else if (ph2 == 1 && pv2 == 1 && pw == w && ph == (h + 1) / 2) {
          // 4:4:0 (1x1 chroma under a 1x2 luma grid): vertical-only
          // fancy upsample (r17, VERDICT r16 #5)
          fancyH1V2(s, pw, ph, w, h)
        } else {
          // ONLY true 4:2:0 (1x1 chroma under a 2x2 luma grid) reaches
          // the h2v2 upsample — anything that is not exactly the
          // half-by-half plane refuses with the sampling string
          // instead of mis-rendering (ADVICE r13, medium).
          require(ph2 == 1 && pv2 == 1 && pw == (w + 1) / 2 && ph == (h + 1) / 2,
            s"$name: unsupported chroma geometry ${pw}x$ph " +
              s"(sampling ${ph2}x$pv2) for ${w}x$h — only " +
              "4:2:0/4:2:2/4:4:4/gray")
          fancyH2V2(s, pw, ph, w, h)
        }
      }
      val cb = full(planes(1)); val cr = full(planes(2))
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val y0 = yp(yy * ypw + xx)
          val cbv = cb(yy * w + xx); val crv = cr(yy * w + xx)
          val r = clamp(y0 + crR(crv))
          val g = clamp(y0 + ((cbG(cbv) + crG(crv)) >> 16))
          val bl = clamp(y0 + cbB(cbv))
          out(yy * w + xx) = (r << 16) | (g << 8) | bl
          xx += 1
        }
        yy += 1
      }
    }
    (w, h, out)
  }
}

/** Deterministic JPEG fixture: [[count]] images (2/3 RGB via
  * TYPE_3BYTE_BGR, 1/3 grayscale) written through `javax.imageio`'s JPEG
  * ENCODER at a per-file quality — the engine decodes the JDK codec's
  * real output, and the oracle re-reads the marker segments from the
  * same bytes. Pixel contract per file i: w = 16 + 3·(i mod 7),
  * h = 12 + 3·(i mod 5) (several non-MCU-aligned), quality
  * 0.55 + 0.05·(i mod 8), RGB(x,y) = ((i·17+x·7+y·13) mod 256,
  * (i·5+x·11+y·3) mod 256, (i·23+x*5+y*17) mod 256), gray for i mod 3 = 2.
  * Files with i mod 5 = 4 are PROGRESSIVE (v2, VERDICT r13 #7): the JDK
  * encoder's `setProgressiveMode(MODE_DEFAULT)` emits a real SOF2
  * multi-scan stream — real crawls carry progressive JPEGs, so the
  * census must read them (pixel decode keeps refusing them loudly).
  * Deterministic-path contract: the fixture is content-keyed under ONE
  * JDK (this container's), and the oracle always reads the bytes that
  * are actually on disk, so a JDK swap regenerates consistently. */
object JpegFixture {
  val count = 24

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_jpeg_v2").getAbsolutePath

  def widthOf(i: Int): Int = 16 + 3 * (i % 7)
  def heightOf(i: Int): Int = 12 + 3 * (i % 5)
  def isGray(i: Int): Boolean = i % 3 == 2
  def isProgressive(i: Int): Boolean = i % 5 == 4
  def qualityOf(i: Int): Float = 0.55f + 0.05f * (i % 8)

  def rgbOf(i: Int, x: Int, y: Int): Int = {
    val r = (i * 17 + x * 7 + y * 13) % 256
    val g = (i * 5 + x * 11 + y * 3) % 256
    val b = (i * 23 + x * 5 + y * 17) % 256
    (r << 16) | (g << 8) | b
  }

  def jpegBytes(i: Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val w = widthOf(i); val h = heightOf(i)
    val img = new BufferedImage(w, h,
      if (isGray(i)) BufferedImage.TYPE_BYTE_GRAY
      else BufferedImage.TYPE_3BYTE_BGR)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgbOf(i, x, y))
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(qualityOf(i))
    if (isProgressive(i))
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bo = new java.io.ByteArrayOutputStream()
    wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bo))
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose()
    bo.toByteArray
  }

  /** Build the fixture if missing; returns [[path]]. Race and versioning
    * contract: [[Checkpoints.buildOnce]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"img_$i%03d.jpg").toPath, jpegBytes(i))
    }
  }
}
