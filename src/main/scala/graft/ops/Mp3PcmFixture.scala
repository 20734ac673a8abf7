package graft.ops

/** Deterministic MPEG-1 Layer III DECODE corpus — the encoder side of
  * the sample-exactness differential (see [[Mp3Pcm]]'s Scaladoc). Every
  * file is a real mono no-CRC frame stream PACKED bit by bit from a
  * per-(file, frame, granule) content script; Mp3PcmSpec predicts the
  * decoder's exact Q16 PCM by running the shared synthesis stages on
  * the script's logical spectral content, so any disagreement in the
  * bitstream layer (side-info layout, scalefactor packing + scfsi
  * reuse, Huffman codes and sign bits, reservoir offsets, region
  * partitioning, the short-block reorder) breaks exact equality.
  *
  * File classes (i mod 5):
  *  0 — all long blocks (block_type 0), three regions, count1 tail.
  *  1 — window-type ladder: granules cycle 0 -> 1 (start) -> 2 (short,
  *      with subblock gains) -> 3 (stop), exercising every IMDCT window
  *      and the overlap-add across changing block types.
  *  2 — all short blocks (triple-window scalefactors, reorder).
  *  3 — preflag + scalefac_scale=1 + a table-0 (bit-free) region 2.
  *  4 — scfsi reuse (granule 1 inherits scalefactor groups 0 and 2)
  *      AND a nonzero bit reservoir: every frame after the first runs
  *      main_data_begin = 7, so its granule data starts inside the
  *      previous frame's area.
  * Samplerate index i mod 3; 3 + (i mod 3) frames; VBR bitrate indices
  * 7..10; padding bit on (i + f) mod 3 == 0. */
object Mp3PcmFixture {
  val count = 10

  def srIdxOf(i: Int): Int = i % 3
  def framesOf(i: Int): Int = 3 + (i % 3)
  def brIdxOf(i: Int, f: Int): Int = 7 + ((i + 2 * f) % 4)
  def padOf(i: Int, f: Int): Int = if ((i + f) % 3 == 0) 1 else 0
  private def cls(i: Int): Int = i % 5

  def btOf(i: Int, f: Int, g: Int): Int = cls(i) match {
    case 1 => Array(0, 1, 2, 3)((2 * f + g) % 4)
    case 2 => 2
    case _ => 0
  }

  def scfsiOf(i: Int): Array[Int] =
    if (cls(i) == 4) Array(1, 0, 1, 0) else Array(0, 0, 0, 0)

  /** One granule's full content script: side-info fields plus the
    * Huffman-order spectral magnitudes (all in {-1,0,1} — the registry
    * tables' domain) and the scalefactor arrays. */
  final case class GScript(bt: Int, gg: Int, sfc: Int, ss: Int, pre: Int,
                           sbg: Array[Int], tsel: Array[Int], r0c: Int,
                           r1c: Int, bigEnd: Int, nq: Int,
                           sfLong: Array[Int], sfShort: Array[Array[Int]],
                           values: Array[Int])

  private def vFormula(i: Int, f: Int, g: Int, l: Int): Int =
    ((i * 13 + f * 7 + g * 3 + l * 5) % 3) - 1

  private def scriptOf(i: Int, f: Int, g: Int): GScript = {
    val srIdx = srIdxOf(i)
    val bt = btOf(i, f, g)
    val c = cls(i)
    val gg = 200 + ((i * 11 + f * 5 + g * 9) % 47)
    val sfc = (i + f + g) % 16
    val ss = if (c == 3) 1 else i % 2
    val pre = if (c == 3) 1 else 0
    val (slen1, slen2) = Mp3Bands.slen(sfc)
    val nq = (i + f + g) % 4
    if (bt == 2) {
      val sbg = Array.tabulate(3)(w => (i + f + w) % 8)
      val bigEnd = 24 + 2 * ((i + f + g) % 10)
      val sfShort = Array.tabulate(3, 13) { (w, s) =>
        val sl = if (s < 6) slen1 else slen2
        if (s >= 12 || sl == 0) 0 else (i + f + g + w + s) % (1 << sl)
      }
      val values = Array.tabulate(bigEnd + 4 * nq)(l => vFormula(i, f, g, l))
      GScript(bt, gg, sfc, ss, 0, sbg, Array(1, 1), 0, 0, bigEnd, nq,
        new Array[Int](22), sfShort, values)
    } else if (bt != 0) { // start/stop: window_switching long
      val bigEnd = 32 + 2 * ((i + f + g) % 7)
      val sfLong = Array.tabulate(22) { s =>
        val sl = if (s < 11) slen1 else slen2
        if (s >= 21 || sl == 0) 0 else (i + f + g + s) % (1 << sl)
      }
      val values = Array.tabulate(bigEnd + 4 * nq)(l => vFormula(i, f, g, l))
      GScript(bt, gg, sfc, ss, pre, Array(0, 0, 0), Array(1, 1), 0, 0,
        bigEnd, nq, sfLong, Array.ofDim[Int](3, 13), values)
    } else {
      val r0c = 2 + (i % 4)
      val r1c = 2 + ((i + f) % 3)
      val r2start = Mp3Bands.longB(srIdx)(r0c + r1c + 2)
      val tsel = Array(1, 1, if (c == 3) 0 else 1)
      val bigEnd = r2start + 2 * (1 + ((i + f + g) % 5))
      val sfLong = Array.tabulate(22) { s =>
        val sl = if (s < 11) slen1 else slen2
        if (s >= 21 || sl == 0) 0 else (i + f + g + s) % (1 << sl)
      }
      val values = Array.tabulate(bigEnd + 4 * nq) { l =>
        if (c == 3 && l >= r2start && l < bigEnd) 0 // table-0 region
        else vFormula(i, f, g, l)
      }
      GScript(bt, gg, sfc, ss, pre, Array(0, 0, 0), tsel, r0c, r1c,
        bigEnd, nq, sfLong, Array.ofDim[Int](3, 13), values)
    }
  }

  /** Both granule scripts of a frame, with class-4 scfsi groups 0 and 2
    * (long bands 0..5 and 11..15) copied from granule 0 into granule 1
    * — the values the decoder must REUSE rather than re-read. */
  def frameScripts(i: Int, f: Int): Array[GScript] = {
    val g0 = scriptOf(i, f, 0)
    val g1 = scriptOf(i, f, 1)
    if (cls(i) == 4) {
      val sf = g1.sfLong.clone()
      for (s <- 0 until 6) sf(s) = g0.sfLong(s)
      for (s <- 11 until 16) sf(s) = g0.sfLong(s)
      Array(g0, g1.copy(sfLong = sf))
    } else Array(g0, g1)
  }

  /** Pack one granule's scalefactors + spectrum; returns part2_3 bits. */
  private def encodeGranule(w: Mp3BitWriter, sc: GScript, srIdx: Int,
                            scfsi: Array[Int], gIdx: Int): Int = {
    val start = w.bitLength
    val (slen1, slen2) = Mp3Bands.slen(sc.sfc)
    if (sc.bt == 2) {
      for (s <- 0 until 12; wn <- 0 until 3) {
        val sl = if (s < 6) slen1 else slen2
        if (sl > 0) w.put(sc.sfShort(wn)(s), sl)
      }
    } else {
      val bounds = Array(0, 6, 11, 16, 21)
      for (grp <- 0 until 4) {
        val sl = if (grp < 2) slen1 else slen2
        if (!(gIdx == 1 && scfsi(grp) == 1))
          for (s <- bounds(grp) until bounds(grp + 1))
            if (sl > 0) w.put(sc.sfLong(s), sl)
      }
    }
    val (r1s, r2s) =
      if (sc.bt != 0) (36, 576)
      else {
        val b = Mp3Bands.longB(srIdx)
        (b(sc.r0c + 1), b(sc.r0c + sc.r1c + 2))
      }
    var line = 0
    while (line < sc.bigEnd) {
      val table =
        if (line < r1s) sc.tsel(0)
        else if (line < r2s) sc.tsel(1)
        else sc.tsel(2)
      val x = sc.values(line); val y = sc.values(line + 1)
      Mp3Huff.encodePair(w, table, math.abs(x), math.abs(y))
      if (x != 0) w.put(if (x < 0) 1 else 0, 1)
      if (y != 0) w.put(if (y < 0) 1 else 0, 1)
      line += 2
    }
    for (q <- 0 until sc.nq) {
      val base = sc.bigEnd + 4 * q
      val vs = Array.tabulate(4)(j => sc.values(base + j))
      Mp3Huff.encodeQuadB(w, math.abs(vs(0)), math.abs(vs(1)),
        math.abs(vs(2)), math.abs(vs(3)))
      vs.foreach(v => if (v != 0) w.put(if (v < 0) 1 else 0, 1))
    }
    w.bitLength - start
  }

  /** Mono 17-byte side-info block for one frame. */
  private def writeSideInfo(mdb: Int, scfsi: Array[Int],
                            gs: Array[(GScript, Int)]): Array[Byte] = {
    val w = new Mp3BitWriter
    w.put(mdb, 9); w.put(0, 5)
    scfsi.foreach(s => w.put(s, 1))
    for ((sc, p23) <- gs) {
      w.put(p23, 12); w.put(sc.bigEnd / 2, 9); w.put(sc.gg, 8)
      w.put(sc.sfc, 4)
      if (sc.bt != 0) {
        w.put(1, 1); w.put(sc.bt, 2); w.put(0, 1)
        w.put(sc.tsel(0), 5); w.put(sc.tsel(1), 5)
        sc.sbg.foreach(v => w.put(v, 3))
      } else {
        w.put(0, 1)
        sc.tsel.foreach(v => w.put(v, 5))
        w.put(sc.r0c, 4); w.put(sc.r1c, 3)
      }
      w.put(sc.pre, 1); w.put(sc.ss, 1); w.put(1, 1) // count1 table B
    }
    val bytes = w.toBytes
    require(w.bitLength == 136 && bytes.length == 17,
      s"side info must be 17 bytes, got ${w.bitLength} bits")
    bytes
  }

  /** Build file i: pack granule bits, lay them into the concatenated
    * main-data areas with the class-4 reservoir deltas, emit frames. */
  def mp3Bytes(i: Int): Array[Byte] = {
    val srIdx = srIdxOf(i); val sr = Mp3.srTable(srIdx)
    val nf = framesOf(i)
    val packed = (0 until nf).map { f =>
      val scs = frameScripts(i, f)
      val w = new Mp3BitWriter
      val p0 = encodeGranule(w, scs(0), srIdx, scfsiOf(i), 0)
      val p1 = encodeGranule(w, scs(1), srIdx, scfsiOf(i), 1)
      (scs, Array(p0, p1), w.toBytes)
    }
    val caps = (0 until nf).map { f =>
      Mp3.frameLen(Mp3.kbpsTable(brIdxOf(i, f)), sr, padOf(i, f)) - 21
    }
    val areaStart = caps.scanLeft(0)(_ + _)
    val delta = (0 to nf).map { f =>
      if (cls(i) == 4 && f >= 1 && f < nf) 7 else 0
    }
    val global = new Array[Byte](areaStart(nf))
    var cursor = 0
    val mdbs = new Array[Int](nf)
    for (f <- 0 until nf) {
      mdbs(f) = areaStart(f) - cursor
      require(mdbs(f) >= 0 && mdbs(f) <= 511, s"bad reservoir at frame $f")
      val data = packed(f)._3
      require(cursor + data.length <= areaStart(f + 1),
        s"frame $f data (${data.length} B) overflows its area")
      System.arraycopy(data, 0, global, cursor, data.length)
      cursor += data.length
      val target = areaStart(f + 1) - delta(f + 1)
      require(target >= cursor, s"frame $f: no room for the reservoir delta")
      while (cursor < target) { // deterministic ancillary filler
        global(cursor) = ((i * 7 + cursor * 3) % 251).toByte
        cursor += 1
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    for (f <- 0 until nf) {
      out.write(0xFF); out.write(0xFB)
      out.write((brIdxOf(i, f) << 4) | (srIdx << 2) | (padOf(i, f) << 1))
      out.write(0xC4) // single_channel, original
      val (scs, p23s, _) = packed(f)
      out.write(writeSideInfo(mdbs(f), scfsiOf(i),
        Array((scs(0), p23s(0)), (scs(1), p23s(1)))))
      out.write(global, areaStart(f), caps(f))
    }
    out.toByteArray
  }

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_mp3pcm_v1").getAbsolutePath

  /** Build the on-disk corpus if missing; returns [[path]]. Race and
    * versioning contract: [[Checkpoints.buildOnce]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"pcm_$i%03d.mp3").toPath, mp3Bytes(i))
    }
  }
}
