package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** One GIF file's census row: the structural fields derivable from the
  * block walk — version, logical-screen geometry, global-color-table
  * size, frame count, how many frames are interlaced — plus the total
  * byte count. Pixel decode (palette mapping, GIF-LZW, Adam-4
  * deinterlace) is [[Gif.decodeFrame0]], spec-graded against the JDK's
  * own codec (the JPEG pixel-path split: census in the gate with a hex
  * oracle, entropy-coded samples proven by differential). */
final case class GifMeta(file_name: String, version: String, width: Int,
                         height: Int, n_frames: Int, gct_entries: Int,
                         interlaced_frames: Int, total_bytes: Long)

/** GIF87a/89a codec (CompuServe spec, public): header + logical screen
  * descriptor, global/local color tables, extension blocks (0x21: a
  * label byte then length-prefixed sub-blocks), image descriptors
  * (0x2C: geometry, flags, LZW minimum code size, sub-block-framed
  * compressed index stream), 0x3B trailer — still a large share of
  * real web images, so a crawl-scale media pipeline reads it next to
  * PNG/JPEG.
  *
  * The LZW variant differs from the PDF/TIFF one in every packing
  * detail: LSB-first bit order, initial code width = minCodeSize+1,
  * Clear = 2^mcs, EOD = Clear+1, width grows at table size 2^w (no
  * early change), 12-bit cap. The JDK writes GIF through its own LZW
  * encoder, so GifSpec holds this decoder to the JDK's independent
  * bytes at EXACT equality (including interlaced and multi-frame
  * sequences) — the boundary conventions are adjudicated empirically,
  * not assumed.
  *
  * Loud failures everywhere: bad signature, truncated blocks, unknown
  * block introducers, LZW codes outside the table, an index stream
  * that does not land exactly on width·height pixels, a missing
  * trailer, or trailing bytes after it. */
object Gif {

  /** One decoded frame: geometry, its effective palette (local if
    * present else global), and the FLAT index array in screen row
    * order (deinterlaced when the descriptor says so). */
  private[graft] final case class Frame(left: Int, top: Int, w: Int,
      h: Int, interlaced: Boolean, palette: Array[Byte],
      indices: Array[Int])

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Walk the full block structure; returns (meta, frames). */
  private[graft] def parse(name: String,
      b: Array[Byte]): (GifMeta, Seq[Frame]) = {
    require(b.length >= 13, s"$name: truncated GIF header")
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    require(sig == "GIF87a" || sig == "GIF89a",
      s"$name: not a GIF signature: '$sig'")
    val w = u16(b, 6); val h = u16(b, 8)
    require(w > 0 && h > 0, s"$name: bad logical screen ${w}x$h")
    val flags = b(10) & 0xff
    val gct: Array[Byte] =
      if ((flags & 0x80) != 0) {
        val n = 2 << (flags & 7) // 2^(N+1) entries
        require(13 + 3 * n <= b.length, s"$name: truncated global color table")
        java.util.Arrays.copyOfRange(b, 13, 13 + 3 * n)
      } else null
    var pos = 13 + (if (gct == null) 0 else gct.length)
    val frames = Seq.newBuilder[Frame]
    var nFrames = 0
    var nInterlaced = 0
    var done = false
    def skipSubBlocks(from: Int, what: String): Int = {
      var p = from
      var len = -1
      while (len != 0) {
        require(p < b.length, s"$name: truncated $what sub-blocks at $p")
        len = b(p) & 0xff
        require(p + 1 + len <= b.length,
          s"$name: $what sub-block of $len overruns at $p")
        p += 1 + len
      }
      p
    }
    while (!done) {
      require(pos < b.length, s"$name: no trailer before EOF")
      (b(pos) & 0xff) match {
        case 0x3B => done = true; pos += 1
        case 0x21 => // extension: label byte, then sub-blocks
          require(pos + 2 <= b.length, s"$name: truncated extension at $pos")
          pos = skipSubBlocks(pos + 2, "extension")
        case 0x2C =>
          require(pos + 10 <= b.length,
            s"$name: truncated image descriptor at $pos")
          val fl = u16(b, pos + 1); val ft = u16(b, pos + 3)
          val fw = u16(b, pos + 5); val fh = u16(b, pos + 7)
          require(fw > 0 && fh > 0 && fl + fw <= w && ft + fh <= h,
            s"$name: frame ${fw}x$fh at ($fl,$ft) outside the " +
              s"${w}x$h screen")
          val ifl = b(pos + 9) & 0xff
          val interlaced = (ifl & 0x40) != 0
          var p = pos + 10
          val pal =
            if ((ifl & 0x80) != 0) {
              val n = 2 << (ifl & 7)
              require(p + 3 * n <= b.length,
                s"$name: truncated local color table at $p")
              val lct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
              p += 3 * n
              lct
            } else {
              require(gct != null,
                s"$name: frame at $pos has no color table (no GCT, " +
                  "no LCT)")
              gct
            }
          require(p < b.length, s"$name: truncated LZW min-code at $p")
          val mcs = b(p) & 0xff
          require(mcs >= 2 && mcs <= 8,
            s"$name: LZW minimum code size $mcs out of range at $p")
          p += 1
          // concatenate the sub-block payloads, then run GIF-LZW
          val data = new java.io.ByteArrayOutputStream()
          var len = -1
          while (len != 0) {
            require(p < b.length, s"$name: truncated image data at $p")
            len = b(p) & 0xff
            require(p + 1 + len <= b.length,
              s"$name: image-data sub-block of $len overruns at $p")
            data.write(b, p + 1, len)
            p += 1 + len
          }
          val seq = lzw(name, mcs, data.toByteArray, fw * fh)
          val idx =
            if (!interlaced) seq
            else {
              // GIF's 4-pass interlace: rows 0,8,16.. / 4,12.. /
              // 2,6,10.. / 1,3,5.. — scatter the decoded row order
              // back to screen order
              val o = new Array[Int](fw * fh)
              var src = 0
              for ((y0, dy) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                   y <- y0 until fh by dy) {
                System.arraycopy(seq, src * fw, o, y * fw, fw)
                src += 1
              }
              o
            }
          // every index must resolve in the palette
          val nPal = pal.length / 3
          var k = 0
          while (k < idx.length) {
            require(idx(k) < nPal,
              s"$name: pixel $k indexes palette entry ${idx(k)} of $nPal")
            k += 1
          }
          frames += Frame(fl, ft, fw, fh, interlaced, pal, idx)
          nFrames += 1
          if (interlaced) nInterlaced += 1
          pos = p
        case other => sys.error(
          s"$name: unknown block introducer 0x${other.toHexString} at $pos")
      }
    }
    require(pos == b.length,
      s"$name: ${b.length - pos} trailing bytes after the trailer")
    require(nFrames > 0, s"$name: no image frames")
    (GifMeta(name, sig.substring(3), w, h, nFrames,
      if (gct == null) 0 else gct.length / 3, nInterlaced, b.length.toLong),
      frames.result())
  }

  /** GIF-LZW: decode exactly `expect` indices. LSB-first packing;
    * Clear resets table and width; the KwKwK case reconstructs
    * prev + prev.head; width grows at table size 2^w (empirically
    * matching the JDK's encoder — GifSpec holds the pairing to exact
    * equality on JDK-written streams). The trailing EOD code is
    * TOLERATED-OPTIONAL: the JDK's single-image writer omits it
    * (relying on the sub-block terminator) while its sequence writer
    * emits it — after `expect` pixels the stream must either carry
    * the EOD or have fewer than one code's worth of bits left; a
    * full non-EOD code there refuses. */
  private[graft] def lzw(name: String, mcs: Int, b: Array[Byte],
                         expect: Int): Array[Int] = {
    val clear = 1 << mcs
    val eod = clear + 1
    val dict = new Array[Array[Int]](4096)
    var dictSize = eod + 1
    var width = mcs + 1
    var prev: Array[Int] = null
    val out = new Array[Int](expect)
    var n = 0
    var bitBuf = 0L
    var bitCnt = 0
    var i = 0
    var done = false
    while (!done) {
      while (bitCnt < width && i < b.length) {
        bitBuf |= (b(i) & 0xffL) << bitCnt; bitCnt += 8; i += 1
      }
      if (bitCnt < width) {
        require(n == expect,
          s"$name: LZW stream truncated at $n of $expect pixels")
        done = true // EOD omitted, stream exactly exhausted — tolerated
      } else {
        val code = (bitBuf & ((1L << width) - 1)).toInt
        bitBuf >>= width; bitCnt -= width
        if (code == clear) {
          dictSize = eod + 1; width = mcs + 1; prev = null
        } else if (code == eod) {
          require(n == expect,
            s"$name: LZW EOD after $n of $expect pixels")
          done = true
        } else {
          require(n < expect,
            s"$name: LZW carries code $code past $expect pixels " +
              "without an EOD")
          val entry: Array[Int] =
            if (code < clear) Array(code)
            else if (code >= eod + 1 && code < dictSize && dict(code) != null)
              dict(code)
            else if (code == dictSize && prev != null) prev :+ prev(0)
            else sys.error(s"$name: LZW code $code outside the table " +
              s"(size $dictSize) at pixel $n")
          require(n + entry.length <= expect,
            s"$name: LZW output overruns ${expect} pixels at $n")
          System.arraycopy(entry, 0, out, n, entry.length)
          n += entry.length
          if (prev != null && dictSize < 4096) {
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          prev = entry
          if (width < 12 && dictSize >= (1 << width)) width += 1
        }
      }
    }
    out
  }

  /** Frame 0 decoded to packed 0xRRGGBB pixels at the FRAME's own
    * geometry — what `ImageIO.read` hands back for the first image;
    * the GifSpec differential compares them at exact equality. */
  private[graft] def decodeFrame0(name: String,
      b: Array[Byte]): (Int, Int, Array[Int]) = {
    val (_, frames) = parse(name, b)
    val f = frames.head
    val rgb = new Array[Int](f.w * f.h)
    var k = 0
    while (k < rgb.length) {
      val i3 = 3 * f.indices(k)
      rgb(k) = ((f.palette(i3) & 0xff) << 16) |
        ((f.palette(i3 + 1) & 0xff) << 8) | (f.palette(i3 + 2) & 0xff)
      k += 1
    }
    (f.w, f.h, rgb)
  }

  /** Scan a binaryFile frame (path, content) of .gif files into one
    * census row per file — the MediaCodec mapPartitions slot: linear
    * per-file, no shuffle, parallel by file. */
  def scanGif(df: DataFrame): Dataset[GifMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (name, bytes) => parse(name, bytes)._1 })
  }
}

/** Deterministic on-disk GIF corpus, written by the JDK's OWN encoder
  * (`javax.imageio` — real GIF-LZW bytes, its own sub-block framing):
  * [[count]] single-frame files cycling palette sizes and interlace,
  * plus [[animCount]] three-frame sequences. The engine must parse the
  * JDK's real output; the census oracle re-walks the same bytes in the
  * hex domain (LZW payloads skipped structurally via the sub-block
  * lengths — the census never reads them). */
object GifFixture {
  val count = 10
  val animCount = 3

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_gif_v1").getAbsolutePath

  def widthOf(i: Int): Int = 7 + 3 * (i % 5)
  def heightOf(i: Int): Int = 5 + 2 * (i % 4)
  /** Palette bit depth 1..4 → 2/4/8/16 entries (small tables exercise
    * narrow initial LZW widths; the JDK pads tiny maps up as needed). */
  def palBitsOf(i: Int): Int = 1 + i % 4
  def interlacedOf(i: Int): Boolean = i % 3 == 1
  def pixelOf(i: Int, x: Int, y: Int): Int = pixelOf(i, 0, x, y)

  def pixelOf(i: Int, f: Int, x: Int, y: Int): Int =
    (i * 3 + f * 11 + x * 5 + y * 7) % (1 << palBitsOf(i))

  def palR(i: Int, k: Int): Int = (i * 37 + k * 41 + 13) % 256
  def palG(i: Int, k: Int): Int = (i * 59 + k * 23 + 5) % 256
  def palB(i: Int, k: Int): Int = (i * 17 + k * 71 + 29) % 256

  private def imageOf(i: Int): java.awt.image.BufferedImage = imageOf(i, 0)

  private def imageOf(i: Int, f: Int): java.awt.image.BufferedImage = {
    val n = 1 << palBitsOf(i)
    val icm = new java.awt.image.IndexColorModel(palBitsOf(i), n,
      Array.tabulate(n)(k => palR(i, k).toByte),
      Array.tabulate(n)(k => palG(i, k).toByte),
      Array.tabulate(n)(k => palB(i, k).toByte))
    val img = new java.awt.image.BufferedImage(icm,
      icm.createCompatibleWritableRaster(widthOf(i), heightOf(i)),
      false, null)
    for (x <- 0 until widthOf(i); y <- 0 until heightOf(i))
      img.getRaster.setSample(x, y, 0, pixelOf(i, f, x, y))
    img
  }

  def gifBytes(i: Int): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val p = wr.getDefaultWriteParam
    if (interlacedOf(i))
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    else
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val bo = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bo)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(imageOf(i), null, null), p)
    wr.dispose()
    ios.close() // the cache stream buffers; unflushed bytes would vanish
    bo.toByteArray
  }

  /** A three-frame animation (same geometry per frame, frame f shifts
    * the pixel formula) through the JDK's sequence writer. */
  def gifAnimBytes(i: Int): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bo = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bo)
    wr.setOutput(ios)
    wr.prepareWriteSequence(null)
    for (f <- 0 until 3) {
      val img = imageOf(i, f)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        wr.getDefaultWriteParam)
    }
    wr.endWriteSequence()
    wr.dispose()
    ios.close()
    bo.toByteArray
  }

  /** Build the fixture if missing; returns [[path]]. Race and versioning
    * contract: [[Checkpoints.buildOnce]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"img_$i%03d.gif").toPath, gifBytes(i))
    }
    (0 until animCount).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"seq_$i%03d.gif").toPath, gifAnimBytes(i))
    }
  }
}
