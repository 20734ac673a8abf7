package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal

/** Multimodal plumbing: binary frame sampling and the stubbed-decode
  * feature extraction (verified against an independent in-test
  * implementation, since the mapPartitions pass has no SQL oracle). */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def mediaDf = Seq(
    (1L, "image", "0123456789" * 60), // 600 bytes → 3 frames (capped at 4)
    (2L, "audio", "abc"),             // 3 bytes → 1 frame
    (3L, "video", "z" * 2000)         // 2000 bytes → capped at 4 frames
  ).toDF("doc_id", "modality", "text")
    .withColumn("content", encode(col("text"), "UTF-8"))

  test("resize: stride decimation matches the documented sampling contract") {
    val got = Multimodal.resize(mediaDf, targetBytes = 4)
      .collect().map(r => r.doc_id -> r).toMap
    // doc 1: n=600, stride=150 → positions 0,150,300,450 → "0010" (cyclic)
    val expected1 = Seq(0, 150, 300, 450).map(("0123456789" * 60)(_)).mkString
    assert(got(1L).in_bytes === 600 && got(1L).out_bytes === 4)
    assert(got(1L).resized_md5 ===
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected1.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // doc 2: n=3 < target → stride=1, all 3 bytes kept
    assert(got(2L).out_bytes === 3)
    // doc 3: n=2000, stride=500 → 4 samples
    assert(got(3L).out_bytes === 4)
  }

  test("sampleFrames: bounded count, correct slicing, binary stays binary") {
    val out = Multimodal.sampleFrames(mediaDf, "content")
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("len"),
        col("frame").cast("string").as("s"))
      .as[(Long, Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out(1L).map(_._3).toSeq === Seq(256, 256, 88))
    assert(out(1L).head._4 === ("0123456789" * 60).take(256))
    assert(out(2L).map(_._3).toSeq === Seq(3))
    assert(out(3L).size === 4) // 2000/256 = 7.8 frames, capped at maxFrames
  }

  test("extractFeatures matches an independent byte-stat implementation") {
    val got = Multimodal.extractFeatures(mediaDf)
      .collect().map(f => f.doc_id -> f).toMap
    val texts = Map(1L -> "0123456789" * 60, 2L -> "abc", 3L -> "z" * 2000)
    texts.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      val expectedSum = bytes.zipWithIndex
        .map { case (b, i) => (i + 1).toLong * (b & 0xff) }.sum
      assert(got(id).n_bytes === bytes.length)
      assert(got(id).checksum === expectedSum)
      val counts = bytes.groupBy(b => b & 0xff).view.mapValues(_.length)
      val maxCount = counts.values.max
      assert(got(id).peak_byte === counts.filter(_._2 == maxCount).keys.min)
    }
  }

  // --- real decode (r11): checked against the GENERATION FORMULA, not
  // the file bytes — a third independent derivation besides the JVM
  // decoder (header walk over bytes) and the DuckDB oracle (hex
  // arithmetic over the same bytes), so a bug shared by writer and
  // reader (e.g. both skipping row padding) still fails here.

  test("decodeWav recovers header fields and exact per-channel PCM stats") {
    val dir = graft.ops.MediaFixture.ensure()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".wav")).map(_.getAbsolutePath).sorted
    val got = graft.ops.MediaCodec.decodeWav(
        spark.read.format("binaryFile").load(files.toIndexedSeq: _*))
      .collect().map(r => (r.file_name, r.channel) -> r).toMap
    assert(got.size === (0 until MediaFixtureParams.n)
      .map(i => 1 + (i % 2)).sum)
    for (i <- 0 until MediaFixtureParams.n) {
      val ch = 1 + (i % 2)
      val frames = 64 + (i % 5) * 16
      val samples = (0 until frames * ch)
        .map(j => (j % ch, ((i * 7919 + j * 31) % 4001) - 2000))
      for (c <- 0 until ch) {
        val vs = samples.filter(_._1 == c).map(_._2)
        val r = got((f"wav_$i%03d.wav", c))
        assert(r.sample_rate === Seq(8000, 16000, 44100)(i % 3))
        assert(r.channels === ch && r.n_frames === frames)
        assert(r.sum_v === vs.map(_.toLong).sum)
        assert(r.sum_sq === vs.map(v => v.toLong * v).sum)
        assert(r.min_v === vs.min && r.max_v === vs.max)
      }
    }
  }

  test("malformed WAV chunks fail loudly (negative size, truncated data)") {
    import java.nio.{ByteBuffer, ByteOrder}
    def decode(bytes: Array[Byte]) = graft.ops.MediaCodec.decodeWav(
      spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row("mem/bad.wav", bytes)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType))))).collect()
    // chunk size -8 leaves the walk cursor unchanged: without the guard
    // the executor task spins forever (ADVICE r11)
    val neg = graft.ops.MediaFixture.wavBytes(0)
    val nb = ByteBuffer.wrap(neg).order(ByteOrder.LITTLE_ENDIAN)
    nb.putInt(16, -8) // fmt chunk size field
    val e1 = intercept[org.apache.spark.SparkException](decode(neg))
    assert(e1.getMessage.contains("invalid size") ||
      Option(e1.getCause).exists(_.getMessage.contains("invalid size")))
    // a data chunk whose declared size runs past the file must error
    // clearly, not ArrayIndexOutOfBounds
    val trunc = graft.ops.MediaFixture.wavBytes(0)
    val tb = ByteBuffer.wrap(trunc).order(ByteOrder.LITTLE_ENDIAN)
    tb.putInt(40, le32(trunc, 40) + 64) // data size beyond the buffer
    val e2 = intercept[org.apache.spark.SparkException](decode(trunc))
    assert(e2.getMessage.contains("invalid size") ||
      Option(e2.getCause).exists(_.getMessage.contains("invalid size")))
  }

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  test("decodePng inverts the JDK's own PNG encoder (real DEFLATE, " +
      "real per-row filters)") {
    // javax.imageio is an INDEPENDENT encoder: it picks its own filter
    // types per row and compresses with real DEFLATE, so this round-trip
    // exercises the inflate + all-filter unfilter path the stored-block
    // gate fixture cannot (that fixture is filter-0 by construction).
    import java.awt.image.BufferedImage
    for (i <- 0 until 12) {
      val w = 5 + i % 7; val h = 4 + i % 5
      val kind = i % 3 // 0 = RGB, 1 = ARGB, 2 = grayscale
      val img = new BufferedImage(w, h, kind match {
        case 0 => BufferedImage.TYPE_INT_RGB
        case 1 => BufferedImage.TYPE_INT_ARGB
        case _ => BufferedImage.TYPE_BYTE_GRAY
      })
      def px(x: Int, y: Int, c: Int) = (i * 29 + x * 3 + y * 11 + c * 17) % 256
      for (x <- 0 until w; y <- 0 until h) {
        if (kind == 2) img.getRaster.setSample(x, y, 0, px(x, y, 0))
        else {
          val a = if (kind == 1) px(x, y, 3) else 255
          img.setRGB(x, y, (a << 24) | (px(x, y, 0) << 16) |
            (px(x, y, 1) << 8) | px(x, y, 2))
        }
      }
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      withTempDir("graft_png_rt") { out =>
        java.nio.file.Files.write(out.toPath.resolve("rt.png"), baos.toByteArray)
        val got = graft.ops.MediaCodec.decodePng(
            spark.read.format("binaryFile").load(out.toString + "/rt.png"))
          .collect().map(r => r.channel -> r).toMap
        val bpp = kind match { case 0 => 3; case 1 => 4; case _ => 1 }
        assert(got.size === bpp)
        for (c <- 0 until bpp) {
          val vs = for (x <- 0 until w; y <- 0 until h) yield (y, px(x, y, c))
          val r = got(c)
          assert(r.width === w && r.height === h)
          assert(r.color_type === (kind match {
            case 0 => 2; case 1 => 6; case _ => 0 }))
          assert(r.n_px === w.toLong * h)
          assert(r.sum_v === vs.map(_._2.toLong).sum,
            s"i=$i c=$c sum mismatch")
          assert(r.row_weighted === vs.map { case (y, v) =>
            (y + 1).toLong * v }.sum, s"i=$i c=$c row_weighted mismatch")
        }
      }
    }
  }

  test("decodePng: gate fixture parses to the generation formula and " +
      "unsupported shapes fail loudly") {
    import graft.ops.PngFixture
    for (i <- Seq(0, 1, 7, 31)) {
      val got = graft.ops.MediaCodec.decodePng(
          spark.createDataFrame(java.util.List.of(
            org.apache.spark.sql.Row(s"mem/img_$i.png", PngFixture.pngBytes(i))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("path",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("content",
              org.apache.spark.sql.types.BinaryType))))).collect()
      val bpp = PngFixture.colorTypeOf(i) match {
        case 0 => 1; case 2 => 3; case _ => 4 }
      assert(got.length === bpp)
      for (r <- got) {
        val exp = (for (x <- 0 until r.width; y <- 0 until r.height)
          yield PngFixture.pixel(i, x, y, r.channel).toLong).sum
        assert(r.sum_v === exp, s"i=$i c=${r.channel}")
      }
    }
    // interlace flag FLIPPED on a non-interlaced stream (r17: Adam7
    // itself now decodes): the pass framing disagrees with the actual
    // scanline bytes and the exact-length landing refuses loudly
    val bad = PngFixture.pngBytes(0)
    bad(28) = 1 // IHDR interlace byte (8 sig + 8 hdr + 12 offset)
    val e = intercept[org.apache.spark.SparkException] {
      graft.ops.MediaCodec.decodePng(
        spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row("mem/bad.png", bad)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType))))).collect()
    }
    def chainMsg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(chainMsg).getOrElse("")
    assert(chainMsg(e).contains("IDAT decodes to") ||
      chainMsg(e).contains("expected"))
  }

  private def pngDf(name: String, bytes: Array[Byte]) =
    spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(s"mem/$name", bytes)),
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType))))

  test("decodePng inverts the JDK's own PALETTE encoder (TYPE_BYTE_INDEXED " +
      "+ IndexColorModel -> color type 3) at exact equality") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // a full 256-entry opaque palette forces the JDK writer to 8-bit
    // indexed output — an INDEPENDENT palette encoder for the r17 path
    val rs = Array.tabulate(256)(k => ((k * 37 + 11) % 256).toByte)
    val gs = Array.tabulate(256)(k => ((k * 59 + 7) % 256).toByte)
    val bs = Array.tabulate(256)(k => ((k * 83 + 3) % 256).toByte)
    val icm = new IndexColorModel(8, 256, rs, gs, bs)
    val w = 9; val h = 7
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (x <- 0 until w; y <- 0 until h)
      img.getRaster.setSample(x, y, 0, (x * 31 + y * 17) % 256)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val got = graft.ops.MediaCodec.decodePng(pngDf("jdkpal.png",
      baos.toByteArray)).collect().map(r => r.channel -> r).toMap
    assert(got.size === 3)
    assert(got(0).color_type === 3,
      "the JDK must have written an indexed PNG for this to test the path")
    for (c <- 0 until 3) {
      val vs = for (x <- 0 until w; y <- 0 until h) yield {
        val rgb = img.getRGB(x, y)
        (y, (rgb >> (16 - 8 * c)) & 0xff)
      }
      assert(got(c).n_px === w.toLong * h)
      assert(got(c).sum_v === vs.map(_._2.toLong).sum, s"c=$c")
      assert(got(c).row_weighted ===
        vs.map { case (y, v) => (y + 1).toLong * v }.sum, s"c=$c")
    }
  }

  test("decodePng inverts the JDK's SUB-BYTE palette encodes (16-entry " +
      "ICM -> depth 4, TYPE_BYTE_BINARY -> depth 1) at exact equality") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    def check(img: BufferedImage, name: String, wantDepth: Int): Unit = {
      val w = img.getWidth; val h = img.getHeight
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      val bytes = baos.toByteArray
      assert((bytes(24) & 0xff) === wantDepth,
        s"$name: JDK wrote depth ${bytes(24)}, wanted $wantDepth")
      assert((bytes(25) & 0xff) === 3, s"$name: not indexed")
      val got = graft.ops.MediaCodec.decodePng(pngDf(name, bytes))
        .collect().map(r => r.channel -> r).toMap
      assert(got.size === 3, name)
      for (c <- 0 until 3) {
        val vs = for (x <- 0 until w; y <- 0 until h)
          yield ((img.getRGB(x, y) >> (16 - 8 * c)) & 0xff).toLong
        assert(got(c).sum_v === vs.sum, s"$name c=$c")
      }
    }
    // 16-entry opaque palette: the JDK packs indices at 4 bits
    val n16 = 16
    val r16a = Array.tabulate(n16)(k => ((k * 37 + 11) % 256).toByte)
    val g16 = Array.tabulate(n16)(k => ((k * 59 + 7) % 256).toByte)
    val b16 = Array.tabulate(n16)(k => ((k * 83 + 3) % 256).toByte)
    // a 4-bit ICM's compatible raster is MultiPixelPacked — that is
    // what makes the JDK writer emit a depth-4 file (TYPE_BYTE_INDEXED
    // would keep an 8-bit raster and an 8-bit encode)
    val icm4 = new IndexColorModel(4, n16, r16a, g16, b16)
    val img4 = new BufferedImage(icm4,
      icm4.createCompatibleWritableRaster(11, 6), false, null)
    for (x <- 0 until 11; y <- 0 until 6)
      img4.getRaster.setSample(x, y, 0, (x * 5 + y * 3) % n16)
    check(img4, "jdk4.png", 4)
    // two-entry palette (TYPE_BYTE_BINARY): 1-bit packing
    val img1 = new BufferedImage(13, 5, BufferedImage.TYPE_BYTE_BINARY,
      new IndexColorModel(1, 2, Array[Byte](30, 200.toByte),
        Array[Byte](60, 90), Array[Byte](10, 250.toByte)))
    for (x <- 0 until 13; y <- 0 until 5)
      img1.getRaster.setSample(x, y, 0, (x + y) % 2)
    check(img1, "jdk1.png", 1)
  }

  test("decodePng: palette gate fixture matches the generation formula " +
      "(tRNS alpha included); malformed palette shapes refuse loudly") {
    import graft.ops.PngFixture
    // i mod 4 cycles bit depth 8/4/2/1 — all four packings covered
    for (i <- Seq(0, 1, 5, 6, 11)) {
      val got = graft.ops.MediaCodec.decodePng(
          pngDf(s"pimg_$i.png", PngFixture.pngPaletteBytes(i)))
        .collect().map(r => r.channel -> r).toMap
      val outCh = if (PngFixture.hasTrnsOf(i)) 4 else 3
      assert(got.size === outCh, s"i=$i")
      assert(got(0).color_type === 3)
      for (c <- 0 until outCh) {
        val vs = for (x <- 0 until PngFixture.pWidthOf(i);
                      y <- 0 until PngFixture.pHeightOf(i)) yield {
          val idx = PngFixture.idxOf(i, x, y)
          val v =
            if (c < 3) PngFixture.palByteOf(i, 3 * idx + c)
            else if (idx < PngFixture.nTrnsOf(i))
              PngFixture.trnsByteOf(i, idx)
            else 255
          (y, v)
        }
        assert(got(c).sum_v === vs.map(_._2.toLong).sum, s"i=$i c=$c")
        assert(got(c).row_weighted === vs.map { case (y, v) =>
          (y + 1).toLong * v }.sum, s"i=$i c=$c")
      }
    }
    def decodeErr(name: String, bytes: Array[Byte]): String = {
      val e = intercept[org.apache.spark.SparkException] {
        graft.ops.MediaCodec.decodePng(pngDf(name, bytes)).collect()
      }
      def msg(t: Throwable): String =
        Option(t.getMessage).getOrElse("") +
          Option(t.getCause).map(msg).getOrElse("")
      msg(e)
    }
    // an index past the palette refuses with coordinates: rebuild
    // fixture 0 with its PLTE truncated to 2 entries (indices reach 4)
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
      bb.putInt(body.length).put(typ.getBytes("US-ASCII")).put(body)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(body)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val full = PngFixture.pngPaletteBytes(0)
    val plteLen = 3 * PngFixture.nPalOf(0)
    val shortPng = full.take(33) ++
      chunk("PLTE", Array.tabulate(6)(k => PngFixture.palByteOf(0, k)
        .toByte)) ++ full.drop(33 + 12 + plteLen)
    assert(decodeErr("short.png", shortPng).contains("palette entry"))
    // tRNS longer than the palette
    val overTrns = full.take(33 + 12 + plteLen) ++
      chunk("tRNS", new Array[Byte](PngFixture.nPalOf(0) + 1)) ++
      full.drop(33 + 12 + plteLen)
    assert(decodeErr("over.png", overTrns)
      .contains(s"${PngFixture.nPalOf(0)}-entry palette"))
    // a palette image with no PLTE at all
    val noPlte = full.take(33) ++ full.drop(33 + 12 + plteLen)
    assert(decodeErr("noplte.png", noPlte).contains("no PLTE"))
    // duplicate tRNS refuses like duplicate PLTE (review r17)
    val f1 = PngFixture.pngPaletteBytes(1)
    val plteLen1 = 3 * PngFixture.nPalOf(1)
    val tStart = 33 + 12 + plteLen1
    val tTotal = 12 + PngFixture.nTrnsOf(1)
    val dupTrns = f1.take(tStart + tTotal) ++
      f1.slice(tStart, tStart + tTotal) ++ f1.drop(tStart + tTotal)
    assert(decodeErr("duptrns.png", dupTrns).contains("duplicate tRNS"))
    // PLTE on a grayscale image is a spec violation
    val grayPlte = PngFixture.pngBytes(0).take(33) ++
      chunk("PLTE", new Array[Byte](3)) ++ PngFixture.pngBytes(0).drop(33)
    assert(decodeErr("grayplte.png", grayPlte).contains("grayscale"))
  }

  test("decodePng: non-8-bit grayscale — sub-byte scans scale by " +
      "255/(2^d-1), 16-bit renders the hi byte; JDK USHORT_GRAY " +
      "differential at exact equality") {
    import graft.ops.PngFixture
    for (i <- 0 until PngFixture.grayCount) {
      val got = graft.ops.MediaCodec.decodePng(
          pngDf(s"gimg_$i.png", PngFixture.pngGrayBytes(i))).collect()
      assert(got.length === 1, s"i=$i")
      val r = got.head
      assert(r.color_type === 0 && r.channel === 0)
      val d = PngFixture.gDepthOf(i)
      val vs = for (x <- 0 until PngFixture.gWidthOf(i);
                    y <- 0 until PngFixture.gHeightOf(i)) yield {
        val s = PngFixture.gSampleOf(i, x, y)
        (y, if (d == 16) s >> 8 else s * (255 / ((1 << d) - 1)))
      }
      assert(r.sum_v === vs.map(_._2.toLong).sum, s"i=$i d=$d")
      assert(r.row_weighted === vs.map { case (y, v) =>
        (y + 1).toLong * v }.sum, s"i=$i d=$d")
    }
    // the JDK's own 16-bit gray encoder (TYPE_USHORT_GRAY -> depth-16
    // type 0, real DEFLATE + its own filters): rendered hi bytes match
    val img = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (x <- 0 until 9; y <- 0 until 7)
      img.getRaster.setSample(x, y, 0, (x * 7919 + y * 104729) % 65536)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val bytes = baos.toByteArray
    assert((bytes(24) & 0xff) === 16 && (bytes(25) & 0xff) === 0,
      s"JDK wrote depth ${bytes(24)} type ${bytes(25)}")
    val got = graft.ops.MediaCodec.decodePng(pngDf("jdk16.png", bytes))
      .collect().head
    val exp = (for (x <- 0 until 9; y <- 0 until 7)
      yield (img.getRaster.getSample(x, y, 0) >> 8).toLong).sum
    assert(got.sum_v === exp)
  }

  test("decodePng: Adam7 interlace matches the JDK's own progressive " +
      "encodes across types, depths, and partial-pass geometries") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    def encodeProgressive(img: BufferedImage): Array[Byte] = {
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png")
        .next()
      val p = wr.getDefaultWriteParam
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bo = new java.io.ByteArrayOutputStream()
      wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bo))
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      wr.dispose()
      bo.toByteArray
    }
    // geometries straddle the 8x8 pass grid: 1x1 leaves six of seven
    // passes EMPTY (they must contribute zero bytes, not filter bytes),
    // 3x2/5x9 exercise partial passes, 13x11 odd both ways
    val sizes = Seq((1, 1), (3, 2), (5, 9), (8, 8), (13, 11))
    val icm16 = new IndexColorModel(4, 16,
      Array.tabulate(16)(k => ((k * 37 + 11) % 256).toByte),
      Array.tabulate(16)(k => ((k * 59 + 7) % 256).toByte),
      Array.tabulate(16)(k => ((k * 83 + 3) % 256).toByte))
    for ((w, h) <- sizes; kind <- 0 until 5) {
      val img = kind match {
        case 0 => new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        case 1 => new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
        case 2 => new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        case 3 => new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
        case _ => new BufferedImage(icm16,
          icm16.createCompatibleWritableRaster(w, h), false, null)
      }
      def px(x: Int, y: Int, c: Int) = (x * 29 + y * 47 + c * 13) % 256
      for (x <- 0 until w; y <- 0 until h) kind match {
        case 0 => img.setRGB(x, y,
          (px(x, y, 0) << 16) | (px(x, y, 1) << 8) | px(x, y, 2))
        case 1 => img.setRGB(x, y, (px(x, y, 3) << 24) |
          (px(x, y, 0) << 16) | (px(x, y, 1) << 8) | px(x, y, 2))
        case 2 => img.getRaster.setSample(x, y, 0, px(x, y, 0))
        case 3 => img.getRaster.setSample(x, y, 0,
          (x * 7919 + y * 104729) % 65536)
        case _ => img.getRaster.setSample(x, y, 0, (x * 5 + y * 3) % 16)
      }
      val bytes = encodeProgressive(img)
      val tag = s"${w}x$h kind$kind"
      assert((bytes(28) & 0xff) === 1, s"$tag: JDK did not interlace")
      val got = graft.ops.MediaCodec.decodePng(pngDf("adam7.png", bytes))
        .collect().map(r => r.channel -> r).toMap
      val nCh = got.size
      for (c <- 0 until nCh) {
        val exp = (for (x <- 0 until w; y <- 0 until h) yield {
          (if (kind == 3) img.getRaster.getSample(x, y, 0) >> 8
           else if (kind == 2) img.getRaster.getSample(x, y, 0)
           else (img.getRGB(x, y) >> (if (c == 3) 24 else 16 - 8 * c))
             & 0xff).toLong
        }).sum
        assert(got(c).sum_v === exp, s"$tag c=$c")
      }
    }
    // an unknown interlace METHOD still refuses by value
    val bad = graft.ops.PngFixture.pngBytes(0)
    bad(28) = 2
    val e = intercept[org.apache.spark.SparkException] {
      graft.ops.MediaCodec.decodePng(pngDf("bad7.png", bad)).collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("unknown interlace method"))
  }

  test("decodePng: FDICT zlib stream refuses loudly instead of spinning") {
    // ADVICE r12: Inflater.inflate returns 0 with needsInput=false and
    // finished=false on a preset-dictionary stream — before the guard the
    // inflate loop spun forever on the executor. A minimal 1x1 gray PNG
    // whose IDAT is a legal zlib header with FDICT set (0x78 0x20 —
    // (0x78*256+0x20) % 31 == 0) plus the 4-byte DICTID:
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
      bb.putInt(body.length).put(typ.getBytes("US-ASCII")).put(body)
      bb.putInt(0) // CRC unchecked by the decode contract
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(1).putInt(1).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val png = Array[Byte](137.toByte, 80, 78, 71, 13, 10, 26, 10) ++
      chunk("IHDR", ihdr) ++
      chunk("IDAT", Array[Byte](0x78, 0x20, 1, 2, 3, 4)) ++
      chunk("IEND", Array.empty)
    val e = intercept[org.apache.spark.SparkException] {
      graft.ops.MediaCodec.decodePng(
        spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row("mem/fdict.png", png)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType))))).collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("FDICT"), msg(e).take(200))
  }

  test("decodeBmp: palette files (8/4/1 bpp) and top-down rows match " +
      "the generation formulas; JDK BMP-writer differential at exact " +
      "equality") {
    import graft.ops.MediaFixture
    // fixture formulas: every depth, both orientations
    for (i <- 0 until MediaFixture.palBmpCount) {
      val got = graft.ops.MediaCodec.decodeBmp(
          pngDf(s"bmpp_$i.bmp", MediaFixture.bmpPaletteBytes(i)))
        .collect().map(r => r.channel -> r).toMap
      assert(got.size === 3, s"i=$i")
      for (c <- 0 until 3) {
        val vs = for (x <- 0 until MediaFixture.pbWidthOf(i);
                      y <- 0 until MediaFixture.pbHeightOf(i)) yield
          (y, MediaFixture.pbPalOf(i, MediaFixture.pbIdxOf(i, x, y), c))
        assert(got(c).sum_v === vs.map(_._2.toLong).sum,
          s"i=$i c=$c bpp=${MediaFixture.pbBppOf(i)}")
        assert(got(c).row_weighted === vs.map { case (y, v) =>
          (y + 1).toLong * v }.sum,
          s"i=$i c=$c topdown=${MediaFixture.pbTopDownOf(i)}")
      }
    }
    // the JDK's own BMP writer on indexed images (8bpp via
    // TYPE_BYTE_INDEXED, 1bpp via TYPE_BYTE_BINARY): channel order is
    // the stored B,G,R
    import java.awt.image.{BufferedImage, IndexColorModel}
    def check(img: BufferedImage, name: String): Unit = {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "bmp", baos))
      val got = graft.ops.MediaCodec.decodeBmp(pngDf(name,
        baos.toByteArray)).collect().map(r => r.channel -> r).toMap
      for (c <- 0 until 3) {
        val exp = (for (x <- 0 until img.getWidth;
                        y <- 0 until img.getHeight)
          yield ((img.getRGB(x, y) >> (8 * c)) & 0xff).toLong).sum
        assert(got(c).sum_v === exp, s"$name c=$c")
      }
    }
    val img8 = new BufferedImage(9, 6, BufferedImage.TYPE_BYTE_INDEXED)
    for (x <- 0 until 9; y <- 0 until 6)
      img8.getRaster.setSample(x, y, 0, (x * 31 + y * 17) % 256)
    check(img8, "jdk8.bmp")
    val img1 = new BufferedImage(11, 5, BufferedImage.TYPE_BYTE_BINARY,
      new IndexColorModel(1, 2, Array[Byte](40, 210.toByte),
        Array[Byte](70, 99), Array[Byte](20, 240.toByte)))
    for (x <- 0 until 11; y <- 0 until 5)
      img1.getRaster.setSample(x, y, 0, (x + y) % 2)
    check(img1, "jdk1.bmp")
  }

  test("decodeBmp flips bottom-up rows and skips row padding") {
    val dir = graft.ops.MediaFixture.ensure()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bmp")).map(_.getAbsolutePath).sorted
    val got = graft.ops.MediaCodec.decodeBmp(
        spark.read.format("binaryFile").load(files.toIndexedSeq: _*))
      .collect().map(r => (r.file_name, r.channel) -> r).toMap
    for (i <- 0 until MediaFixtureParams.n; c <- 0 until 3) {
      val w = 4 + (i % 5); val h = 3 + (i % 4)
      val px = for (y <- 0 until h; x <- 0 until w)
        yield (y, (i * 13 + x * 7 + y * 11 + c * 5) % 256)
      val r = got((f"bmp_$i%03d.bmp", c))
      assert(r.width === w && r.height === h)
      assert(r.n_px === w.toLong * h)
      assert(r.sum_v === px.map(_._2.toLong).sum)
      assert(r.row_weighted === px.map { case (y, v) => (y + 1).toLong * v }.sum)
    }
  }
}

private object MediaFixtureParams { val n = graft.ops.MediaFixture.count }
