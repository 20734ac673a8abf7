package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}
import graft.ops._

/** The MP3 sample-decode differential (see [[graft.ops.Mp3Pcm]]): the
  * fixture PACKS real Layer III streams bit by bit and predicts the
  * exact Q16 PCM from the logical spectral content; the decoder must
  * reproduce every sample exactly, across every file class (window
  * ladder, short blocks, scfsi reuse, table-0 regions, bit reservoir). */
class Mp3PcmSpec extends SparkSpec {

  test("decoded Q16 samples equal the generator's prediction EXACTLY " +
      "(all files, all classes)") {
    for (i <- 0 until Mp3PcmFixture.count) {
      val name = f"pcm_$i%03d.mp3"
      val bytes = Mp3PcmFixture.mp3Bytes(i)
      val (row, got) = Mp3Pcm.decodeFile(name, bytes)
      val want = Mp3PcmSpec.expectedQ16(i)
      assert(row.n_frames === Mp3PcmFixture.framesOf(i).toLong)
      assert(row.n_samples === Mp3PcmFixture.framesOf(i) * 1152L)
      assert(got.length === want.length)
      got.indices.find(k => got(k) != want(k)).foreach { k =>
        fail(s"file $i: first sample mismatch at $k: " +
          s"got ${got(k)}, want ${want(k)}")
      }
      // the streams are not degenerate: spectral content must reach PCM
      assert(got.exists(_ != 0L), s"file $i decoded to silence")
    }
  }

  test("the class-4 reservoir really runs: frames after the first carry " +
      "main_data_begin = 7 and still decode exactly") {
    val i = 4
    assert(i % 5 === 4)
    val bytes = Mp3PcmFixture.mp3Bytes(i)
    // frame 1 starts after frame 0's length
    val len0 = Mp3.frameLen(Mp3.kbpsTable(Mp3PcmFixture.brIdxOf(i, 0)),
      Mp3.srTable(Mp3PcmFixture.srIdxOf(i)), Mp3PcmFixture.padOf(i, 0))
    val (mdb0, _, _) = Mp3Pcm.parseSideInfo(bytes, 4, "r.mp3")
    val (mdb1, scfsi, _) = Mp3Pcm.parseSideInfo(bytes, len0 + 4, "r.mp3")
    assert(mdb0 === 0)
    assert(mdb1 === 7, "the reservoir delta must appear in the side info")
    assert(scfsi.toSeq === Seq(1, 0, 1, 0), "class 4 pins scfsi reuse")
  }

  test("Huffman registry integrity: table 1 is a complete prefix code; " +
      "count1 table B round-trips every signed quadruple") {
    // Kraft equality and pairwise prefix-freeness
    val codes = Mp3Huff.table1.map(_._2)
    assert(codes.map { case (l, _) => math.pow(2.0, -l) }.sum === 1.0)
    for (a <- codes; b <- codes if a != b) {
      val ((la, ca), (lb, cb)) = (a, b)
      if (la <= lb)
        assert((cb >> (lb - la)) != ca, s"$a prefixes $b")
    }
    // every (v,w,x,y) in {-1,0,1}^4 with |.|<=1 survives pack -> parse
    for (v <- -1 to 1; x <- -1 to 1; y <- -1 to 1; z <- -1 to 1) {
      val w = new Mp3BitWriter
      Mp3Huff.encodeQuadB(w, math.abs(v), math.abs(x), math.abs(y),
        math.abs(z))
      Seq(v, x, y, z).foreach(t => if (t != 0) w.put(if (t < 0) 1 else 0, 1))
      val r = new Mp3BitReader(w.toBytes, "quad")
      val (dv, dx, dy, dz) = Mp3Huff.decodeQuadB(r)
      val signed = Seq(dv, dx, dy, dz).map { m =>
        if (m != 0 && r.bits(1) == 1) -m else m
      }
      assert(signed === Seq(v, x, y, z))
    }
  }

  test("polyphase structure: a subband impulse lands through the exact " +
      "N-matrixing and the U/W gather the spec prescribes") {
    for (k0 <- Seq(0, 5, 31)) {
      val st = new Mp3SynthState
      val s = new Array[Long](32)
      s(k0) = 1L << 16
      val out = st.polyphaseStep(s)
      // expected: V(i) = rs(N(i,k0) * 2^16, 30) for i < 64 and zero
      // above (fresh state), so of the 16 window terms only the b=0
      // gather U(j) = V(j) survives: out(j) = rs(V(j)*D(j), 30)
      def v(i: Int) = Mp3Fixed.rs(Mp3Fixed.nMatQ(i)(k0) * 65536L, 30)
      for (j <- 0 until 32) {
        val want = Mp3Fixed.rs(v(j) * Mp3Fixed.dWinQ(j), 30)
        assert(out(j) === want, s"impulse k=$k0 sample $j")
      }
      // a second step shifts that V down by 64: now the b=1 gather term
      // U(32+j) = V(96+j) = old V(32+j) joins in
      val out2 = st.polyphaseStep(new Array[Long](32))
      for (j <- 0 until 32) {
        val want = Mp3Fixed.rs(v(32 + j) * Mp3Fixed.dWinQ(32 + j), 30)
        assert(out2(j) === want, s"impulse step-2 k=$k0 sample $j")
      }
    }
  }

  test("refusals are loud: stereo, unregistered Huffman tables, mixed " +
      "blocks, count1 table A, truncated tails") {
    val good = Mp3PcmFixture.mp3Bytes(0)
    val stereo = good.clone()
    stereo(3) = 0x44.toByte // mode = joint stereo
    val e1 = intercept[IllegalArgumentException] {
      Mp3Pcm.decodeFile("s.mp3", stereo)
    }
    assert(e1.getMessage.contains("single_channel"))

    val e2 = intercept[IllegalArgumentException] {
      Mp3Huff.decodePair(new Mp3BitReader(Array[Byte](0), "t"), 16)
    }
    assert(e2.getMessage.contains("table 16"))

    // hand-built side info with window_switching + mixed_block_flag
    val w = new Mp3BitWriter
    w.put(0, 9); w.put(0, 5); (0 until 4).foreach(_ => w.put(0, 1))
    for (_ <- 0 until 2) {
      w.put(100, 12); w.put(0, 9); w.put(210, 8); w.put(0, 4)
      w.put(1, 1) // window_switching
      w.put(2, 2); w.put(1, 1) // block_type 2, MIXED
      w.put(1, 5); w.put(1, 5)
      (0 until 3).foreach(_ => w.put(0, 3))
      w.put(0, 1); w.put(0, 1); w.put(1, 1)
    }
    val e3 = intercept[IllegalArgumentException] {
      Mp3Pcm.parseSideInfo(w.toBytes, 0, "m.mp3")
    }
    assert(e3.getMessage.contains("mixed"))

    val e4 = intercept[IllegalArgumentException] {
      Mp3Pcm.decodeFile("t.mp3", good.take(good.length - 5))
    }
    assert(e4.getMessage.contains("overran") ||
      e4.getMessage.contains("truncated"))
  }

  test("decodeOf reads the on-disk corpus through binaryFile and matches " +
      "the per-file expectation rows") {
    val dir = Mp3PcmFixture.ensure()
    val rows = Mp3PcmSpec.decodeOf(
        spark.read.format("binaryFile").load(dir + "/*.mp3"))
      .collect().map(r => r.file_name -> r).toMap
    assert(rows.size === Mp3PcmFixture.count)
    for (i <- 0 until Mp3PcmFixture.count) {
      val name = f"pcm_$i%03d.mp3"
      val (want, _) = Mp3Pcm.decodeFile(name, Mp3PcmFixture.mp3Bytes(i))
      assert(rows(name) === want)
    }
  }
}

object Mp3PcmSpec {
  /** The decoder's expected exact Q16 PCM for file i, computed from the
    * LOGICAL spectral content (no bitstream involved): requantize each
    * scripted line through the shared exponent arithmetic and mapping,
    * alias-reduce, and run the shared synthesis state frame by frame. */
  def expectedQ16(i: Int): Array[Long] = {
    import Mp3PcmFixture._
    val srIdx = srIdxOf(i)
    val state = new Mp3SynthState
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (f <- 0 until framesOf(i); sc <- frameScripts(i, f)) {
      val xr = new Array[Long](576)
      val total = sc.bigEnd + 4 * sc.nq
      for (l <- 0 until total) {
        val v = sc.values(l)
        if (v != 0) {
          if (sc.bt == 2) {
            val (sfb, wn, logical) = Mp3Bands.shortMap(srIdx, l)
            val q4 = sc.gg - 210 - 8 * sc.sbg(wn) -
              2 * (sc.ss + 1) * sc.sfShort(wn)(sfb)
            xr(logical) = Mp3Fixed.requantQ16(v, q4)
          } else {
            val sfb = Mp3Bands.longZone(srIdx, l)
            val q4 = sc.gg - 210 -
              2 * (sc.ss + 1) * (sc.sfLong(sfb) + sc.pre * Mp3Bands.pretab(sfb))
            xr(l) = Mp3Fixed.requantQ16(v, q4)
          }
        }
      }
      if (sc.bt != 2) Mp3Pcm.aliasReduce(xr)
      out ++= state.granule(xr, sc.bt)
    }
    out.toArray
  }

  /** Decode a binaryFile frame of .mp3 files into one sample-summary row
    * per file (mapPartitions over [[Mp3Pcm.decodeFile]]). */
  def decodeOf(df: DataFrame): Dataset[Mp3PcmRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (n, bytes) => Mp3Pcm.decodeFile(n, bytes)._1 })
  }
}
