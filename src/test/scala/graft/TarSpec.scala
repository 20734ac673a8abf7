package graft

import graft.ops.{Tar, TarFixture}

class TarSpec extends SparkSpec {

  test("block walk + checksum verify matches the fixture formulas") {
    for (i <- 0 until TarFixture.count) {
      val rows = Tar.parse(f"shard_$i%03d.tar", TarFixture.tarBytes(i))
      assert(rows.length === 2 * TarFixture.samplesOf(i))
      for (k <- 0 until TarFixture.samplesOf(i)) {
        val txt = rows(2 * k); val cls = rows(2 * k + 1)
        assert(txt.entry_name === s"sample_${i}_$k.txt")
        assert(txt.entry_idx === 2 * k)
        assert(txt.type_flag === "0")
        assert(txt.text === TarFixture.textOf(i, k))
        assert(txt.size === TarFixture.textOf(i, k).length.toLong)
        assert(cls.entry_name === s"sample_${i}_$k.cls")
        assert(cls.text === TarFixture.clsOf(i, k))
      }
    }
  }

  test("WebDataset sample reassembly: pairing members by name stem") {
    val rows = Tar.parse("shard_003.tar", TarFixture.tarBytes(3))
    val samples = rows.groupBy(_.entry_name.split('.').head)
    assert(samples.size === TarFixture.samplesOf(3))
    samples.foreach { case (_, ms) =>
      assert(ms.map(_.entry_name.split('.').last).toSet === Set("txt", "cls"))
    }
  }

  test("ustar prefix field reassembles long member names") {
    // legal ustar long name: prefix (offset 345) + '/' + name; ignoring
    // the field would silently truncate the name while the checksum
    // still verifies (ADVICE r14)
    val tar = Tar.tarBytes(Seq(("name.txt",
      "hello".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    val pfx = "deep/dir/tree"
    System.arraycopy(
      pfx.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
      tar, 345, pfx.length)
    // re-checksum header 0 with the chksum field as spaces
    for (i <- 148 until 156) tar(i) = ' '
    val sum = (0 until 512).map(i => tar(i) & 0xff).sum
    System.arraycopy(f"$sum%06o"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
      tar, 148, 6)
    val rows = Tar.parse("p.tar", tar)
    assert(rows.head.entry_name === "deep/dir/tree/name.txt")
    assert(rows.head.text === "hello")

    // GNU-format header (version " \0" instead of POSIX "00"): offset
    // 345 holds atime/ctime octal text, NOT a prefix — it must not
    // become a bogus path component (review r15)
    val gnu = Tar.tarBytes(Seq(("name.txt",
      "hello".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    gnu(263) = ' '; gnu(264) = 0
    val junk = "14332221505"
    System.arraycopy(
      junk.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
      gnu, 345, junk.length)
    for (i <- 148 until 156) gnu(i) = ' '
    val gsum = (0 until 512).map(i => gnu(i) & 0xff).sum
    System.arraycopy(f"$gsum%06o"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
      gnu, 148, 6)
    assert(Tar.parse("g.tar", gnu).head.entry_name === "name.txt")
  }

  test("GNU longname ('L') members apply to the following member and " +
      "materialize no entry of their own") {
    val longName = "very/deep/dataset/shard/path/that/overflows/the/" +
      "hundred/byte/ustar/name/field/by/some/margin/sample_000000042.txt"
    assert(longName.length > 100)
    def member(name: String, tf: Char,
        payload: Array[Byte]): Array[Byte] = {
      val h = Tar.header(name, payload.length)
      h(156) = tf.toByte
      // re-checksum with the chksum field as spaces
      for (i <- 148 until 156) h(i) = ' '
      val sum = h.map(_ & 0xff).sum
      System.arraycopy(f"$sum%06o"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
        h, 148, 6)
      h(154) = 0; h(155) = ' '
      val pad = (512 - payload.length % 512) % 512
      h ++ payload ++ new Array[Byte](pad)
    }
    val lPayload = (longName + "\u0000")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val tar = member("././@LongLink", 'L', lPayload) ++
      member(longName.takeRight(100), '0',
        "payload text".getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
      member("short.txt", '0',
        "other".getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
      new Array[Byte](1024)
    val rows = Tar.parse("gnu.tar", tar)
    assert(rows.length === 2)
    assert(rows(0).entry_name === longName)
    assert(rows(0).text === "payload text")
    assert(rows(0).entry_idx === 0)
    // the longname applies ONLY to the next member
    assert(rows(1).entry_name === "short.txt")
    // a dangling L at the end refuses
    val dangling = member("././@LongLink", 'L', lPayload) ++
      new Array[Byte](1024)
    val e = intercept[IllegalArgumentException](Tar.parse("d.tar", dangling))
    assert(e.getMessage.contains("dangling GNU longname"))
  }

  test("PAX 'x' headers override the following member's path and size; " +
      "'g' sets global defaults; both materialize no entry") {
    // PAX differential: the fixture's pax shards carry the SAME logical
    // samples a plain-ustar twin would, reachable only through the 'x'
    // path records (ustar name field holds a truncation)
    for (i <- 0 until graft.ops.TarFixture.paxCount) {
      val rows = Tar.parse(f"paxshard_$i%03d.tar",
        graft.ops.TarFixture.paxTarBytes(i))
      assert(rows.length === 2 * graft.ops.TarFixture.paxSamplesOf(i))
      for (k <- 0 until graft.ops.TarFixture.paxSamplesOf(i)) {
        val txt = rows(2 * k); val cls = rows(2 * k + 1)
        assert(txt.entry_name === graft.ops.TarFixture.paxLongNameOf(i, k))
        assert(txt.entry_name.length > 100,
          "the PAX path must exceed the ustar name field")
        assert(txt.text === graft.ops.TarFixture.paxTextOf(i, k))
        assert(txt.entry_idx === 2 * k, "metadata members must not index")
        assert(cls.entry_name === s"sample_${i}_$k.cls",
          "the 'x' override applies to exactly ONE following member")
        assert(cls.text === graft.ops.TarFixture.paxClsOf(i, k))
      }
    }

    // 'g' global default applied across members + empty-value deletion
    val g1 = Tar.tarBytesTyped(Seq(
      ("g_hdr", 'g', Tar.paxRecord("path", "global/override.txt")),
      ("a.txt", '0', "aa".getBytes("US-ASCII")),
      ("g_hdr2", 'g', Tar.paxRecord("path", "")), // delete the default
      ("b.txt", '0', "bb".getBytes("US-ASCII"))))
    val gr = Tar.parse("g.tar", g1)
    assert(gr.map(_.entry_name) === Seq("global/override.txt", "b.txt"))

    // an EMPTY 'x' value is POSIX's per-member deletion: it suppresses
    // the 'g' default too and reverts to the ustar header name; the
    // member AFTER it still sees the global (review r17)
    val del = Tar.tarBytesTyped(Seq(
      ("g_hdr", 'g', Tar.paxRecord("path", "global/override.txt")),
      ("PaxHeaders.0/real", 'x', Tar.paxRecord("path", "")),
      ("real.txt", '0', "rr".getBytes("US-ASCII")),
      ("b.txt", '0', "bb".getBytes("US-ASCII"))))
    assert(Tar.parse("d.tar", del).map(_.entry_name) ===
      Seq("real.txt", "global/override.txt"))
    // an empty 'x' size likewise reverts to the header octal field
    val szDel = Tar.tarBytesTyped(Seq(
      ("PaxHeaders.0/a", 'x', Tar.paxRecord("size", "")),
      ("a.txt", '0', "abc".getBytes("US-ASCII"))))
    assert(Tar.parse("s2.tar", szDel).head.size === 3L)

    // 'x' size override: the header octal says 0 but the PAX record
    // carries the real size (how tarfile stores >8 GiB members) — the
    // walk must advance by the override or mis-frame what follows
    def member0(payload: Array[Byte]): Array[Byte] = {
      val h = Tar.header("big.bin", 0) // header size field: 0
      for (i <- 148 until 156) h(i) = ' '
      val sum = h.map(_ & 0xff).sum
      System.arraycopy(f"$sum%06o  "
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
        h, 148, 8)
      val pad = (512 - payload.length % 512) % 512
      h ++ payload ++ new Array[Byte](pad)
    }
    def meta(name: String, tf: Char, payload: Array[Byte]): Array[Byte] = {
      val h = Tar.header(name, payload.length)
      h(156) = tf.toByte
      for (i <- 148 until 156) h(i) = ' '
      val sum = h.map(_ & 0xff).sum
      System.arraycopy(f"$sum%06o  "
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0,
        h, 148, 8)
      val pad = (512 - payload.length % 512) % 512
      h ++ payload ++ new Array[Byte](pad)
    }
    val data = "hello".getBytes("US-ASCII")
    val sized = meta("PaxHeaders.0/big.bin", 'x',
        Tar.paxRecord("size", "5")) ++
      member0(data) ++
      meta("after.txt", '0', "tail".getBytes("US-ASCII")) ++
      new Array[Byte](1024)
    val sr = Tar.parse("s.tar", sized)
    assert(sr.map(e => (e.entry_name, e.size, e.text)) === Seq(
      ("big.bin", 5L, "hello"), ("after.txt", 4L, "tail")))
  }

  test("malformed PAX blocks refuse loudly") {
    def tarWith(payload: Array[Byte], withData: Boolean = true) = {
      val tail = if (withData)
        Tar.tarBytes(Seq(("a.txt", "aa".getBytes("US-ASCII"))))
      else new Array[Byte](1024)
      Tar.tarBytesTyped(Seq(("PaxHeaders.0/a.txt", 'x', payload)))
        .dropRight(1024) ++ tail
    }
    // non-digit length prefix
    val e1 = intercept[IllegalArgumentException] {
      Tar.parse("p.tar", tarWith("x9 path=a\n".getBytes("US-ASCII")))
    }
    assert(e1.getMessage.contains("non-digit"))
    // length overruns the block
    val e2 = intercept[IllegalArgumentException] {
      Tar.parse("p.tar", tarWith("99 path=a\n".getBytes("US-ASCII")))
    }
    assert(e2.getMessage.contains("overruns"))
    // record not newline-terminated
    val e3 = intercept[IllegalArgumentException] {
      Tar.parse("p.tar", tarWith("9 path=aX".getBytes("US-ASCII")))
    }
    assert(e3.getMessage.contains("newline"))
    // no key=value form
    val e4 = intercept[IllegalArgumentException] {
      Tar.parse("p.tar", tarWith("8 patha\n".getBytes("US-ASCII")))
    }
    assert(e4.getMessage.contains("key=value"))
    // dangling 'x' with no following member
    val e5 = intercept[IllegalArgumentException] {
      Tar.parse("p.tar",
        tarWith(Tar.paxRecord("path", "a.txt"), withData = false))
    }
    assert(e5.getMessage.contains("dangling PAX"))
    // consecutive 'x' members
    val two = Tar.tarBytesTyped(Seq(
      ("PaxHeaders.0/a", 'x', Tar.paxRecord("path", "a.txt")),
      ("PaxHeaders.0/b", 'x', Tar.paxRecord("path", "b.txt")),
      ("a.txt", '0', "aa".getBytes("US-ASCII"))))
    val e6 = intercept[IllegalArgumentException] { Tar.parse("p.tar", two) }
    assert(e6.getMessage.contains("consecutive PAX"))
  }

  test("malformed archives refuse loudly") {
    val good = TarFixture.tarBytes(0)
    // corrupted header byte -> checksum mismatch
    val bad = good.clone()
    bad(0) = 'X'
    val e1 = intercept[IllegalArgumentException] { Tar.parse("c.tar", bad) }
    assert(e1.getMessage.contains("checksum"))
    // bad magic
    val bad2 = good.clone()
    bad2(257) = 'X'
    val e2 = intercept[IllegalArgumentException] { Tar.parse("m.tar", bad2) }
    assert(e2.getMessage.contains("magic"))
    // truncated: terminator gone
    val e3 = intercept[IllegalArgumentException] {
      Tar.parse("t.tar", good.take(good.length - 1024))
    }
    assert(e3.getMessage.contains("terminator") ||
      e3.getMessage.contains("overruns"))
    // non-block-aligned
    val e4 = intercept[IllegalArgumentException] {
      Tar.parse("a.tar", good.take(good.length - 7))
    }
    assert(e4.getMessage.contains("block-aligned"))
    // trailing garbage after the terminator
    val e5 = intercept[IllegalArgumentException] {
      Tar.parse("g.tar", good ++ new Array[Byte](512))
    }
    assert(e5.getMessage.contains("trailing"))
  }

  test("writeShards round-trips real pipeline rows, UTF-8 included") {
    import spark.implicits._
    val rows = Seq(
      ("doc_0.txt", "plain ascii text"),
      ("doc_0.cls", "7"),
      ("doc_1.txt", "accented café — naïve résumé 日本語"),
      ("doc_1.cls", "3"))
    withTempDir("graft_tar_rt_spec") { dir =>
      Tar.writeShards(rows.toDF("m_name", "m_text").repartition(2),
        "m_name", "m_text", dir.getAbsolutePath)
      val got = Tar.scanTar(spark.read.format("binaryFile")
          .load(dir.getAbsolutePath + "/*.tar"))
        .collect().map(e => e.entry_name -> e).toMap
      assert(got.size === 4)
      rows.foreach { case (n, t) =>
        assert(got(n).text === t)
        assert(got(n).size === t.getBytes("UTF-8").length.toLong,
          "header size must be the UTF-8 octet count")
      }
    }
  }

  test("scanTar reads the on-disk fixture through binaryFile") {
    val dir = TarFixture.ensure()
    val got = Tar.scanTar(
        spark.read.format("binaryFile").load(dir + "/*.tar"))
      .collect().groupBy(_.file_name)
    assert(got.size === TarFixture.count)
    for (i <- 0 until TarFixture.count)
      assert(got(f"shard_$i%03d.tar").length === 2 * TarFixture.samplesOf(i))
  }
}
