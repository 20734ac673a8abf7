package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** One TAR entry's scan row: archive member name, declared size, POSIX
  * type flag, and the payload text — the projection a WebDataset-style
  * training loader reads (shards are TAR files whose members pair
  * `sample.<ext>` data with `sample.cls`-style labels; grouping rows by
  * the name's stem reassembles the sample). */
final case class TarEntry(file_name: String, entry_idx: Int,
                          entry_name: String, size: Long,
                          type_flag: String, text: String)

/** POSIX.1-1988 ustar TAR reader — the shard container large-scale
  * training data actually ships in (WebDataset: one TAR per shard,
  * samples as consecutive members; model checkpoints and HF dataset
  * dumps ride the same format). The walk is the real block structure:
  * 512-byte headers (name, octal size/mtime, type flag, `ustar` magic),
  * ceil(size/512) payload blocks, two zero blocks at the end — and the
  * header CHECKSUM is verified on every member (sum of header bytes
  * with the chksum field read as spaces, compared to its stored octal
  * value), so a corrupted header refuses rather than mis-framing every
  * member after it.
  *
  * Oracle discipline: headers are ASCII-with-NUL-padding and the gate
  * fixture's payloads are ASCII, so DuckDB re-walks the SAME BYTES in
  * the hex domain — a recursive 512-block hop whose size field is an
  * 11-term octal expansion — exactly the JPEG/MP3 recursive-walk
  * pattern (the checksum verification stays engine-side rigor).
  *
  * Loud failures: short header block, bad magic, bad checksum, payload
  * overrunning EOF, or a walk that doesn't land exactly on the two-zero-
  * block terminator. */
object Tar {

  private val L1 = java.nio.charset.StandardCharsets.ISO_8859_1

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val lim = off + len
    while (end < lim && b(end) != 0) end += 1
    new String(b, off, end - off, L1)
  }

  private def octal(name: String, b: Array[Byte], off: Int, len: Int,
                    what: String): Long = {
    val s = str(b, off, len).trim
    require(s.nonEmpty && s.forall(c => c >= '0' && c <= '7'),
      s"$name: non-octal $what field '$s' at $off")
    java.lang.Long.parseLong(s, 8)
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i < off + 512) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** Parse one TAR archive into its member rows. */
  private[graft] def parse(name: String, b: Array[Byte]): Seq[TarEntry] = {
    require(b.length % 512 == 0,
      s"$name: length ${b.length} is not block-aligned")
    val out = Seq.newBuilder[TarEntry]
    var pos = 0
    var idx = 0
    // GNU longname state: a type-'L' member's payload is the FULL name
    // of the member that FOLLOWS it (the `tar` CLI emits these for
    // >100-char paths — a WebDataset shard with deep sample keys);
    // surfacing the L row raw while leaving the next member's name
    // truncated would be a silent misparse of the archive's semantics
    var pendingLongName: Option[String] = None
    // PAX state (POSIX.1-2001 pax interchange format — what Python's
    // `tarfile` emits BY DEFAULT since 3.8, hence most WebDataset
    // shards): a type-'x' member's payload holds `len key=value\n`
    // records overriding the FOLLOWING member's header fields; a
    // type-'g' member sets global defaults for ALL following members.
    // Ignoring them would surface the raw keyword blob as a member row
    // and leave the next member's name truncated — the same
    // silent-misparse class the 'L' handling closes for GNU format.
    var paxNext: Map[String, String] = Map.empty
    var paxGlobal: Map[String, String] = Map.empty
    while (pos + 512 <= b.length && !isZeroBlock(b, pos)) {
      val magic = new String(b, pos + 257, 5, L1)
      require(magic == "ustar", s"$name: bad magic '$magic' at $pos")
      // checksum: header bytes summed with the chksum field as spaces
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) 0x20 else b(pos + i) & 0xff)
        i += 1
      }
      val stored = octal(name, b, pos + 148, 8, "chksum")
      require(sum == stored,
        s"$name: header checksum $sum != stored $stored at $pos")
      // POSIX ustar splits long member names: `prefix` (offset 345,
      // 155 bytes) + '/' + `name`. Ignoring the field would parse such
      // archives "successfully" with silently truncated names — the
      // checksum still verifies — so it is honored here (ADVICE r14),
      // but ONLY under the POSIX version "00" (offset 263): GNU-format
      // headers pass the 5-byte magic too and store atime/ctime octal
      // text at offset 345, which must not become a bogus path prefix
      // (review r15).
      val posixVersion = b(pos + 263) == '0' && b(pos + 264) == '0'
      val prefix = if (posixVersion) str(b, pos + 345, 155) else ""
      val entryName =
        if (prefix.isEmpty) str(b, pos, 100)
        else prefix + "/" + str(b, pos, 100)
      val hdrSize = octal(name, b, pos + 124, 12, "size")
      val tf = (b(pos + 156) & 0xff).toChar.toString
      val pStart = pos + 512
      require(pStart + hdrSize <= b.length,
        s"$name: member '$entryName' payload $hdrSize overruns EOF")
      // advance by the HEADER size for metadata members ('L'/'x'/'g' --
      // their payload IS the metadata, never PAX-overridden); data
      // members advance by the effective size below
      var advance = hdrSize
      tf match {
        case "L" =>
          require(entryName == "././@LongLink",
            s"$name: GNU longname member at $pos is named '$entryName', " +
              "not ././@LongLink")
          require(pendingLongName.isEmpty,
            s"$name: consecutive GNU longname members at $pos")
          // NUL-terminated full name for the next member; the L member
          // itself materializes no entry (GNU tar's own convention)
          val text = new String(b, pStart, hdrSize.toInt,
            java.nio.charset.StandardCharsets.UTF_8)
          pendingLongName = Some(text.takeWhile(_ != '\u0000'))
        case "x" =>
          require(paxNext.isEmpty,
            s"$name: consecutive PAX extended headers at $pos")
          paxNext = paxRecords(name, b, pStart, hdrSize.toInt)
        case "g" =>
          // global defaults layer: a later 'g' updates the running map;
          // an empty value DELETES the default (POSIX.1-2001 pax: "an
          // empty value shall delete any default for that keyword")
          paxRecords(name, b, pStart, hdrSize.toInt).foreach {
            case (k, "") => paxGlobal -= k
            case (k, v)  => paxGlobal += (k -> v)
          }
        case _ =>
          require(!(pendingLongName.nonEmpty && paxNext.contains("path")),
            s"$name: member at $pos has BOTH a GNU longname and a PAX " +
              "path override (ambiguous)")
          // an EMPTY 'x' value is POSIX's per-member deletion: it
          // suppresses any 'g' default too and reverts to the ustar
          // header value ("causing the ustar header block value to be
          // used" — review r17; the pre-review filter(_.nonEmpty) fell
          // through to the global default instead)
          val effName = paxNext.get("path") match {
            case Some("") => entryName
            case Some(p)  => p
            case None     => pendingLongName
              .orElse(paxGlobal.get("path")).getOrElse(entryName)
          }
          // PAX `size` overrides the header's 12-char octal field --
          // how Python's tarfile stores >8 GiB members (the octal field
          // can't represent them); the WALK must advance by it too or
          // every member after is mis-framed
          def paxSize(s: String): Long = {
            require(s.nonEmpty && s.forall(_.isDigit),
              s"$name: non-decimal PAX size '$s' at $pos")
            s.toLong
          }
          val effSize = paxNext.get("size") match {
            case Some("") => hdrSize // per-member deletion
            case Some(s)  => paxSize(s)
            case None     =>
              paxGlobal.get("size").map(paxSize).getOrElse(hdrSize)
          }
          require(pStart + effSize <= b.length,
            s"$name: member '$effName' PAX size $effSize overruns EOF")
          // UTF-8: the text members this scan serves are text by
          // contract (WebDataset .txt/.cls members); the write
          // direction encodes UTF-8, so non-ASCII round-trips exactly
          val text = new String(b, pStart, effSize.toInt,
            java.nio.charset.StandardCharsets.UTF_8)
          out += TarEntry(name, idx, effName, effSize, tf, text)
          pendingLongName = None
          paxNext = Map.empty
          idx += 1
          advance = effSize
      }
      pos = pStart + (((advance + 511) / 512) * 512).toInt
    }
    require(pendingLongName.isEmpty,
      s"$name: dangling GNU longname with no following member")
    require(paxNext.isEmpty,
      s"$name: dangling PAX extended header with no following member")
    require(pos + 1024 <= b.length && isZeroBlock(b, pos) &&
      isZeroBlock(b, pos + 512),
      s"$name: walk did not land on the two-zero-block terminator at $pos")
    require(pos + 1024 == b.length,
      s"$name: ${b.length - pos - 1024} trailing bytes after the terminator")
    require(idx > 0, s"$name: empty archive")
    out.result()
  }

  /** Parse a PAX extended-header payload into its keyword map.
    * POSIX.1-2001 pax record grammar: `"%d %s=%s\n"` where the leading
    * decimal is the FULL record length in bytes (its own digits, the
    * space, key, '=', value, and the trailing newline included) and the
    * value is UTF-8. Malformed blocks refuse loudly — a misread length
    * would silently shift every following record. */
  private[graft] def paxRecords(name: String, b: Array[Byte], off: Int,
                                len: Int): Map[String, String] = {
    var recs = Map.empty[String, String]
    var p = off
    val end = off + len
    while (p < end) {
      var q = p
      while (q < end && b(q) != ' ') {
        require(b(q) >= '0' && b(q) <= '9',
          s"$name: non-digit byte in PAX record length at $q")
        q += 1
      }
      require(q > p && q < end,
        s"$name: malformed PAX record length at $p")
      val rl = new String(b, p, q - p, L1).toInt
      require(rl > q - p + 1 && p + rl <= end,
        s"$name: PAX record length $rl overruns the header block at $p")
      require(b(p + rl - 1) == '\n',
        s"$name: PAX record at $p does not end in a newline")
      val body = new String(b, q + 1, p + rl - 1 - (q + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = body.indexOf('=')
      require(eq > 0, s"$name: PAX record at $p is not key=value form")
      // later records for the same keyword win (POSIX: "the last
      // occurrence shall take precedence"); unrecognized keywords are
      // carried and ignored by the caller (POSIX: "shall be ignored"),
      // NOT refused — real writers emit vendor keys (SCHILY.*, mtime)
      recs += body.substring(0, eq) -> body.substring(eq + 1)
      p += rl
    }
    recs
  }

  /** One PAX record in the self-referential length encoding the parse
    * direction verifies ("%d %s=%s\n", length counting its own digits). */
  private[graft] def paxRecord(key: String, value: String): Array[Byte] = {
    val body = s" $key=$value\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var digits = 1
    // the length field counts itself: grow digits until stable
    while ((digits + body.length).toString.length > digits) digits += 1
    (digits + body.length).toString
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
  }

  /** Render members into one archive with explicit TYPE FLAGS — the
    * write direction for PAX fixtures ('x'/'g' metadata members carry
    * [[paxRecord]] payloads); [[tarBytes]] stays the plain-file form. */
  private[graft] def tarBytesTyped(
      members: Seq[(String, Char, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, tf, payload) =>
      require(name.getBytes(L1).length <= 100,
        s"member name too long for a ustar header: $name")
      val h = header(name, payload.length)
      if (tf != '0') {
        h(156) = tf.toByte
        // re-checksum with the chksum field as spaces
        for (i <- 148 until 156) h(i) = ' '
        val sum = h.map(_ & 0xff).sum
        System.arraycopy(f"$sum%06o".getBytes(L1), 0, h, 148, 6)
        h(154) = 0; h(155) = ' '
      }
      out.write(h)
      out.write(payload)
      out.write(new Array[Byte]((512 - payload.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Render members into one ustar archive — the WRITE direction (the
    * xlsx/docx both-directions discipline): real headers with correct
    * checksums, block padding, the two-zero-block terminator. Used by
    * [[TarFixture]], the shard SINK ([[writeShards]]) and TarSpec. */
  def tarBytes(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, payload) =>
      require(name.getBytes(L1).length <= 100,
        s"member name too long for a ustar header: $name")
      out.write(header(name, payload.length))
      out.write(payload)
      val pad = (512 - payload.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** One ustar header block for a regular file (the write direction of
    * the grammar [[parse]] verifies — checksum computed over the header
    * with the chksum field as spaces, exactly what parse re-sums). */
  private[graft] def header(name: String, size: Int): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit =
      System.arraycopy(s.getBytes(L1), 0, h, off, s.length)
    put(0, name)
    put(100, "0000644 ")
    put(108, "0000000 ")
    put(116, "0000000 ")
    put(124, f"$size%011o ")
    put(136, "00000000000 ")
    put(148, "        ") // chksum: spaces while summing
    h(156) = '0'
    put(257, "ustar 00")
    put(265, "graft")
    put(297, "graft")
    val sum = h.map(_ & 0xff).sum
    put(148, f"$sum%06o  ")
    h
  }

  /** The WebDataset shard SINK: write each non-empty partition of
    * (nameCol, textCol) as ONE .tar under `dir`, members in partition
    * order — executor-parallel via foreachPartition, one shard per task
    * exactly like a training-data export job (the XlsxSink/RenderSink
    * loop). Shard files are named part_<partitionId>.tar. */
  def writeShards(df: DataFrame, nameCol: String, textCol: String,
                  dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    df.select(col(nameCol).cast("string"), col(textCol).cast("string"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val members = rows.map { r =>
          r.getString(0) -> Option(r.getString(1)).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }.toSeq
        if (members.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          java.nio.file.Files.write(
            new java.io.File(dir, f"part_$pid%05d.tar").toPath,
            tarBytes(members))
          ()
        }
      }
  }

  /** Scan a binaryFile frame (path, content) of .tar files into one row
    * per member — the mapPartitions codec slot; linear per-shard, no
    * shuffle, parallel by file: exactly how a WebDataset loader shards
    * at 100 TB (many ~100 MB-1 GB TARs, one task each). */
  def scanTar(df: DataFrame): Dataset[TarEntry] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (name, bytes) => parse(name, bytes) })
  }
}

/** Deterministic on-disk TAR corpus, WebDataset-shaped: [[count]]
  * shards; shard i carries 2 + (i mod 4) samples, each as a
  * (`sample_<i>_<k>.txt`, `sample_<i>_<k>.cls`) member pair — text
  * payload then single-digit label, ASCII, real ustar headers with
  * correct checksums. */
object TarFixture {
  val count = 8

  /** PAX framing twins live in the `pax/` SUBDIRECTORY (distinct
    * basename prefix) so the flat-dir globs existing queries use keep
    * their exact file set — only the scan query lists it explicitly. */
  val paxCount = 4

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_tar_v3").getAbsolutePath

  def paxDir: String = new java.io.File(path, "pax").getAbsolutePath

  def paxSamplesOf(i: Int): Int = 2 + (i % 3)

  /** A >100-char member path — the shape Python `tarfile` (PAX_FORMAT
    * default since 3.8) stores via an 'x' header `path` record, with
    * the ustar name field holding only a truncation. */
  def paxLongNameOf(i: Int, k: Int): String =
    "pax/deep/nested/shard/directory/tree/that/overflows/the/hundred/" +
      s"byte/name/field/run_$i/segment_$k/sample_${i}_$k.txt"

  def paxTextOf(i: Int, k: Int): String =
    (0 until (5 + (i + 2 * k) % 4)).map(w =>
      words((i * 7 + k * 3 + w * 5) % words.length)).mkString(" ")

  def paxClsOf(i: Int, k: Int): String = ((i * 2 + k) % 10).toString

  /** One PAX shard: a 'g' global header carrying only an (ignored)
    * comment record, then per sample an 'x' header (`path` override +
    * an unrecognized-but-tolerated `mtime` record), the data member
    * under its truncated ustar name, and a short-named .cls member
    * with no PAX metadata — interleaving proves the 'x' override
    * applies to exactly one following member. */
  def paxTarBytes(i: Int): Array[Byte] = Tar.tarBytesTyped(
    Seq(("pax_global_hdr", 'g',
      Tar.paxRecord("comment", s"graft pax fixture shard $i"))) ++
    (0 until paxSamplesOf(i)).flatMap { k =>
      val long = paxLongNameOf(i, k)
      Seq(
        (s"PaxHeaders.0/sample_${i}_$k.txt", 'x',
          Tar.paxRecord("path", long) ++
            Tar.paxRecord("mtime", s"17000000$i$k.0")),
        (long.take(100), '0', paxTextOf(i, k).getBytes("US-ASCII")),
        (s"sample_${i}_$k.cls", '0', paxClsOf(i, k).getBytes("US-ASCII")))
    })

  def samplesOf(i: Int): Int = 2 + (i % 4)

  private val words = Array("token", "shard", "batch", "epoch", "label",
    "corpus", "sample", "tensor", "weight", "loader")

  def textOf(i: Int, k: Int): String =
    (0 until (4 + (i + k) % 5)).map(w =>
      words((i * 3 + k * 5 + w * 7) % words.length)).mkString(" ")

  def clsOf(i: Int, k: Int): String = ((i + k) % 10).toString

  def tarBytes(i: Int): Array[Byte] = Tar.tarBytes(
    (0 until samplesOf(i)).flatMap { k =>
      Seq(
        s"sample_${i}_$k.txt" -> textOf(i, k).getBytes("US-ASCII"),
        s"sample_${i}_$k.cls" -> clsOf(i, k).getBytes("US-ASCII"))
    })

  /** Build the fixture if missing; returns [[path]]. Race and versioning
    * contract: [[Checkpoints.buildOnce]]. */
  def ensure(): String = Checkpoints.buildOnce(path) { tmp =>
    (0 until count).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(tmp, f"shard_$i%03d.tar").toPath, tarBytes(i))
    }
    val pax = new java.io.File(tmp, "pax")
    pax.mkdirs()
    (0 until paxCount).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(pax, f"paxshard_$i%03d.tar").toPath,
        paxTarBytes(i))
    }
  }
}
