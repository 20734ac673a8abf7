package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Checkpoints

/** Scratch left by a killed JVM is swept by age: a same-prefix dir older
  * than [[Checkpoints.staleAfterMs]] goes, a fresh one (a live run) and
  * an old dir of another prefix stay; the once-per-root sweep runs once.
  * [[Checkpoints.buildOnce]] builds a tree once, never shares or leaks a
  * tmp dir, and is the only tmp-then-rename in the main code; memory-sink
  * streams start and session conf is set only in `StreamQueries.runGate`;
  * stateful stream bodies are written only in `streaming/Streams.scala`,
  * on its shared kernels. */
class ScratchSweepSpec extends AnyFunSuite with TempDirs {
  private val hour = Checkpoints.staleAfterMs

  private def mk(root: File, name: String, ageMs: Long): File = {
    val d = new File(root, name)
    assert(new File(d, "offsets").mkdirs())
    assert(d.setLastModified(System.currentTimeMillis() - ageMs))
    d
  }

  /** `body(root, <prefix>old, <prefix>fresh, other_old)` in a fresh root. */
  private def withDirs[T](prefix: String)(body: (File, File, File, File) => T): T =
    withTempDir("graft-sweep") { root =>
      body(root, mk(root, prefix + "old", 2 * hour), mk(root, prefix + "fresh", 0L),
        mk(root, "other_old", 2 * hour))
    }

  private def write(dir: File, name: String): Unit = {
    java.nio.file.Files.write(new File(dir, name).toPath, Array[Byte](1, 2, 3))
    ()
  }

  test("sweepStale removes an old dir and keeps a fresh one") {
    withDirs("graft_stream_ckpt_") { (root, old, fresh, other) =>
      Checkpoints.sweepStale(root, "graft_stream_ckpt_")
      assert(!old.exists())
      assert(fresh.isDirectory && other.isDirectory)
    }
  }

  test("sweepStale never removes the kept dir, whatever its age") {
    withDirs("graft_docx_rt_") { (root, old, _, _) =>
      Checkpoints.sweepStale(root, "graft_docx_rt_", keep = Some(old))
      assert(old.isDirectory)
    }
  }

  test("sweepStaleOnce sweeps a scratch root once per JVM") {
    withDirs("graft_stream_ckpt_") { (root, old, fresh, _) =>
      assert(Checkpoints.sweepStaleOnce(root, "graft_stream_ckpt_"))
      assert(!old.exists() && fresh.isDirectory)
      val later = mk(root, "graft_stream_ckpt_later", 2 * hour)
      assert(!Checkpoints.sweepStaleOnce(root, "graft_stream_ckpt_"))
      assert(later.isDirectory)
    }
  }

  test("buildOnce runs fill once, also for concurrent callers") {
    withTempDir("graft-build") { root =>
      val out = new File(root, "tree_v1").getAbsolutePath
      val fills = new AtomicInteger()
      def build(): String = Checkpoints.buildOnce(out) { tmp =>
        fills.incrementAndGet()
        Thread.sleep(50)
        write(tmp, "a")
      }
      val threads = Seq.fill(4)(new Thread(() => { build(); () }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(build() === out)
      assert(fills.get === 1)
      assert(root.list().toSeq === Seq("tree_v1"))
      assert(new File(out, "a").length() === 3)
    }
  }

  test("buildOnce keeps a live build's tmp dir and sweeps a stale one") {
    withTempDir("graft-build") { root =>
      val fresh = mk(root, "tree_v1.tmp-fresh", 0L)
      val stale = mk(root, "tree_v1.tmp-stale", 2 * hour)
      Checkpoints.buildOnce(new File(root, "tree_v1").getPath)(write(_, "a"))
      assert(fresh.isDirectory && !stale.exists())
      assert(root.list().sorted.toSeq === Seq("tree_v1", "tree_v1.tmp-fresh"))
    }
  }

  test("buildOnce: a build whose rename loses returns the winner's tree " +
      "intact and deletes its own tmp dir; the two never share a tmp dir") {
    withTempDir("graft-build") { root =>
      val out = new File(root, "tree_v1")
      // a second spelling of the path takes its own per-JVM lock, as a
      // build in another JVM would; it fills and wins while this one fills
      val other = new File(new File(root, "."), "tree_v1").getPath
      val got = Checkpoints.buildOnce(out.getPath) { tmp =>
        write(tmp, "mine_1")
        Checkpoints.buildOnce(other) { theirs => write(theirs, "theirs") }
        write(tmp, "mine_2")
      }
      assert(got === out.getPath)
      assert(out.list().toSeq === Seq("theirs"))
      assert(root.list().toSeq === Seq("tree_v1"))
    }
  }

  test("buildOnce: a fill that throws leaves neither a final dir nor a tmp dir") {
    withTempDir("graft-build") { root =>
      val out = new File(root, "tree_v1")
      val e = intercept[IllegalStateException] {
        Checkpoints.buildOnce(out.getPath) { tmp =>
          write(tmp, "half")
          throw new IllegalStateException("fill failed")
        }
      }
      assert(e.getMessage === "fill failed")
      assert(root.list().isEmpty)
    }
  }

  private val main = new File("src/main/scala")

  private def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
    if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** Every (file, offset) of `p` under src/main. */
  private def hits(p: String): Seq[(File, Int)] = sources(main).flatMap { f =>
    val src = read(f)
    Iterator.iterate(src.indexOf(p))(i => src.indexOf(p, i + 1))
      .takeWhile(_ >= 0).map(i => (f, i)).toSeq
  }

  test("src/main renames and deletes recursively only in ops/Checkpoints.scala") {
    assert(main.isDirectory, s"${main.getAbsolutePath} not found")
    // a def that both lists a directory and deletes is a recursive delete
    val lists = """\blistFiles\b|\bFiles\.(?:walk|list)\b""".r
    val deletes = """\.delete\(|\bFiles\.delete|\bdeleteRecursively\b|\bdeleteDirectory\b""".r
    val offenders = sources(main)
      .filterNot(_.getPath.endsWith("ops/Checkpoints.scala")).flatMap { f =>
        val src = read(f)
        val renames = if (src.contains("renameTo(")) Seq(s"$f: renameTo(") else Nil
        renames ++ src.split("""\bdef\s+""").drop(1)
          .filter(b => lists.findFirstIn(b).nonEmpty && deletes.findFirstIn(b).nonEmpty)
          .map(b => s"$f: def ${b.takeWhile(Character.isJavaIdentifierPart)} deletes recursively")
      }
    assert(offenders.isEmpty,
      "use Checkpoints.buildOnce / Checkpoints.deleteRec instead:\n" +
        offenders.mkString("\n"))
  }

  test("src/main starts memory-sink streams and sets session conf only in " +
      "StreamQueries.runGate") {
    assert(main.isDirectory, s"${main.getAbsolutePath} not found")
    val gateFile = new File(main, "graft/queries/StreamQueries.scala")
    val gateSrc = read(gateFile)
    val gateStart = gateSrc.indexOf("def runGate(")
    assert(gateStart >= 0, s"no runGate in $gateFile")
    val gateEnd = gateSrc.indexOf("\n  }\n", gateStart)
    for (p <- Seq("format(\"memory\")", "Trigger.AvailableNow()", "conf.set(")) {
      val at = hits(p)
      assert(at.size === 1, s"$p: ${at.map(_._1).mkString(", ")}")
      val (f, i) = at.head
      assert(f.getPath == gateFile.getPath && i > gateStart && i < gateEnd,
        s"$p outside StreamQueries.runGate: $f")
    }
  }

  test("src/main calls flatMapGroupsWithState 7 times, all in " +
      "streaming/Streams.scala; Update mode without timeout only in " +
      "foldGroups and sessionizeStreamSnapshot") {
    assert(main.isDirectory, s"${main.getAbsolutePath} not found")
    val streams = new File(main, "graft/streaming/Streams.scala").getPath
    val calls = hits("flatMapGroupsWithState[")
    assert(calls.size === 7 && calls.forall(_._1.getPath == streams),
      calls.map(_._1).mkString(", "))
    val src = read(new File(streams))
    val enclosing = hits("OutputMode.Update, GroupStateTimeout.NoTimeout").map {
      case (f, i) =>
        assert(f.getPath == streams, s"Update/NoTimeout outside Streams: $f")
        """\bdef\s+(\w+)""".r.findAllMatchIn(src.substring(0, i)).toSeq.last.group(1)
    }
    assert(enclosing === Seq("sessionizeStreamSnapshot", "foldGroups"))
  }
}
