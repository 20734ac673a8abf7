package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Checkpoints

/** Scratch left by a killed JVM is swept by age: a same-prefix dir older
  * than [[Checkpoints.staleAfterMs]] goes, a fresh one (a live run) and
  * an old dir of another prefix stay; the once-per-root sweep runs once. */
class ScratchSweepSpec extends AnyFunSuite {
  private def dirs(prefix: String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep").toFile
    def mk(name: String, ageMs: Long) = {
      val d = new java.io.File(root, name)
      assert(new java.io.File(d, "offsets").mkdirs())
      assert(d.setLastModified(System.currentTimeMillis() - ageMs))
      d
    }
    val hour = Checkpoints.staleAfterMs
    (root, mk(prefix + "old", 2 * hour), mk(prefix + "fresh", 0L),
      mk("other_old", 2 * hour), mk _)
  }

  test("sweepStale removes an old dir and keeps a fresh one") {
    val (root, old, fresh, other, _) = dirs("graft_stream_ckpt_")
    try {
      Checkpoints.sweepStale(root, "graft_stream_ckpt_")
      assert(!old.exists())
      assert(fresh.isDirectory && other.isDirectory)
    } finally Checkpoints.deleteRec(root)
  }

  test("sweepStale never removes the kept dir, whatever its age") {
    val (root, old, _, _, _) = dirs("graft_docx_rt_")
    try {
      Checkpoints.sweepStale(root, "graft_docx_rt_", keep = Some(old))
      assert(old.isDirectory)
    } finally Checkpoints.deleteRec(root)
  }

  test("sweepStaleOnce sweeps a scratch root once per JVM") {
    val (root, old, fresh, _, mk) = dirs("graft_stream_ckpt_")
    try {
      assert(Checkpoints.sweepStaleOnce(root, "graft_stream_ckpt_"))
      assert(!old.exists() && fresh.isDirectory)
      val later = mk("graft_stream_ckpt_later", 2 * Checkpoints.staleAfterMs)
      assert(!Checkpoints.sweepStaleOnce(root, "graft_stream_ckpt_"))
      assert(later.isDirectory)
    } finally Checkpoints.deleteRec(root)
  }
}
