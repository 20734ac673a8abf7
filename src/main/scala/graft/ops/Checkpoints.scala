package graft.ops

import org.apache.spark.SparkContext

/** Shared checkpoint-dir bootstrap for the iterative operators
  * ([[Components]], [[PageRank]]): sets a session checkpoint dir ONCE if
  * none is configured, and — because reliable checkpoint files are only
  * reclaimed when the ContextCleaner GCs their RDD references
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`, see
  * [[graft.Sessions]]) — registers one JVM shutdown hook that deletes the
  * auto-created temp dir, so a long-lived session running the registry
  * repeatedly cannot accumulate orphaned checkpoint data for the JVM's
  * lifetime (ADVICE r10). A user-configured checkpoint dir (production:
  * shared storage set before calling in) is never touched: the hook is
  * registered only for the directory THIS helper created.
  */
object Checkpoints {
  // EVERY auto-created dir is tracked (a second SparkContext in the same
  // JVM — sequential test sessions — gets a fresh temp dir; hooking only
  // the first would orphan the rest). One hook drains the whole set.
  private val created = scala.collection.mutable.ListBuffer.empty[java.io.File]
  private var hooked = false

  /** Ensure `sc` has a checkpoint dir, creating (and registering cleanup
    * for) a local temp dir if the session has none. */
  def ensureDir(sc: SparkContext): Unit = this.synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
      sc.setCheckpointDir(dir.getAbsolutePath)
      created += dir
      if (!hooked) {
        hooked = true
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          Checkpoints.synchronized(created.toList).foreach(deleteRec)))
      }
    }
  }

  private[graft] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
    ()
  }

  /** How old a scratch dir must be before another JVM's sweep may
    * remove it: a live run's dir, written minutes ago at most, is never
    * pulled out from under it. */
  private[graft] val staleAfterMs: Long = 3600 * 1000L

  /** Deletes the dirs directly under `root` whose name starts with
    * `prefix` and whose mtime is older than [[staleAfterMs]], except
    * `keep`: scratch left by a JVM that died before its own cleanup
    * (shutdown hook or `finally`) ran. */
  private[graft] def sweepStale(root: java.io.File, prefix: String,
                                keep: Option[java.io.File] = None): Unit = {
    val cutoff = System.currentTimeMillis() - staleAfterMs
    val kept = keep.map(_.getAbsolutePath)
    Option(root.listFiles()).getOrElse(Array.empty).foreach { d =>
      if (d.isDirectory && d.getName.startsWith(prefix) &&
          !kept.contains(d.getAbsolutePath) && d.lastModified() < cutoff)
        deleteRec(d)
    }
  }

  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** [[sweepStale]] once per JVM for each (root, prefix); true when this
    * call swept. */
  private[graft] def sweepStaleOnce(root: java.io.File, prefix: String): Boolean = {
    val first = swept.add(root.getAbsolutePath + java.io.File.separator + prefix)
    if (first) sweepStale(root, prefix)
    first
  }
}
