package graft.ops

import org.apache.spark.SparkContext

/** Scratch and fixture directories. [[buildOnce]] writes a reusable file
  * tree once; [[sweepStale]] removes scratch a killed JVM left behind.
  *
  * Shared checkpoint-dir bootstrap for the iterative operators
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

  private val building = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Builds the directory `path` once and returns `path`; a call that
    * finds it already built does nothing. Used for every file tree that
    * is written once and then reused (the codec fixtures, the stream
    * slice dirs). The contract:
    *  - each build fills its OWN sibling tmp dir `<name>.tmp-<uuid>`, so
    *    concurrent builds (threads or JVMs) never write into or delete
    *    each other's files;
    *  - the tmp dir is renamed into place atomically, so `path` exists
    *    only as a complete tree and an existing `path` is trusted;
    *  - a build whose rename loses to another's deletes its own tmp dir
    *    and returns the winner's tree; a rename that fails with no tree
    *    in place throws, and so does a failing `fill`, after its tmp dir
    *    is deleted;
    *  - tmp dirs older than [[staleAfterMs]] (a build killed mid-fill)
    *    are swept when a build starts;
    *  - within one JVM at most one build per `path` runs at a time.
    * Every build must write the same bytes, so the directory name
    * carries a version tag (`graft_xlsx_v2`) that MUST be bumped
    * whenever the generated bytes change; otherwise a tree built by
    * older code is served as current. */
  private[graft] def buildOnce(path: String)(fill: java.io.File => Unit): String = {
    val out = new java.io.File(path)
    if (!out.exists()) building.computeIfAbsent(path, _ => new Object).synchronized {
      if (!out.exists()) {
        val root = out.getAbsoluteFile.getParentFile
        sweepStale(root, out.getName + ".tmp")
        val tmp = new java.io.File(root, s"${out.getName}.tmp-${java.util.UUID.randomUUID()}")
        try {
          if (!tmp.mkdirs()) throw new java.io.IOException(s"could not create $tmp")
          fill(tmp)
        } catch { case t: Throwable => deleteRec(tmp); throw t }
        if (!tmp.renameTo(out)) {
          deleteRec(tmp)
          if (!out.isDirectory)
            throw new java.io.IOException(s"could not rename $tmp to $out")
        }
      }
    }
    path
  }
}
