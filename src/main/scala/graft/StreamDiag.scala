package graft
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev utility (r19): run ONE registered stream query under the bench's
  * materialization and print every micro-batch's `durationMs` breakdown
  * (triggerExecution, queryPlanning, getBatch, addBatch, walCommit,
  * commitOffsets, latestOffset) from the StreamingQueryProgress events —
  * the guide-§1 "where does the time actually go" view for the
  * per-micro-batch floor the stream family pays. Also prints the wall
  * split around the streaming execution so sink/post-processing cost is
  * visible. Usage: runMain graft.StreamDiag <queryName> [sfDir] [runs]. */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(f"[diag] query started ${e.id}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val keys = dur.keySet().toArray(Array.empty[String]).sorted
        val parts = keys.map(k => s"$k=${dur.get(k)}").mkString(" ")
        println(s"[diag] batch=${p.batchId} rows=${p.numInputRows} $parts")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[diag] query terminated")
    })
    def run(): Unit = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      Materialize.digest(df)
      val t2 = System.nanoTime()
      println(f"[diag] build(incl stream exec)=${(t1 - t0) / 1e9}%.3f s " +
        f"mat=${(t2 - t1) / 1e9}%.3f s")
    }
    run() // warmup
    for (_ <- 1 to runs) { spark.catalog.clearCache(); run() }
    Thread.sleep(500) // let async listener events drain
    spark.stop()
  }
}
