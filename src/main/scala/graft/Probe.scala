package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev utility: time ONE registered query (warmup + N cache-cleared runs)
  * at a given SF dir — the single-query view of [[Bench]]'s harness, for
  * iterating on a hot query without re-running the whole suite.
  *
  * Each run also reports `cpu` = the sum of executor task CPU time over
  * the run's jobs (a SparkListener accumulator, reset per run). Wall time
  * on this box drifts 1.3–5× with ambient episodes; task CPU is the
  * ambient-robust A/B signal — two plan variants compare honestly on cpu
  * even when their wall clocks were measured hours apart. (cpu excludes
  * driver-side work — collects, plan compile — so wall >> cpu·parallelism
  * flags a driver-bound query.)
  * Usage: runMain graft.Probe <queryName> [sfDir] [runs]. */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { cpuNs.addAndGet(m.executorCpuTime); () }
      }
    })
    // `build` = Q.fn() — plan construction INCLUDING any eager work the
    // query does up front (localCheckpoint pins, in-plan trainer
    // collects); `mat` = the final materialization job. Splitting them
    // shows whether a slow query is paying compute or driver-side
    // jobs/plan-compile — the two need different fixes.
    def run(): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      Materialize.digest(df)
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    run()
    for (i <- 1 to runs) {
      spark.catalog.clearCache()
      cpuNs.set(0L)
      val (build, mat) = run()
      // listener events drain asynchronously (the bus is private API);
      // a short sleep lets the last stage's tasks land in the counter —
      // ±a task or two of slop is fine for an A/B signal
      Thread.sleep(200)
      println(f"run$i: ${build + mat}%.3f s  cpu: ${cpuNs.get / 1e9}%.3f s" +
        f"  build: $build%.3f  mat: $mat%.3f")
    }
    spark.stop()
  }
}
