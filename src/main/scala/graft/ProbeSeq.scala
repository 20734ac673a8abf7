package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev utility: time a SEQUENCE of registered queries run back-to-back
  * in one session — the measurement shape for cross-registration
  * shared-frame pins ([[graft.queries.EmbedQueries]]'s session memo),
  * which [[Probe]]'s one-query-N-times loop can't see (after the first
  * run the memo is warm, so every later run reads the share for free).
  * Each ROUND gets a fresh `SparkSession.newSession`-independent
  * context? No — the memo keys on the session object's identity, so a
  * genuinely cold round needs a fresh session: rounds > 1 stop and
  * rebuild the context per round (a few seconds of JVM-warm overhead,
  * amortized out of the per-query numbers by timing queries only).
  * Usage: runMain graft.ProbeSeq <sfDir> <rounds> <q1> [q2 ...]. */
object ProbeSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = args(1).toInt
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: ProbeSeq <sfDir> <rounds> <q1> [q2...]")
    for (r <- 1 to rounds) {
      val spark = Sessions.local()
      val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) { cpuNs.addAndGet(m.executorCpuTime); () }
        }
      })
      // one warmup on the FIRST query name only (JIT + codegen cache),
      // against a throwaway session-independent run? No: a warmup would
      // warm the memo too. Cold is the point; JVM warmth comes from
      // round 1 and later rounds are the comparable ones.
      var total = 0.0
      val per = names.map { name =>
        spark.catalog.clearCache()
        cpuNs.set(0L)
        val t0 = System.nanoTime()
        Materialize.digest(SparkEntry.queries(name)(spark, sfDir))
        val w = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        total += w
        f"$name=$w%.2f/cpu${cpuNs.get / 1e9}%.1f"
      }
      println(f"round$r: total=$total%.3f s  ${per.mkString("  ")}")
      spark.stop()
      // getOrCreate reuses a stopped-context builder otherwise
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
