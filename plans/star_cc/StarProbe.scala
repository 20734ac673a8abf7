package org.apache.spark

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
import java.util.concurrent.atomic.AtomicLong

/** Times registry queries: warm-up + N cache-cleared runs, counting jobs,
  * stages, shuffle-map stages and task CPU per call; prints the result's
  * bit_xor(xxhash64) digest and writes the returned frame's
  * `explain("formatted")` to `<outDir>/<query>.txt`.
  *
  * Kept as the record of how this directory's numbers were taken; it is
  * not part of the build. Compile it with the Scala compiler among the
  * Spark jars (`scala.tools.nsc.Main`), with a checkout's
  * `target/scala-2.13/classes` and the Spark jars on the classpath, and
  * run `org.apache.spark.StarProbe <sfDir> <outDir> <runs> <query>...`
  * on the same classpath with build.sbt's JDK 17 `--add-opens` flags and
  * `SPARK_GRAFT_CPUS=4`.
  */
object StarProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val runs = args(2).toInt
    val names = args.drop(3)
    val spark = graft.Sessions.local()
    val sc = spark.sparkContext
    val jobs, stages, shuffles, cpu = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (s.stageInfo.shuffleDepId.isDefined) shuffles.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) cpu.addAndGet(t.taskMetrics.executorCpuTime)
    })
    for (name <- names) {
      def run(): (Double, Double, Long, String) = {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
          .agg(expr("bit_xor(h)"), expr("count(1)")).collect().head
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, r.getLong(1), s"${r.getLong(0)}")
      }
      run()
      val rows = for (i <- 1 to runs) yield {
        spark.catalog.clearCache()
        sc.listenerBus.waitUntilEmpty()
        Seq(jobs, stages, shuffles, cpu).foreach(_.set(0))
        val (b, m, n, d) = run()
        sc.listenerBus.waitUntilEmpty()
        val line = f"$name run$i: total ${b + m}%.3f s build $b%.3f mat $m%.3f jobs ${jobs.get} stages ${stages.get} shuffle_stages ${shuffles.get} cpu ${cpu.get / 1e9}%.3f rows $n digest $d"
        println(line)
        (b + m, line)
      }
      val ts = rows.map(_._1).sorted
      println(f"$name median ${ts(ts.size / 2)}%.3f s over ${ts.size} runs (min ${ts.head}%.3f max ${ts.last}%.3f)")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val exch = ("(?m)^\\s*[+:\\-\\*\\s]*Exchange").r.findAllIn(plan).length
      println(s"$name final-plan exchanges $exch")
      val w = new java.io.PrintWriter(s"$outDir/$name.txt")
      w.println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      w.close()
    }
    spark.stop()
  }
}
