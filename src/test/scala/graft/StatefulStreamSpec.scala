package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Sessionize
import graft.streaming.Streams

/** Stateful streaming sessionization: GroupState must carry each user's
  * open session across micro-batch boundaries. The input is split into
  * two time-ordered files processed as separate micro-batches
  * (maxFilesPerTrigger=1), so sessions spanning the split only close
  * correctly if the state handoff works. */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Base mtime for [[stampOrder]] — far in the past of any real write. */
  private val stampBase = 1600000000000L

  /** Stamps the not-yet-stamped part files under `src` with write-ordinal
    * `i`'s fixed mtime. The file source replays files in (mtime, path)
    * order, and ms-resolution mtimes of back-to-back writes can collide —
    * which makes replay order path-dependent (random part-file UUIDs) and
    * every order-sensitive assertion here flaky. Call after EVERY ordered
    * write with increasing `i` (the same discipline as
    * StreamQueries.slicedEventsDir). Fresh writes carry the current clock
    * (≫ stampBase), so "not yet stamped" is an mtime threshold. */
  private def stampOrder(src: String, i: Int): Unit =
    new java.io.File(src).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        f.lastModified() > stampBase + 86400000L)
      .foreach(f => assert(f.setLastModified(stampBase + i * 60000L),
        s"could not stamp mtime on $f"))

  test("snapshot variant reconstructs the COMPLETE batch answer (argmax)") {
    withTempDir("graft-sess-snap") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id").cast("long"),
          unix_micros(col("ts")).as("ts_us"), col("event_id").cast("long"))
      val cutoff = ev.agg(percentile_approx(col("ts_us"), lit(0.5), lit(100)))
        .as[Long].head()
      ev.filter(col("ts_us") < cutoff).coalesce(1).write.parquet(src)
      stampOrder(src, 0)
      ev.filter(col("ts_us") >= cutoff).coalesce(1).write.mode("append").parquet(src)
      stampOrder(src, 1)

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[Sessionize.Event]
      val q = Streams.sessionizeStreamSnapshot(stream).writeStream
        .format("memory").queryName("sess_snap_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      // the final emission per (user, session) — n_events is monotone within
      // a session — must equal the FULL batch answer, open sessions included
      import org.apache.spark.sql.expressions.Window
      val got = spark.table("sess_snap_stream")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("user_id"), col("session_id"))
            .orderBy(col("n_events").desc)))
        .filter(col("rk") === 1).drop("rk")
      val expected = Sessionize.sessions(
        Tables.events(spark, "/root/testdata/sf0.001")).toDF()

      assert(got.count() === expected.count())
      assert(expected.except(got).isEmpty && got.except(expected).isEmpty)
    }
  }
}
