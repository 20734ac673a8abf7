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

  test("flatMapGroupsWithState closes sessions across micro-batches") {
    withTempDir("graft-sess") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id").cast("long"),
          unix_micros(col("ts")).as("ts_us"), col("event_id").cast("long"))
      val cutoff = ev.agg(percentile_approx(col("ts_us"), lit(0.5), lit(100)))
        .as[Long].head()
      // two time-ordered files → two micro-batches (no per-user inversion:
      // every batch-1 event precedes every batch-2 event in (ts, id) order)
      ev.filter(col("ts_us") < cutoff).coalesce(1).write.parquet(src)
      stampOrder(src, 0)
      ev.filter(col("ts_us") >= cutoff).coalesce(1).write.mode("append").parquet(src)
      stampOrder(src, 1)

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[Sessionize.Event]
      val q = Streams.sessionizeStream(stream).writeStream
        .format("memory").queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      // expected: every batch session except each user's final (still-open) one
      val all = Sessionize.sessions(Tables.events(spark, "/root/testdata/sf0.001"))
        .toDF()
      val lastPerUser = all.groupBy("user_id")
        .agg(max(col("session_id")).as("session_id"))
      val expectedClosed = all.join(lastPerUser, Seq("user_id", "session_id"),
        "left_anti")
      val got = spark.table("sess_stream")

      assert(got.count() > 0)
      assert(got.count() === expectedClosed.count())
      assert(expectedClosed.except(got).isEmpty && got.except(expectedClosed).isEmpty)
    }
  }

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

  test("event-time timeout flushes idle sessions and emits every session") {
    withTempDir("graft-sess-to") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"))
      val cutoffTs = ev.agg(percentile_approx(unix_micros(col("ts")),
        lit(0.5), lit(100))).as[Long].head()
      val maxTs = ev.agg(max(unix_micros(col("ts")))).as[Long].head()
      ev.filter(unix_micros(col("ts")) < cutoffTs).coalesce(1).write.parquet(src)
      stampOrder(src, 0)
      ev.filter(unix_micros(col("ts")) >= cutoffTs).coalesce(1)
        .write.mode("append").parquet(src)
      stampOrder(src, 1)
      // two far-future sentinel files: the first advances the watermark past
      // every real session's last+gap; processing the second fires the
      // timeouts that flush all real users' open sessions
      def sentinel(daysAhead: Int, id: Long) = Seq(
        (-1L, new java.sql.Timestamp(maxTs / 1000 + daysAhead * 86400000L), id))
        .toDF("user_id", "ts", "event_id")
      sentinel(10, 9000001L).coalesce(1).write.mode("append").parquet(src)
      stampOrder(src, 2)
      sentinel(20, 9000002L).coalesce(1).write.mode("append").parquet(src)
      stampOrder(src, 3)

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "0 seconds")
        .as[Streams.TimedEvent]
      val q = Streams.sessionizeStreamWithTimeout(stream).writeStream
        .format("memory").queryName("sess_timeout_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      // with the flush, EVERY real user session is emitted, not just closed ones
      val expectedAll = Sessionize.sessions(
        Tables.events(spark, "/root/testdata/sf0.001")).toDF()
      val got = spark.table("sess_timeout_stream").filter(col("user_id") >= 0)
      assert(got.count() === expectedAll.count())
      assert(expectedAll.except(got).isEmpty && got.except(expectedAll).isEmpty)
    }
  }

  test("session ids keep counting after a timeout flush (no duplicate ids)") {
    withTempDir("graft-sess-cont") { dir =>
      val src = s"${dir.getAbsolutePath}/events"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val day = 86400000L
      val t0 = 1700000000000L // fixed epoch millis; only relative order matters
      val nWrites = new java.util.concurrent.atomic.AtomicInteger(0)
      def file(rows: (Long, Long, Long)*): Unit = {
        rows.toSeq
          .map { case (uid, ms, id) => (uid, new java.sql.Timestamp(ms), id) }
          .toDF("user_id", "ts", "event_id")
          .coalesce(1).write.mode("append").parquet(src)
        stampOrder(src, nWrites.getAndIncrement())
      }

      // batch 1: user 100's first session (2 events, 1 min apart)
      file((100L, t0, 1L), (100L, t0 + 60000L, 2L))
      // batches 2-3: sentinels advance the watermark, then fire the timeout
      // that flushes user 100's idle session via the counter-keeping path
      file((-1L, t0 + 10 * day, 9001L))
      file((-1L, t0 + 12 * day, 9002L))
      // batch 4: user 100 returns — must get session_id 2, not 1 again
      file((100L, t0 + 15 * day, 3L))
      // batches 5-6: advance + fire the timeout that flushes the new session
      file((-1L, t0 + 25 * day, 9003L))
      file((-1L, t0 + 30 * day, 9004L))

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "0 seconds")
        .as[Streams.TimedEvent]
      val q = Streams.sessionizeStreamWithTimeout(stream).writeStream
        .format("memory").queryName("sess_continuity_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120 s")

      val got = spark.table("sess_continuity_stream")
        .filter(col("user_id") === 100L)
        .select("session_id", "n_events").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 2L), (2L, 1L)))
    }
  }
}
