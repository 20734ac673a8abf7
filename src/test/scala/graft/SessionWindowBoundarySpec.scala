package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins Spark's Append-mode SESSION-WINDOW eviction comparison at the
  * exact boundary (ADVICE r10): q_stream_sess_win's oracle keeps sessions
  * with end ≤ watermark, which silently assumed the engine's predicate is
  * inclusive — and unlike the hourly gate query (whose scaladoc proves a
  * tie unreachable), session ends (last event + gap) and the watermark
  * (max ts − delay) lie on the same second grid, so a tie IS reachable on
  * a future fixture. This spec constructs the tie: one user's session
  * ends at EXACTLY max(ts) − 2 h and must emit (inclusive eviction), a
  * control session ends strictly before (must emit), and the pinning
  * user's own tail session ends after (must be withheld). If a Spark
  * upgrade flips the comparison to strict-<, THIS test names the drift
  * and the oracle's `en <= lim.wm` must flip with it. */
class SessionWindowBoundarySpec extends SparkSpec {
  import spark.implicits._

  test("Append session_window evicts a session whose end EQUALS the watermark") {
    // slice 1: user 1's lone event at 00:00 -> session [00:00, 00:30);
    //          user 3's event at 23:00 previous day -> end 23:30 << wm.
    // slice 2: user 2's event at 02:30 pins max ts; watermark becomes
    //          02:30 - 2h = 00:30 == user 1's session end EXACTLY.
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val s1 = Seq(
      (1L, t("2025-01-02 00:00:00"), 1L),
      (3L, t("2025-01-01 23:00:00"), 2L))
    val s2 = Seq(
      (2L, t("2025-01-02 02:30:00"), 3L))
    withTempDir("graft_swb") { dir =>
      Seq(s1, s2).zipWithIndex.foreach { case (rows, k) =>
        val sub = new java.io.File(dir, s"b$k")
        rows.toDF("user_id", "ts", "event_id")
          .coalesce(1).write.parquet(sub.getAbsolutePath)
        val part = sub.listFiles().find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir, f"slice_$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + k * 60000L))
        sub.listFiles().foreach(_.delete()); sub.delete()
      }
      val schema = spark.read.parquet(dir.getAbsolutePath).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.getAbsolutePath)
        .filter(col("ts").isNotNull) // files only; no dir-level extras
      val sink = "graft_swb_sink"
      val q = graft.streaming.Streams.sessionWindows(src)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(sink)
        .select("user_id", "session_end").as[(Long, String)].collect().toMap
      // control: strictly-before-watermark session emits
      assert(got.get(3L).contains("2025-01-01 23:30:00"),
        "control session (end < wm) must be emitted")
      // the tie: end == watermark — Spark's eviction predicate for
      // session windows is INCLUSIVE (end <= wm emits), which is what
      // q_stream_sess_win's oracle (`en <= lim.wm`) encodes
      assert(got.get(1L).contains("2025-01-02 00:30:00"),
        "session with end == watermark must be emitted (inclusive " +
          "eviction) — if this fails on a Spark upgrade, flip the " +
          "q_stream_sess_win oracle cutoff to en < lim.wm")
      // the pin user's own session (end 03:00 > wm 00:30) is withheld
      assert(!got.contains(2L),
        "unfinalized tail session must be withheld in Append mode")
    }
  }
}
