package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The stream-slice fixture's load-bearing invariants: the gate's
  * multi-micro-batch streaming runs are only correct if the slices carry
  * EXACTLY the events table (no row lost or duplicated at the quartile
  * cuts) in REPLAY order that is time order (ascending mtimes, slices
  * time-disjoint) — the contract that lets the no-timeout sessionizer's
  * gap logic see each user's events in order across batches. */
class StreamSliceSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val sliced = queries.StreamQueries.slicedEventsDir(spark, dir)

  test("slices carry exactly the events table (multiset equality)") {
    val ev = Tables.events(spark, dir)
    val sl = spark.read.parquet(sliced)
    assert(sl.count() === ev.count())
    assert(ev.select("event_id").except(sl.select("event_id")).isEmpty)
    assert(sl.groupBy("event_id").count().filter(col("count") > 1).isEmpty,
      "a cut boundary duplicated rows")
  }

  test("slices are time-disjoint and mtime order is time order") {
    val files = new java.io.File(sliced).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    assert(files.length === 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"slices overlap in time: $hi >= $lo2")
    }
  }

  test("2-slice variants hold the same invariants (the r12 gate dirs)") {
    // q_stream_sessionize/hourly stream the 2-part dir; sess_win/join/
    // dedup the 2-on-time late dir — same multiset/disjoint/order
    // contract as the 4-part fixtures
    val ev = Tables.events(spark, dir)
    val two = spark.read.parquet(
      queries.StreamQueries.slicedEventsDir(spark, dir, parts = 2))
    assert(two.count() === ev.count())
    assert(ev.select("event_id").except(two.select("event_id")).isEmpty)
    val lateDir = queries.StreamQueries
      .lateSlicedEventsDir(spark, dir, onParts = 2)
    val files = new java.io.File(lateDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    assert(files.length === 3)
    val all = spark.read.parquet(lateDir)
    assert(all.count() === ev.count())
    assert(ev.select("event_id").except(all.select("event_id")).isEmpty)
    // the last slice is still exactly the late set
    val t0 = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
    val expectedLate = ev.filter((col("event_id") % 10 === 7) &&
      (unix_micros(col("ts")) < t0 + 86400000000L))
    val last = spark.read.parquet(files.last.getAbsolutePath)
    assert(last.count() === expectedLate.count() && last.count() > 0)
    assert(expectedLate.select("event_id").except(last.select("event_id"))
      .isEmpty)
  }

  test("late fixture: last slice is exactly the day-one late set, " +
    "arriving after all on-time data") {
    val lateDir = queries.StreamQueries.lateSlicedEventsDir(spark, dir)
    val files = new java.io.File(lateDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    assert(files.length === 4)
    val ev = Tables.events(spark, dir)
    val t0 = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
    val isLate = (col("event_id") % 10 === 7) &&
      (unix_micros(col("ts")) < t0 + 86400000000L)
    // union of slices == events table, and the LAST slice == the late set
    val all = spark.read.parquet(lateDir)
    assert(all.count() === ev.count())
    assert(ev.select("event_id").except(all.select("event_id")).isEmpty)
    val last = spark.read.parquet(files.last.getAbsolutePath)
    val expectedLate = ev.filter(isLate)
    assert(last.count() === expectedLate.count() && last.count() > 0,
      "late set must be non-empty or the Append gate query is vacuous")
    assert(expectedLate.select("event_id").except(last.select("event_id"))
      .isEmpty)
    // on-time slices are time-ordered among themselves and the late
    // slice's events all PRECEDE the watermark its arrival sees
    val onRanges = files.init.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    onRanges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi < lo2)
    }
    val lateMax = last.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val onMax = onRanges.last._2
    assert(lateMax < onMax - 7200L * 1000000L,
      "late rows must sit beyond the 2h watermark delay when they arrive")
  }

  // State width is never wider than the session: on a session of shuffle
  // width 2 the gate streams keep 2 state partitions on both the
  // single-store rung (q_stream_dedup) and the join rung (q_stream_join,
  // store divisor 2), in the rule and in the streams' own progress
  // reports. Fresh sessions, so the shared session's conf never changes.

  test("small sources: state width is capped at the session width") {
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "2")
    assert(queries.StreamQueries.stateWidth(narrow, dir) === 2)
    assert(queries.StreamQueries.stateWidth(narrow, dir, storeDivisor = 2) === 2)
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    assert(queries.StreamQueries.stateWidth(wide, dir) === 8)
    assert(queries.StreamQueries.stateWidth(wide, dir, storeDivisor = 2) === 4)
  }

  private def tempViews(s: org.apache.spark.sql.SparkSession): Seq[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).sorted.toSeq

  // On a wide session (width 16) the same streams run at their state
  // width (8 and 4) while the session itself keeps reading 16, and no
  // gate run leaves its sink view behind.
  test("single-store and join streams run their state at width 2") {
    import scala.jdk.CollectionConverters._
    /** (stream name, state partitions) per progress event, and the
      * session width each progress event saw. */
    def run(width: Int): (Set[(String, Long)], Set[String]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      val widths = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
      val confs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          confs.add(s.conf.get("spark.sql.shuffle.partitions"))
          e.progress.stateOperators.foreach(o =>
            widths.add((e.progress.name, o.numShufflePartitions)))
        }
      }
      s.streams.addListener(listener)
      val views = tempViews(s)
      for (q <- Seq("q_stream_dedup", "q_stream_join")) {
        assert(Registry.byName(q).fn(s, dir).count() > 0)
      }
      org.apache.spark.GraftTestBus.drain(s.sparkContext)
      s.streams.removeListener(listener)
      val seen = widths.asScala.toSet
      assert(seen.exists(_._1.startsWith("graft_stream_dedup_")), seen)
      assert(seen.exists(_._1.startsWith("graft_stream_join_")), seen)
      assert(s.conf.get("spark.sql.shuffle.partitions") === width.toString)
      assert(tempViews(s) === views)
      (seen, confs.asScala.toSet)
    }
    val (narrow, _) = run(2)
    assert(narrow.forall(_._2 == 2L), narrow)
    val (wide, wideConfs) = run(16)
    def parts(prefix: String) = wide.filter(_._1.startsWith(prefix)).map(_._2)
    assert(parts("graft_stream_dedup_") === Set(8L), wide)
    assert(parts("graft_stream_join_") === Set(4L), wide)
    assert(wideConfs === Set("16"))
  }

  test("runGate: a failing stream's error reaches the caller, and neither " +
      "its sink view, its checkpoint nor a width swap outlives it") {
    withTempDir("graft-gate") { scratch =>
      val s = spark.newSession()
      s.conf.set("spark.graft.stream.scratchDir", scratch.getAbsolutePath)
      s.conf.set("spark.sql.shuffle.partitions", "5")
      val boom = udf { (id: Long) =>
        if (id % 10 == 7) throw new IllegalStateException(s"boom at $id")
        id
      }
      val src = s.readStream.schema(s.read.parquet(sliced).schema)
        .option("maxFilesPerTrigger", 1).parquet(sliced)
        .select(boom(col("event_id").cast("long")).as("id"))
      val views = tempViews(s)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        queries.StreamQueries.runGate(s, "boom", 3, "append")(src)
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains("boom at"))), e)
      assert(tempViews(s) === views)
      assert(scratch.list().toSeq === Nil)
      assert(s.conf.get("spark.sql.shuffle.partitions") === "5")
    }
  }
}
