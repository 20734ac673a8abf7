package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}
import graft.ops.Checkpoints
import graft.ops.Checkpoints.deleteRec

/** Event-stream semantics over the `events` table, validated in batch mode
  * (batch/streaming unification: the same groupBy(window(...)) plan runs
  * under readStream — see graft.streaming.Streams and its spec). Windows
  * are epoch-aligned exactly like Structured Streaming's `window()`.
  */
object StreamQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** q_events_hourly — tumbling 1-hour windows per event_type: the exact
    * [[graft.streaming.Streams.hourlyCounts]] plan run in batch mode (the
    * watermark is a no-op there; StreamingSpec asserts the readStream run
    * of the same function matches). */
  val qHourly = Q("q_events_hourly",
    (s, dir) => graft.streaming.Streams.hourlyCounts(Tables.events(s, dir)),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** q_events_sliding — 2-hour windows sliding every hour (each event
    * lands in two windows): [[graft.streaming.Streams.slidingCounts]] in
    * batch mode. Oracle mirrors the window set by exploding offsets. */
  val qSliding = Q("q_events_sliding",
    (s, dir) => graft.streaming.Streams.slidingCounts(Tables.events(s, dir)),
    Some("""SELECT strftime(date_trunc('hour', ts) - off * INTERVAL 1 HOUR,
      |                '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n
      |FROM events CROSS JOIN (VALUES (0), (1)) t(off)
      |GROUP BY 1, 2""".stripMargin))

  /** q_sessionize — 30-minute-gap sessions per user via lag + running sum
    * (the batch equivalent of flatMapGroupsWithState sessionization). */
  val qSessionize = Q("q_sessionize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 1800L * 1000000L
      Tables.events(s, dir)
        .withColumn("prev_us",
          lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > gapUs,
            1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
    },
    Some("""WITH gaps AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM gaps)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM sess GROUP BY user_id, session_id""".stripMargin))

  /** q_session_window — the same 30-minute-gap sessions via Spark's
    * BUILT-IN `session_window` (dynamic merging windows inside one
    * aggregation — the native capability [[qSessionize]] hand-rolls with
    * lag + running sum, and the state discipline streaming session
    * windows use). Boundary semantics differ between the two
    * formulations and the oracle encodes session_window's: a session's
    * end is last-event + gap and windows are half-open, so an event at
    * EXACTLY gap distance starts a NEW session (strict <), where the
    * lag formulation keeps it (<=); no consecutive per-user gap in the
    * fixture sits exactly on 1800 s, so both capabilities stay
    * independently checkable. One shuffle on the user key; the window
    * merge is per-group state, no second exchange. */
  val qSessionWindow = Q("q_session_window",
    (s, dir) => graft.streaming.Streams.sessionWindows(Tables.events(s, dir)),
    Some("""WITH gaps AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM gaps)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
      |    AS session_end,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin),
    "§2.8 capability: built-in session_window dynamic merging windows " +
      "(the native twin of the hand-rolled sessionizer)")

  /** q_events_json — JSON prop extraction + bucket aggregation. */
  val qJson = Q("q_events_json",
    (s, dir) => Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value")),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      |  count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin))

  /** q_events_topk — the custom TopKPerGroup operator on the events
    * fact (top-3 by value per type): map-side heap pruning means only
    * 3·|types| rows reach the exchange regardless of event volume. */
  val qEventsTopK = Q("q_events_topk",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.ops.TopK.perGroup(e, Seq(e("event_type")),
          Seq(e("value") -> true, e("event_id") -> false), 3)
        .select("event_type", "rk", "event_id", "value")
    },
    Some("""SELECT event_type, rk, event_id, value FROM (
      |  SELECT event_type, event_id, value, row_number() OVER (
      |    PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
      |  FROM events) t WHERE rk <= 3""".stripMargin),
    "custom operator on the event fact table")

  /** q_asof_join — each purchase event joined as-of to the user's latest
    * prior-or-simultaneous click via [[graft.ops.AsOf.joinAsOf]] (the
    * single-shuffle union+window formulation; see its scaladoc for why
    * the range-predicate join shape is the wrong plan at scale). The
    * DuckDB oracle uses the engine-native `ASOF LEFT JOIN` — a strong
    * differential check since the two implementations share nothing. */
  val qAsof = Q("q_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = graft.ops.AsOf.latestPerKeyTs(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        "user_id", "ts", "event_id")
      graft.ops.AsOf.joinAsOf(purchases, clicks, "user_id", "ts",
          col("event_id"))
        .select(
          col("l.user_id").as("user_id"),
          col("l.event_id").as("purchase_id"),
          date_format(col("l.ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("r.event_id").as("click_id"),
          (unix_micros(col("l.ts")) - unix_micros(col("r.ts"))).as("gap_us"))
    },
    Some("""WITH p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
      |)
      |SELECT p.user_id, p.event_id AS purchase_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  c.event_id AS click_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),
    "as-of join (north star: the canonical operator Spark lacks)")

  /** q_asof_bcast — the SAME as-of semantics through the shuffle-free
    * broadcast formulation ([[graft.ops.AsOf.joinAsOfBroadcast]]: right
    * side grouped/sorted driver-side and broadcast, left partitions
    * binary-search in place — the dimension-sized-right plan). Shares
    * q_asof_join's oracle verbatim, so the two physically unrelated
    * implementations are differentially checked against each other AND
    * against DuckDB's native ASOF. PlanSpec pins the shuffle-free left
    * side. */
  val qAsofBcast = Q("q_asof_bcast",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
      val clicks = graft.ops.AsOf.latestPerKeyTs(
          ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          "user_id", "ts", "event_id")
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.ops.AsOf.joinAsOfBroadcast(purchases, clicks, "user_id", "ts_us")
        .select(
          col("l.user_id").as("user_id"),
          col("l.event_id").as("purchase_id"),
          date_format(col("l.ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("r.event_id").as("click_id"),
          (col("l.ts_us") - col("r.ts_us")).as("gap_us"))
    },
    qAsof.oracle,
    "as-of join, broadcast variant (shuffle-free left; differential vs q_asof_join)")

  /** q_range_join — each click landing within 6 hours after a signup of
    * the same user, via [[graft.ops.RangeJoin.joinPointInInterval]]'s
    * bucketed equi-join (1-hour buckets: each 6-hour interval explodes
    * to <= 7 bucket rows; a raw inequality join would be an in-key
    * all-pairs filter). Oracle is the plain BETWEEN join — DuckDB can
    * afford the naive plan at oracle scale, which is the point of the
    * differential. */
  val qRangeJoin = Q("q_range_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val sixHoursUs = 6L * 3600L * 1000000L
      val signups = ev.filter(col("event_type") === "signup").select(
        col("user_id"), col("event_id").as("signup_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + sixHoursUs).as("e_us"))
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("c_us"))
      graft.ops.RangeJoin.joinPointInInterval(clicks, signups,
          "user_id", "c_us", "s_us", "e_us", bucketUs = 3600L * 1000000L)
        .select(col("user_id"), col("signup_id"), col("click_id"),
          (col("c_us") - col("s_us")).as("offset_us"))
    },
    Some("""WITH s AS (
      |  SELECT user_id, event_id AS signup_id, epoch_us(ts) AS s_us
      |  FROM events WHERE event_type = 'signup'
      |), c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT s.user_id, s.signup_id, c.click_id, c.c_us - s.s_us AS offset_us
      |FROM s JOIN c ON c.user_id = s.user_id
      |  AND c.c_us BETWEEN s.s_us AND s.s_us + 21600000000""".stripMargin),
    "range join (north star: bucketed point-in-interval equi-join)")

  private val streamRunId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Gate/bench state-partition width for the streaming executions,
    * sized to the SOURCE VOLUME — the knob a production streaming job
    * tunes. Streaming state lives in one store instance per (shuffle
    * partition × store), committed every micro-batch; a stream-stream
    * join carries FOUR stores per partition, so at the session's full
    * width (32) the sf0.1 gate runs paid 32·4·5 ≈ 640 store commits for
    * micro-batches holding kilobytes per partition (measured:
    * q_stream_join 10.8 s at width 32, 4.0 s at 8) — while at the 100×
    * fixture the per-batch data is 2.5M rows and width 8 STARVES the
    * aggregation (q_stream_hourly 2.4 s at 32, 7.7 s at 8). Width
    * follows the events source size: 8 below 32 MiB, the session width
    * above — and never more than the session width, so a session
    * narrower than 8 (a 4-core box) runs its state stages in one task
    * wave and commits no more stores per batch than it has cores. */
  private def streamStateParts(s: SparkSession, dir: String): Int = {
    val bytes = new java.io.File(s"$dir/events.parquet").length()
    val session = s.sessionState.conf.numShufflePartitions
    if (bytes < 32L * 1024 * 1024) math.min(8, session) else session
  }

  /** The state width a gate stream runs at: [[streamStateParts]] divided
    * by the query's store MULTIPLICITY, at least 2. A stream-stream join
    * commits FOUR stores per partition (keyToNumValues + keyWithIndex on
    * each side) where an aggregation commits one, so at equal width it
    * pays 4× the per-batch store-commit floor the volume ladder priced
    * for one store. Halving the join's width (`storeDivisor = 2`) keeps
    * its total store-instance count in the ladder's intended band at ANY
    * ladder rung (it scales the ladder's output, not a constant).
    * Measured at sf0.1 (width 8 → 4, join only): 3.63 → 3.32 s in r18's
    * ladder A/B and 3.85 → 2.96 s probe median in r19 — the r18 global
    * 8→4 was rejected only because single-store queries (neardup's
    * md5-heavy batches) lost width they need. */
  private[graft] def stateWidth(s: SparkSession, dir: String,
                                storeDivisor: Int = 1): Int =
    math.max(streamStateParts(s, dir) / storeDivisor, 2)

  /** Shared oracle preamble for every [[lateSlicedEventsDir]] gate
    * query: the late-set predicate and the final-watermark cutoff,
    * defined ONCE so the four streaming oracles and the slice builder
    * cannot silently desynchronize (the engine-side predicate lives in
    * [[lateSlicedEventsDir]]; change both together). Emits `lim`
    * (early_cut, wm) and `ontime`. */
  private val lateOntimeSql =
    """lim AS (
      |  SELECT min(ts) + INTERVAL 1 DAY AS early_cut,
      |         max(ts) - INTERVAL 2 HOUR AS wm
      |  FROM events
      |), ontime AS (
      |  SELECT e.* FROM events e, lim
      |  WHERE NOT (e.event_id % 10 = 7 AND e.ts < lim.early_cut)
      |)""".stripMargin

  /** Scratch root for the gate queries' EPHEMERAL streaming checkpoints,
    * handed to `body` as a fresh per-run checkpointLocation and deleted
    * when the run ends (r19, guide §1 measurement: walCommit +
    * commitOffsets + the state store's per-task delta read/write were
    * ~25-30% of every micro-batch's wall on the disk-backed
    * java.io.tmpdir default). These executions are AvailableNow
    * one-shots whose sink is read back synchronously in the same call —
    * restart/recovery is structurally impossible, so checkpoint
    * durability buys nothing and the WAL + state deltas belong on the
    * fastest LOCAL scratch medium: RAM-backed /dev/shm when present,
    * else java.io.tmpdir (exactly what Spark's own temp-checkpoint
    * fallback uses). A production streaming job — long-lived,
    * restartable — needs a durable checkpoint and would pass its own
    * checkpointLocation instead of this scratch; the conf
    * (`spark.graft.stream.scratchDir`) retunes the scratch root per
    * deployment without a rebuild. A JVM killed mid-run leaves its
    * checkpoint behind, so the first run on each scratch root in a JVM
    * sweeps `graft_stream_ckpt_*` dirs older than an hour
    * ([[Checkpoints.sweepStaleOnce]]). */
  private def withScratchCheckpoint[T](s: SparkSession)(body: String => T): T = {
    val base = s.conf.getOption("spark.graft.stream.scratchDir").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) shm.getAbsolutePath
      else System.getProperty("java.io.tmpdir")
    }
    val prefix = "graft_stream_ckpt_"
    Checkpoints.sweepStaleOnce(new java.io.File(base), prefix)
    val dir = new java.io.File(base,
      s"$prefix${streamRunId.incrementAndGet()}_" +
        java.util.UUID.randomUUID().toString.take(8))
    try body(dir.getAbsolutePath) finally deleteRec(dir)
  }

  /** The one way every gate query executes its stream: `stream` runs
    * into a memory sink named `graft_stream_<tag>_<n>` under
    * `Trigger.AvailableNow` in output `mode`, against a
    * [[withScratchCheckpoint]] location, on the caller's session; the
    * call blocks until the stream ends and returns the sink's contents.
    *
    * The stream's shuffle width — and with it its state-partition count —
    * is `width`. `spark.sql.shuffle.partitions` is set to it only across
    * `writeStream.start()` and restored in `finally`: the StreamExecution
    * constructor clones the session inside `start()`, and that clone fixes
    * the width for the whole run, so the swap a concurrent caller could
    * see lasts one `start()` call instead of the stream's whole run. A
    * separate `spark.newSession()` per gate would avoid the swap but was
    * measured to cost more than it saves: a child session's streams post
    * no progress events to listeners on the caller's `spark.streams`
    * (perfbench's stream tracing registers there), and every child
    * session that starts a stream adds two listeners to the SparkContext
    * bus for good (5 → 7 → 9 → 11 over three runs).
    *
    * The sink's temp view is dropped in `finally`, before returning or
    * rethrowing, so no run leaves its result registered in the session
    * (about 20 MB per q_stream_dedup run at sf0.1). The returned frame
    * stays valid: its analyzed plan already holds the sink's MemoryPlan. */
  private[graft] def runGate(s: SparkSession, tag: String, width: Int,
                             mode: String)(stream: Dataset[_]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sink = s"graft_stream_${tag}_${streamRunId.incrementAndGet()}"
    try {
      withScratchCheckpoint(s) { ckpt =>
        val w = stream.writeStream.format("memory").queryName(sink)
          .outputMode(mode).trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
        val key = "spark.sql.shuffle.partitions"
        val prev = s.conf.get(key)
        def setWidth(v: String): Unit = s.conf.set(key, v)
        setWidth(width.toString)
        val q = try w.start() finally setWidth(prev)
        try q.awaitTermination() finally q.stop()
      }
      s.table(sink)
    } finally s.catalog.dropTempView(sink)
  }

  /** readStream over a time-ordered slice dir ([[buildSliceDir]]): one
    * micro-batch per slice file. */
  private def sliceStream(s: SparkSession, sliced: String): DataFrame =
    s.readStream.schema(s.read.parquet(sliced).schema)
      .option("maxFilesPerTrigger", 1).parquet(sliced)

  /** q_stream_moments — the ONE registry entry whose Spark side actually
    * executes `readStream`: [[graft.streaming.Streams.momentsStream]]
    * (three-long GroupState per event_type) over the events parquet under
    * `Trigger.AvailableNow`, Update-mode into a memory sink, then the
    * final emission per group (argmax n — n is strictly monotone per
    * group, so the largest-n row IS the post-all-data state; ties are
    * impossible because a group only re-emits when it absorbs rows).
    * Since late r9 it streams [[slicedEventsDir]]'s four time-ordered
    * slices with `maxFilesPerTrigger=1`, so the gate run folds the
    * per-type (n, Σ, Σ²) state across four genuine micro-batches.
    *
    * The oracle is q_value_moments' SQL verbatim — the batch/stream
    * unification contract (StreamMomentsSpec pins digit-exact equality of
    * the integer-sum state and the HALF_UP finisher chain) made
    * driver-checkable: DuckDB computes the batch answer, the Spark side
    * reaches it through an actual streaming execution. */
  val qStreamMoments = Q("q_stream_moments",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val src = sliceStream(s, slicedEventsDir(s, dir))
        .select(col("event_type"), col("value"))
      runGate(s, "moments", stateWidth(s, dir), "update")(
        graft.streaming.Streams.momentsStream(src, "event_type", "value")
          .toDF("event_type", "n", "mean_value", "std_value"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("n").desc)))
        .filter(col("rk") === 1).drop("rk")
    },
    graft.queries.AnalyticsQueries.qValueMoments.oracle,
    "north star: a real readStream execution inside the correctness gate " +
      "(AvailableNow + memory sink; final Update emission per group)")

  /** The events table cut into `parts` TIME-ORDERED parquet slices
    * (exact `ts` quartiles via percentile_approx, strict-</>= bands so
    * every row lands in exactly one slice), written once per source dir
    * under java.io.tmpdir and reused. With `maxFilesPerTrigger=1` the
    * file source replays them in modification-time order — ascending, as
    * written — so the gate's streaming executions genuinely fold state
    * ACROSS micro-batches (a single-file source would be one degenerate
    * batch; the time ordering is what lets the no-timeout sessionizer's
    * gap logic see each user's events in order, same contract as
    * StatefulStreamSpec's two-file split). */
  private[graft] def slicedEventsDir(s: SparkSession, dir: String,
                              parts: Int = 4): String =
    buildSliceDir(s, dir, s"q$parts",
      timeBands(Tables.events(s, dir), parts))

  /** `ev` cut into `parts` bands of `ts` at its approximate quantiles (one
    * percentile_approx job): strict-`<` upper and `>=` lower bounds, so
    * every row lands in exactly one band. */
  private def timeBands(ev: DataFrame, parts: Int): Seq[DataFrame] = {
    val us = unix_micros(col("ts"))
    val qs = (1 until parts).map(_.toDouble / parts)
    val cuts = ev.select(percentile_approx(us, typedLit(qs), lit(10000)).as("c"))
      .head().getSeq[Long](0)
    (0 until parts).map { k =>
      val lo = if (k == 0) None else Some(cuts(k - 1))
      val hi = if (k == parts - 1) None else Some(cuts(k))
      ev.filter(lo.map(us >= _).getOrElse(lit(true)) &&
        hi.map(us < _).getOrElse(lit(true)))
    }
  }

  /** The slice layout for the APPEND-mode gate query: three time-ordered
    * on-time slices (exact `ts` terciles of the on-time set) followed by
    * one deliberately LATE slice — the day-one events with
    * `event_id % 10 = 7`, withheld until every on-time slice has been
    * processed. By the time the late slice arrives, the watermark sits at
    * global-max(ts) − delay (29 days past the late rows' event times), so
    * a correct Append-mode run must DROP every one of them — which is the
    * eviction behavior [[qStreamAppend]]'s oracle encodes. The late-set
    * predicate is deliberately SQL-expressible (unlike the tercile cuts,
    * which don't affect the answer) so the oracle can name the same set. */
  private[graft] def lateSlicedEventsDir(s: SparkSession, dir: String,
                                         onParts: Int = 3): String =
    buildSliceDir(s, dir, s"late$onParts", {
      val ev = Tables.events(s, dir)
      val us = unix_micros(col("ts"))
      val t0 = ev.agg(min(us).as("t0")).head().getLong(0)
      val isLate = (col("event_id") % 10 === 7) && (us < t0 + 86400000000L)
      timeBands(ev.filter(!isLate), onParts) :+ ev.filter(isLate)
    })

  /** Writes `slices` (call-by-name: only evaluated on a cache miss) as
    * time-ordered single-file parquet slices under java.io.tmpdir,
    * stamped with ascending mtimes so the file source replays them in
    * write order, one micro-batch each under `maxFilesPerTrigger=1`.
    * Cached per (dir, tag, source size+mtime). */
  private def buildSliceDir(s: SparkSession, dir: String, tag: String,
                            slices: => Seq[DataFrame],
                            srcName: String = "events"): String = {
    // cache key includes the source file's size+mtime, not just its
    // path: the driver has regenerated testdata in place across rounds
    // (the ts-encoding drift), and a path-keyed cache would silently
    // serve slices of the PREVIOUS corpus against oracles computed on
    // the new one
    val src = new java.io.File(s"$dir/$srcName.parquet")
    val stamp = s"$dir|$tag|${src.length()}|${src.lastModified()}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(stamp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    Checkpoints.buildOnce(new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_stream_slices_$key").getAbsolutePath) { tmp =>
      slices.zipWithIndex.foreach { case (slice, k) =>
        // slices carry the NORMALIZED ts TIMESTAMP (Tables.events), so
        // the stream reader consumes them without re-normalizing
        val sdir = new java.io.File(tmp, s"build$k")
        slice.coalesce(1).write.parquet(sdir.getAbsolutePath)
        val part = sdir.listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for slice $k"))
        val dst = new java.io.File(tmp, f"slice_$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        deleteRec(sdir)
        // the file source replays in (mtime, path) order and ms-level
        // mtimes of back-to-back writes can collide — stamp explicit
        // ascending mtimes so slice order IS time order; fail loudly at
        // build time if the filesystem refuses the stamp (silent
        // failure would surface much later as an order-dependent
        // q_stream_sessionize mismatch far from this cause)
        require(dst.setLastModified(1700000000000L + k * 60000L),
          s"could not stamp mtime on $dst")
      }
    }
  }

  /** q_stream_sessionize — a SECOND real readStream execution in the
    * gate, exercising the state pattern q_stream_moments does not:
    * `flatMapGroupsWithState` session windows
    * ([[graft.streaming.Streams.sessionizeStreamSnapshot]], Update mode,
    * one OpenSession per user carried across micro-batches). The snapshot
    * variant re-emits the open session whenever it absorbs events, so
    * the final emission per (user, session) — argmax n_events, which is
    * strictly monotone within a session — reconstructs the COMPLETE
    * batch answer including each user's final never-closed session (the
    * Append variant's structural blind spot). Runs over
    * [[slicedEventsDir]]'s time-ordered slices with one micro-batch
    * each — TWO since r12 (VERDICT r11 #3c): one slice boundary already
    * exercises the cross-batch per-user state fold (open sessions carried
    * and re-emitted), and the four-boundary fold stays proven by
    * q_stream_moments, the family's multi-batch flagship; each extra
    * micro-batch is pure state-store/planning floor re-proving the same
    * transition. Oracle: q_sessionize's SQL verbatim — the batch
    * window-function formulation and the streaming GroupState
    * formulation share nothing but the gap contract. */
  val qStreamSessionize = Q("q_stream_sessionize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val src = sliceStream(s, slicedEventsDir(s, dir, parts = 2))
        .select(col("user_id").cast("long").as("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id").cast("long").as("event_id"))
        .as[graft.ops.Sessionize.Event]
      runGate(s, "sess", stateWidth(s, dir), "update")(
        graft.streaming.Streams.sessionizeStreamSnapshot(src))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("user_id"), col("session_id"))
            .orderBy(col("n_events").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("session_id"), col("n_events"),
          date_format(timestamp_micros(col("start_us")),
            "yyyy-MM-dd HH:mm:ss").as("session_start"))
    },
    qSessionize.oracle,
    "north star: flatMapGroupsWithState sessionization executed as a " +
      "real stream inside the correctness gate (Update-mode snapshots)")

  /** q_stream_hourly — windowed streaming aggregation in the gate via the
    * third output discipline: Complete mode, where the sink holds the
    * whole result table and the last micro-batch's emission IS the final
    * answer (no argmax reconstruction needed). Runs the exact
    * [[graft.streaming.Streams.hourlyCounts]] plan q_events_hourly runs
    * in batch — built-in `window()` tumbling state rather than custom
    * GroupState — under AvailableNow with one micro-batch per file (two
    * slices since r12: one boundary proves the cross-batch window-state
    * fold; q_stream_moments keeps the four-batch run).
    * Oracle: q_events_hourly's SQL verbatim. Complete mode keeps all
    * window state resident (the watermark cannot evict), which is
    * exactly why it is reserved for bounded window×group outputs like
    * this hourly rollup; unbounded-key streams use the Update path. */
  val qStreamHourly = Q("q_stream_hourly",
    (s, dir) => runGate(s, "hourly", stateWidth(s, dir), "complete")(
      graft.streaming.Streams.hourlyCounts(
        sliceStream(s, slicedEventsDir(s, dir, parts = 2)))),
    qHourly.oracle,
    "north star: built-in window() streaming aggregation in the gate " +
      "(Complete mode — final micro-batch emission is the answer)")

  /** q_stream_append — the FOURTH streaming output discipline in the
    * gate, and the one production jobs actually run: APPEND mode with
    * watermark eviction. The exact [[graft.streaming.Streams.hourlyCounts]]
    * plan (1-hour tumbling windows, 2-hour watermark) streams
    * [[lateSlicedEventsDir]]'s four slices — three time-ordered on-time
    * terciles, then a deliberately LATE slice of day-one events arriving
    * when the watermark already sits 29 days past them. Append-mode
    * semantics under test, both encoded in the oracle:
    *
    *  - **late data is DROPPED**: the late slice's rows belong to windows
    *    finalized long before it arrives, so they must not appear in (or
    *    re-emit) any result row — the oracle excludes the late set;
    *  - **only watermark-finalized windows emit**: a window appears in
    *    the sink exactly once, when the watermark (max event time − 2 h,
    *    recomputed per micro-batch from all PRIOR batches) passes its
    *    end; windows inside the final 2 hours of the timeline are never
    *    finalized and must be ABSENT — the oracle keeps only windows
    *    with end ≤ max(ts) − 2 h. (The window ends are hour-aligned and
    *    the corpus max-ts is not, so the ≤-vs-< boundary reading of
    *    Spark's eviction predicate cannot change the answer.)
    *
    * Update/Complete (the other gate runs) would emit MORE than this —
    * Append's whole contract is what it withholds, which is why its
    * oracle is the one that differs from the batch answer. State at
    * scale: O(groups × windows-in-flight) — the watermark evicts
    * everything older, the property this query finally executes rather
    * than asserts. */
  val qStreamAppend = Q("q_stream_append",
    (s, dir) => runGate(s, "append", stateWidth(s, dir), "append")(
      graft.streaming.Streams.hourlyCounts(
        sliceStream(s, lateSlicedEventsDir(s, dir)))),
    Some("WITH " + lateOntimeSql + """
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM ontime, lim
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= lim.wm
      |GROUP BY 1, 2""".stripMargin),
    "north star: Append-mode watermark eviction executed in the gate " +
      "(late slice dropped, unfinalized tail windows withheld)")

  /** q_stream_sess_win — the FIFTH streaming discipline in the gate:
    * built-in `session_window` under Append mode — dynamic MERGING
    * window state (none of the fixed-window or custom-GroupState runs
    * exercise it: a user's open session absorbs and MERGES events
    * delivered across micro-batches, and emits exactly once when the
    * watermark passes its end = last event + gap). Streams
    * [[lateSlicedEventsDir]], so the run also re-proves Append's two
    * withholdings in the merging-window regime (two on-time halves + the
    * late slice since r12 — the boundaries under test are ontime→ontime
    * merge and ontime→late drop, both present with two halves; Append's
    * three-tercile advance stays proven by q_stream_append): the day-one
    * late slice
    * arrives 29 days behind the watermark and is dropped row-by-row
    * (each late row's provisional window end ts+gap is far below the
    * watermark), and sessions ending inside the final 2 hours never
    * finalize. The oracle therefore sessionizes the ON-TIME set only
    * (dropping a bridging event may legitimately SPLIT a session — the
    * oracle recomputes sessions from scratch on on-time rows, exactly
    * what the engine's input-side eviction produces) and keeps sessions
    * with end ≤ max(ts) − 2 h, using session_window's strict-< gap
    * boundary.
    *
    * Eviction-boundary status (ADVICE r10): unlike q_stream_append,
    * whose hour-aligned window ends make a watermark tie unreachable,
    * session ends (last event + 30 min) and the watermark share the
    * second grid, so end == watermark IS reachable on a future fixture.
    * The oracle's inclusive cutoff (`en <= lim.wm`) is therefore no
    * longer an assumption: SessionWindowBoundarySpec constructs the
    * exact tie and pins that Spark's Append-mode session-window
    * eviction EMITS it (inclusive), alongside a strictly-before control
    * and a withheld tail — if a Spark upgrade flips the comparison,
    * that spec names the drift and this cutoff flips with it. */
  val qStreamSessWin = Q("q_stream_sess_win",
    (s, dir) => runGate(s, "sesswin", stateWidth(s, dir), "append")(
      graft.streaming.Streams.sessionWindows(
        sliceStream(s, lateSlicedEventsDir(s, dir, onParts = 2)))),
    Some("WITH " + lateOntimeSql + """, gaps AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM ontime
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM gaps
      |), agg AS (
      |  SELECT user_id, min(ts) AS st,
      |         max(ts) + INTERVAL 30 MINUTE AS en, count(*) AS n_events
      |  FROM sess GROUP BY user_id, sid
      |)
      |SELECT user_id,
      |  strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(en, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  n_events
      |FROM agg, lim WHERE en <= lim.wm""".stripMargin),
    "north star: session_window Append-mode eviction executed in the " +
      "gate (merging-window state across micro-batches; late slice " +
      "dropped, unfinalized tail sessions withheld)")

  /** q_stream_join — the SIXTH streaming discipline in the gate: a real
    * STREAM-STREAM interval join (the q_range_join semantics — each
    * signup joined to the same user's clicks within 6 hours — as two
    * readStream sources joined under event-time watermarks). The state
    * discipline is join-specific: each side buffers rows until the
    * OTHER side's watermark proves no future partner can match (a
    * signup's state lives until the click watermark passes signup+6h; a
    * click's until the signup watermark passes the click), and matches
    * emit the moment they form — no finalization wait, so unlike the
    * Append aggregations the tail is NOT withheld. Both sources stream
    * [[lateSlicedEventsDir]] in lockstep (maxFilesPerTrigger=1 pulls
    * one file per source per trigger; two on-time halves + late since
    * r12 — cross-batch buffering and the late drop both happen at the
    * remaining boundaries, and FEWER batches advance the watermark less
    * often, which is strictly safer for join-state retention);
    * time-ordered delivery plus the
    * 2-hour watermark delay covers the 6-hour join window, so no
    * ON-TIME match can be lost to state eviction — the only divergence
    * from the batch answer is the late day-one slice, dropped on
    * arrival on whichever side it lands. Oracle: the q_range_join SQL
    * over the ON-TIME set only. (At sf0.01 no match happens to involve
    * a late row, so on-time == full there; sf0.1 has 19 late-involved
    * matches and the 10× fixture 190 — the drop is discriminated by the
    * 10× bit-identity record, the gate by the join itself.) */
  val qStreamJoin = Q("q_stream_join",
    (s, dir) => {
      val sliced = lateSlicedEventsDir(s, dir, onParts = 2)
      def src() = sliceStream(s, sliced)
      val signups = src().filter(col("event_type") === "signup")
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("ts").as("s_ts"))
      val clicks = src().filter(col("event_type") === "click")
        .withWatermark("ts", "2 hours")
        .select(col("user_id").as("c_user"),
          col("event_id").as("click_id"), col("ts").as("c_ts"))
      val joined = signups.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("s_ts") &&
            col("c_ts") <= col("s_ts") + expr("INTERVAL 6 HOURS"))
        .select(col("user_id"), col("signup_id"), col("click_id"),
          (unix_micros(col("c_ts")) - unix_micros(col("s_ts")))
            .as("offset_us"))
      runGate(s, "join", stateWidth(s, dir, storeDivisor = 2), "append")(joined)
    },
    Some("WITH " + lateOntimeSql + """, s AS (
      |  SELECT user_id, event_id AS signup_id, epoch_us(ts) AS s_us
      |  FROM ontime WHERE event_type = 'signup'
      |), c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      |  FROM ontime WHERE event_type = 'click'
      |)
      |SELECT s.user_id, s.signup_id, c.click_id, c.c_us - s.s_us AS offset_us
      |FROM s JOIN c ON c.user_id = s.user_id
      |  AND c.c_us BETWEEN s.s_us AND s.s_us + 21600000000""".stripMargin),
    "north star: stream-stream interval join executed in the gate " +
      "(two watermarked sources, join-state eviction, late slice " +
      "dropped on either side)")

  /** q_stream_dedup — the SEVENTH streaming discipline in the gate:
    * watermark-bounded `dropDuplicates` (the exactly-once input stage
    * every production ingest runs: a redelivered row is dropped, not
    * re-emitted). Dedup key
    * = (user_id, event_type, minute bucket), with the BUCKET as the
    * watermarked event-time column and part of the key — the condition
    * under which Spark evicts dedup state (keys older than the
    * watermark leave the store; a key's duplicates all share its
    * minute, so they always arrive inside the live window and the dedup
    * is exact). Streams [[lateSlicedEventsDir]] (two on-time halves +
    * late since r12 — the dedup-hit-across-batches and late-drop
    * boundaries both survive): the day-one late slice
    * is dropped at input, so keys occurring ONLY there never emit. The
    * output projects the KEY COLUMNS ALONE — which physical row
    * survives per key depends on intra-batch order (file scans are
    * unordered), and a correctness gate may only assert what the
    * semantics determine: the distinct on-time key set. First-arrival
    * rows emit immediately (Append without finalization wait, like the
    * join). */
  val qStreamDedup = Q("q_stream_dedup",
    (s, dir) => runGate(s, "dedup", stateWidth(s, dir), "append")(
      sliceStream(s, lateSlicedEventsDir(s, dir, onParts = 2))
        .withColumn("m", date_trunc("minute", col("ts")))
        .withWatermark("m", "2 hours")
        .dropDuplicates("user_id", "event_type", "m")
        .select(col("user_id"), col("event_type"),
          date_format(col("m"), "yyyy-MM-dd HH:mm:ss").as("minute"))),
    Some("WITH " + lateOntimeSql + """
      |SELECT DISTINCT user_id, event_type,
      |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
      |FROM ontime""".stripMargin),
    "north star: watermark-bounded streaming dedup executed in the gate " +
      "(exactly-once ingest stage; state evicted behind the watermark, " +
      "late slice dropped)")

  /** The near-dup stream's event-time layout, shared by engine, slicer
    * and oracle: tsm(doc) = (doc_id mod 10⁶)·10 + (doc_id div 10⁶)·7
    * MINUTES past a fixed epoch — originals on the 10-minute grid, the
    * +10⁶ near-dup variants 7 minutes behind their original (INSIDE the
    * 8-minute window → caught), the +2·10⁶ exact copies 14 minutes
    * behind (OUTSIDE → their signatures' state has idled past the
    * window, so they re-enter as new — the eviction semantics executed,
    * not asserted). Injective (tsm mod 10 ∈ {0, 7, 4} by origin class),
    * so ordering ties are impossible; and a gap of EXACTLY 8 minutes is
    * unreachable (gaps are 10a+7b with |b| ≤ 2, and 10a+7b ≡ 8 (mod 10)
    * forces b ≡ 4 (mod 10)), so the ≤-vs-< window boundary cannot
    * change the answer — the q_stream_append boundary discipline. */
  private[graft] def neardupTsm = (col("doc_id") % 1000000) * 10 +
    expr("doc_id div 1000000") * 7
  private val neardupGapMin = 8

  /** In-stream MinHash banding as a PURE PROJECTION (no pre-shuffle —
    * the property that makes near-dup streamable): 3-word shingles via
    * a transform over the token array, the 8 minhashes as array_min of
    * md5 slices (identical to the batch [[SimilarityQueries]] banding:
    * min over a multiset equals min over its distinct set, and min of a
    * substring slice distributes over per-shingle md5s), 4 banded
    * signatures exploded to (bkey, doc_id, ts) rows.
    *
    * Hot-path discipline (the first 100× probe burned ~54 CPU-minutes
    * here): each seed's md5 array is materialized ONCE (`m0`/`m1`) and
    * the four 8-char minhash slices are cheap substring mins over it —
    * the original formulation inlined md5 into every slice's transform,
    * and codegen does not CSE across separate lambda bodies, so every
    * shingle was hashed 8× instead of 2×. Callers are responsible for
    * the micro-batch's partition width (see q_stream_neardup: a
    * one-file slice is one task unless repartitioned before this
    * projection). */
  private[graft] def neardupBandRows(src: DataFrame): DataFrame = {
    val w = split(trim(col("text")), "\\s+")
    def mh(mcol: String, off: Int) = array_min(transform(col(mcol),
      h => substring(h, off, 8)))
    src.withColumn("w", w)
      .withColumn("sh", expr("CASE WHEN size(w) >= 3 THEN " +
        "transform(sequence(0, size(w)-3), " +
        "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) ELSE array() END"))
      .withColumn("m0", transform(col("sh"),
        x => md5(concat(lit("0:"), x))))
      .withColumn("m1", transform(col("sh"),
        x => md5(concat(lit("1:"), x))))
      // <3-word docs emit NOTHING: explode of a null array yields zero
      // rows, so the when(...) IS the `size(sh) > 0` filter. It is
      // deliberately not a Filter node: a deterministic filter above a
      // repartition gets pushed below the exchange with the whole
      // split+shingle chain substituted into its predicate, and the
      // micro-batch's heaviest work lands back on the map side's one
      // task per slice file (observed at 100x: a ShuffleMapTask whose
      // Filter evaluated the full banding chain per row, serially).
      .withColumn("sig", explode(when(size(col("sh")) > 0, array(
        struct(lit(0L).as("band"), concat(mh("m0", 1), mh("m0", 9)).as("s")),
        struct(lit(1L).as("band"), concat(mh("m0", 17), mh("m0", 25)).as("s")),
        struct(lit(2L).as("band"), concat(mh("m1", 1), mh("m1", 9)).as("s")),
        struct(lit(3L).as("band"), concat(mh("m1", 17), mh("m1", 25)).as("s"))))))
      .select(concat_ws(":", col("sig.band"), col("sig.s")).as("bkey"),
        col("doc_id"), col("ts"))
  }

  /** Time-ordered slices of the near-dup corpus (documents + variants,
    * ts from [[neardupTsm]]). The two cuts are pinned BETWEEN an
    * original with doc_id ≡ 5 (mod 10) and its +7-minute near-dup
    * variant, so at least two dup chains are guaranteed to straddle a
    * micro-batch boundary — the cross-batch state fold is exercised by
    * construction, not by luck of a percentile cut. */
  private[graft] def neardupSliceDir(s: SparkSession, dir: String): String =
    buildSliceDir(s, dir, "nd3", {
      val c = SimilarityQueries.docCorpus(s, dir)
        .withColumn("ts", timestamp_add("MINUTE", neardupTsm.cast("int"),
          lit("2025-01-01 00:00:00").cast("timestamp")))
      val maxDoc = c.agg(max(col("doc_id") % 1000000)).head().getLong(0)
      def cut(k: Int): Long = {
        val d = maxDoc * k / 3
        (d - d % 10 + 5) * 10 + 5 // between original 10d and variant 10d+7
      }
      val tsm = neardupTsm
      Seq(c.filter(tsm < cut(1)),
        c.filter(tsm >= cut(1) && tsm < cut(2)),
        c.filter(tsm >= cut(2)))
    }, srcName = "documents")

  /** q_stream_neardup — the EIGHTH streaming discipline in the gate, and
    * the near-dup family's streaming twin (VERDICT r10 #5): MinHash-band
    * LSH dedup as a real readStream execution. The banding runs
    * IN-STREAM as a projection; [[graft.streaming.Streams.neardupStream]]
    * holds one last-arrival long per live band signature under
    * EventTimeTimeout (verdicts from stored state, eviction as the
    * resource bound — see its scaladoc), and the per-doc verdict
    * aggregates the four band verdicts AFTER the sink (each input row
    * emits exactly once, so no argmax reconstruction is needed). The
    * oracle recomputes banding and the sliding-window gap chain with a
    * lag window over (band, sig) — batch SQL and streaming GroupState
    * share nothing but the window contract. */
  val qStreamNearDup = Q("q_stream_neardup",
    (s, dir) => {
      import s.implicits._
      val src = sliceStream(s, neardupSliceDir(s, dir))
      // each slice is ONE parquet file -> one task; spread the micro-batch
      // across the gate's state width BEFORE the md5-heavy banding projection
      // (the first 100x probe ran the whole batch's hashing on one core).
      // The partition count is EXPLICIT: an un-numbered repartition(col)
      // is fair game for AQE partition coalescing, and this stage's
      // shuffle bytes are tiny (~50 MB of text) while its per-row CPU is
      // huge (2 md5s per shingle) — AQE's byte heuristic re-serialized
      // the whole micro-batch onto ~2 tasks at 100x (the FuzzyJoin.edJoin
      // post-join-blowup lesson, in the post-shuffle-CPU domain).
      val width = stateWidth(s, dir)
      val rows = neardupBandRows(src.repartition(width, col("doc_id")))
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.Streams.BandArrival]
      runGate(s, "neardup", width, "update")(
        graft.streaming.Streams.neardupStream(rows, neardupGapMin))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          sum(col("dup")).as("n_dup_bands"),
          max(col("dup")).as("is_dup"))
    },
    Some("WITH " + SimilarityQueries.corpusSql + ",\n" +
      SimilarityQueries.shingSql + s""",
      |ndm AS (
      |  SELECT doc_id,
      |    min(substr(md5('0:' || s), 1, 8)) AS h0, min(substr(md5('0:' || s), 9, 8)) AS h1,
      |    min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
      |    min(substr(md5('1:' || s), 1, 8)) AS h4, min(substr(md5('1:' || s), 9, 8)) AS h5,
      |    min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
      |  FROM shing GROUP BY doc_id
      |), ndb AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM ndm
      |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM ndm
      |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM ndm
      |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM ndm
      |), ndt AS (
      |  SELECT doc_id, band, sig,
      |    (doc_id % 1000000) * 10 + (doc_id // 1000000) * 7 AS tsm
      |  FROM ndb
      |), ndv AS (
      |  SELECT doc_id, band,
      |    CASE WHEN tsm - lag(tsm) OVER w <= $neardupGapMin
      |         THEN 1 ELSE 0 END AS dup
      |  FROM ndt WINDOW w AS (PARTITION BY band, sig ORDER BY tsm)
      |)
      |SELECT doc_id, count(*) AS n_bands,
      |  CAST(SUM(dup) AS BIGINT) AS n_dup_bands,
      |  CAST(MAX(dup) AS BIGINT) AS is_dup
      |FROM ndv GROUP BY doc_id""".stripMargin),
    "north star: streaming MinHash-band near-dup executed in the gate " +
      "(in-stream banding, per-signature GroupState with event-time " +
      "eviction, window semantics from stored state)")

  /** q_stream_crawl — STREAMING crawl-container ingestion (r15): the
    * identical [[graft.ops.Warc]] codec the batch gate checks, executed
    * as a readStream binaryFile source over the segment directory in
    * bundles of four files per trigger (maxFilesPerTrigger=4 → 3
    * genuine micro-batches over the 12 segments — a crawler appending
    * segments to a directory IS this pipeline at 100 TB; the r12
    * minimal-slice discipline applies: three batches prove the
    * multi-batch fold, and every extra batch only re-pays the
    * per-micro-batch floor plus a Complete-mode re-emit of the ENTIRE
    * digest state, O(batches × state) — VERDICT r15 priced the
    * 12-batch shape at 20 s, 14% of the whole bench, for zero extra
    * semantic coverage), feeding the ingest-layer digest dedup as a
    * streaming aggregation in Complete mode: first-capture-wins
    * min-struct + running capture count per body_md5. The fold is
    * order-independent (min/count), so the final emission must equal
    * q_crawl_dedup's BATCH answer exactly — the oracle is that query's
    * SQL verbatim, the batch/stream unification contract applied to
    * container ingestion. Complete mode is the honest discipline here
    * for the q_stream_hourly reason: the digest state IS the dedup
    * index; production swaps the memory sink for a TTL'd store, the
    * aggregation plan unchanged. Plain framing only (pathGlobFilter),
    * matching the batch query's file set. */
  val qStreamCrawl = Q("q_stream_crawl",
    (s, _) => {
      import org.apache.spark.sql.types._
      val fdir = graft.ops.WarcFixture.ensure()
      val binSchema = StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType)))
      val src = s.readStream.format("binaryFile")
        .schema(binSchema)
        .option("maxFilesPerTrigger", "4")
        .option("pathGlobFilter", "*.warc")
        .load(fdir)
      val digests = graft.ops.Warc.scanWarc(src).toDF()
        .filter(col("warc_type") === "response")
        .groupBy(col("body_md5"))
        .agg(min(struct(col("file_name"), col("rec_idx"),
          col("target_uri"))).as("first"),
          count(lit(1L)).as("n_captures"))
        .select(col("body_md5"), col("first.file_name").as("file_name"),
          col("first.rec_idx").as("rec_idx"),
          col("first.target_uri").as("target_uri"), col("n_captures"))
      runGate(s, "crawl", s.sessionState.conf.numShufflePartitions,
        "complete")(digests).orderBy("body_md5")
    },
    graft.queries.TextQueries.qCrawlDedup.oracle,
    "north star: streaming crawl ingestion in the gate (WARC codec as a " +
      "readStream file source, segments bundled 4 per trigger for 3 " +
      "genuine micro-batches, digest dedup as a Complete-mode fold " +
      "equal to the batch answer)")

  def all: Seq[Q] = Seq(qHourly, qSliding, qSessionize, qSessionWindow, qJson, qEventsTopK,
    qAsof, qAsofBcast, qRangeJoin, qStreamMoments, qStreamSessionize,
    qStreamHourly, qStreamAppend, qStreamSessWin, qStreamJoin, qStreamDedup,
    qStreamNearDup, qStreamCrawl)
}
