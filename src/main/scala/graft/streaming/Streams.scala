package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import graft.ops.Sessionize.{Event, Session}

/** Structured-Streaming transformations for the events table. Each is a
  * plain DataFrame→DataFrame function usable under BOTH `spark.read`
  * (batch) and `spark.readStream` — Spark's batch/stream unification: the
  * watermark node is analyzed away in batch mode, so StreamQueries reuses
  * these exact plans and the streaming spec asserts batch/stream result
  * equivalence on the same input.
  *
  * The reference has no streaming (HTTP-triggered batch,
  * commerical_rfp_data_ingestion_main.py:13); this is the north-star
  * capability. At scale the watermark bounds state: window state is
  * dropped once `max(event time) - delay` passes the window end, so
  * long-running jobs hold O(windows-in-flight × groups), not O(history).
  */
object Streams {
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Per-user open-session state carried across micro-batches. */
  final case class OpenSession(session_id: Long, n_events: Long,
                               start_us: Long, last_us: Long)

  /** Stateful streaming sessionization in Update mode:
    * `flatMapGroupsWithState` holding exactly one open session per user.
    * An event at most `gapMinutes` after the open session's last event
    * extends it; a later one closes it (emitted) and opens the next id —
    * including across micro-batch boundaries, which is what the
    * GroupState buys over the batch [[graft.ops.Sessionize]]. Every
    * invocation that absorbed events also emits the OPEN session's
    * current snapshot, so the end-of-stream answer is fully recoverable
    * from the emitted rows: a session's `n_events` is strictly monotone
    * across its emissions and its final emission carries the final
    * count, so `argmax n_events per (user_id, session_id)` over the sink
    * IS the batch sessionizer's complete output. This is the upsert-sink
    * reading discipline (each emission is a revision keyed by (user,
    * session)); a memory/file sink just keeps every revision, and
    * re-emissions of an unchanged session are bit-identical rows, so the
    * argmax is well-defined.
    *
    * State is one OpenSession per user id ever seen (NoTimeout) — fine
    * for bounded key universes. Within a batch the group iterator is not
    * time-ordered; event times are sorted in memory (bounded by that
    * user's per-batch volume). The batch reference keeps its own copy of
    * the session rule on purpose: the specs compare the two. */
  def sessionizeStreamSnapshot(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          val times = it.map(_.ts_us).toArray
          java.util.Arrays.sort(times)
          val out = Vector.newBuilder[Session]
          var open = state.getOption
          for (t <- times) open = Some(open match {
            case Some(o) if t - o.last_us <= gapUs =>
              o.copy(n_events = o.n_events + 1, last_us = t)
            case Some(o) =>
              out += Session(uid, o.session_id, o.n_events, o.start_us)
              OpenSession(o.session_id + 1, 1L, t, t)
            case None => OpenSession(1L, 1L, t, t)
          })
          open.foreach { o =>
            state.update(o)
            if (times.nonEmpty)
              out += Session(uid, o.session_id, o.n_events, o.start_us)
          }
          out.result().iterator
      }
  }

  /** Event-time micros of `t`, reconstructed exactly from its
    * millis+nanos. */
  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** One (band, signature) arrival of the streaming near-dup gate: `bkey`
    * = "<band>:<sig>" (the state key), plus the owning doc and its event
    * time. */
  final case class BandArrival(bkey: String, doc_id: Long,
                               ts: java.sql.Timestamp)
  /** Per-(doc, band) near-dup verdict (`band` recovered from the key;
    * `dup` 0/1 — longs so the sink aggregates without casts). */
  final case class BandVerdict(doc_id: Long, band: Long, dup: Long)

  /** Streaming MinHash-band near-dup gate (VERDICT r10 #5 — the last
    * batch-only family's streaming twin): state is keyed by BAND
    * SIGNATURE, one `last_us` long per live signature, and an arrival is
    * a duplicate in its band iff the previous arrival of the SAME
    * signature lies within `gapMinutes` (the sliding near-dup window;
    * every arrival refreshes it, so dup chains extend — the gap
    * semantics of the batch sessionizer, applied to dedup). The verdict
    * is computed from the STORED last-arrival time, never from whether
    * eviction already ran, so results are deterministic regardless of
    * watermark progress; `EventTimeTimeout` + `state.remove()` then
    * bound the store to signatures seen within the window — the 100 TB
    * state argument: O(live signatures), not O(corpus), where the
    * batch LSH join holds the whole banded corpus on the shuffle.
    * Within a micro-batch the group's rows are processed in (ts,
    * doc_id) order, so batch slicing cannot reorder a chain. */
  def neardupStream(rows: org.apache.spark.sql.Dataset[BandArrival],
                    gapMinutes: Int)
      : org.apache.spark.sql.Dataset[BandVerdict] = {
    import rows.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    rows.groupByKey(_.bkey)
      .flatMapGroupsWithState[Long, BandVerdict](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (bkey: String, it: Iterator[BandArrival], state: GroupState[Long]) =>
          if (!it.hasNext && state.hasTimedOut) {
            state.remove() // signature idle past the window: state leaves
            Iterator.empty
          } else {
            val band = bkey.takeWhile(_ != ':').toLong
            val arr = it.toArray
            java.util.Arrays.sort(arr,
              Ordering.by((a: BandArrival) => (micros(a.ts), a.doc_id)))
            var last = state.getOption
            val out = arr.map { a =>
              val tUs = micros(a.ts)
              val dup = last.exists(l => tUs - l <= gapUs)
              last = Some(tUs)
              BandVerdict(a.doc_id, band, if (dup) 1L else 0L)
            }
            state.update(last.get)
            state.setTimeoutTimestamp(last.get / 1000L +
              gapMinutes.toLong * 60000L)
            out.iterator
          }
      }
  }

  /** Tumbling 1-hour windows per event_type with a 2-hour watermark —
    * the q_events_hourly plan. */
  def hourlyCounts(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
    .agg(count(lit(1)).as("n"),
      sum(dec(col("value"))).cast("double").as("sum_value"))
    .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"), col("n"), col("sum_value"))

  /** Sliding 2-hour/1-hour windows per event_type with a 2-hour
    * watermark — the q_events_sliding plan. */
  def slidingCounts(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
    .agg(count(lit(1)).as("n"))
    .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"), col("n"))

  /** Per-group exact moments state: three longs — the whole point. A
    * streaming mean/stddev baseline costs O(1) state per group because
    * integer sums (n, Σv, Σv²) merge exactly in any batch order,
    * whereas buffering values for a naive stddev would be O(history). */
  final case class MomState(n: Long, s: Long, s2: Long)

  /** Streaming per-group moments of a value column — the live telemetry
    * baseline behind q_anomaly's z-scoring, maintained under
    * `readStream` with three longs per group. Values are snapped to
    * fixed-point cents with the exact cast chain of the batch
    * [[graft.queries.AnalyticsQueries.valueMoments]]
    * (DECIMAL(18,2)·100 → long), the state fold is pure integer
    * addition (exact, order-independent, checkpoint-recoverable), and
    * the finisher replicates the batch op chain digit-for-digit
    * (double divisions, one multiply/subtract, sqrt, then HALF_UP
    * rounding — the same sequence Spark's `round(…, 6)` performs), so
    * StreamMomentsSpec asserts EXACT equality with the batch query at
    * every stage and across a restart. Exactness holds while
    * n·cents² < 2^53 per group (documented in valueMoments). A NULL
    * value counts toward n but not toward Σv or Σv², like the batch
    * query's `count(*)` next to its null-skipping sums. Update
    * semantics: each micro-batch folds a group's values into its state
    * and emits the group's whole current answer, so a sink keyed by
    * group keeps only the latest emission. */
  def momentsStream(df: DataFrame, groupCol: String, valueCol: String)
      : Dataset[(String, Long, Double, Double)] = {
    import df.sparkSession.implicits._
    df.select(col(groupCol).cast("string"),
        (col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long"))
      .as[(String, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MomState, (String, Long, Double, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, Option[Long])],
         state: GroupState[MomState]) =>
          val prev = state.getOption.getOrElse(MomState(0L, 0L, 0L))
          var n = prev.n; var s = prev.s; var s2 = prev.s2
          it.foreach { case (_, c) =>
            n += 1; c.foreach { v => s += v; s2 += v * v }
          }
          state.update(MomState(n, s, s2))
          val m = s.toDouble / n
          val mean = BigDecimal(m / 100.0)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val std = BigDecimal(math.sqrt(s2.toDouble / n - m * m) / 100.0)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single((g, n, mean, std))
      }
  }

  /** Built-in session windows (30-minute gap) per user with a 2-hour
    * watermark — the q_session_window plan, usable in BOTH batch (the
    * watermark analyzes away) and streaming (Append mode: a session
    * emits exactly once, when the watermark passes its end = last event
    * + gap; open sessions hold O(users) state and merge as micro-batches
    * deliver more of a user's timeline — the dynamic MERGING-window
    * state discipline none of the fixed-window runs exercise). */
  def sessionWindows(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .groupBy(col("user_id"),
      session_window(col("ts"), "30 minutes").as("w"))
    .agg(count(lit(1)).as("n_events"))
    .select(col("user_id"),
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
      date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
      col("n_events"))
}
