package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
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

  /** The one session rule of the three streaming sessionizers: applies a
    * user's event times (sorted here, in place) to the open session. An
    * event at most `gapMinutes` after the open session's last event extends
    * it; a later one closes it and opens the next id. `n_events = 0` is
    * [[sessionizeStreamWithTimeout]]'s counter-only sentinel: nothing is
    * open and the next id is its `session_id`. Returns the open session
    * after the last event and the sessions closed on the way, in order.
    * The batch reference [[graft.ops.Sessionize.sessions]] keeps its own
    * copy of the rule on purpose: the specs compare the two. */
  private def sessionSteps(uid: Long, open: Option[OpenSession],
                           times: Array[Long], gapMinutes: Int)
      : (Option[OpenSession], Seq[Session]) = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    java.util.Arrays.sort(times)
    val closed = Vector.newBuilder[Session]
    var cur = open
    for (t <- times) cur = Some(cur match {
      case Some(o) if o.n_events == 0L => OpenSession(o.session_id, 1L, t, t)
      case Some(o) if t - o.last_us <= gapUs =>
        o.copy(n_events = o.n_events + 1, last_us = t)
      case Some(o) =>
        closed += Session(uid, o.session_id, o.n_events, o.start_us)
        OpenSession(o.session_id + 1, 1L, t, t)
      case None => OpenSession(1L, 1L, t, t)
    })
    (cur, closed.result())
  }

  /** Stateful streaming sessionization: `flatMapGroupsWithState` holding
    * exactly one open session per user. A session closes (and is emitted)
    * when a later event arrives more than `gapMinutes` after the
    * session's last event — including across micro-batch boundaries,
    * which is what the GroupState buys over the batch
    * [[graft.ops.Sessionize]].
    *
    * State-bounding caveat: with NoTimeout a user's final session is
    * emitted only when a later event closes it, and state holds one
    * record per user id ever seen — fine for bounded key universes and
    * for the deterministic batch-equivalence test, but a production
    * deployment should use [[sessionizeStreamWithTimeout]], which flushes
    * idle sessions once the watermark passes last-event + gap and drops
    * their state.
    *
    * Within a batch the group iterator is not time-ordered; event times
    * are sorted in memory (bounded by that user's per-batch volume). */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          val (open, closed) = sessionSteps(uid, state.getOption,
            it.map(_.ts_us).toArray, gapMinutes)
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** [[sessionizeStream]] in Update mode, additionally emitting the OPEN
    * session's current snapshot at the end of every invocation that
    * absorbed events. Unlike the Append variant (whose final open session
    * per user is never emitted — no later event closes it), the
    * end-of-stream answer is fully recoverable from the emitted rows: a
    * session's `n_events` is strictly monotone across its emissions and
    * its final emission carries the final count, so
    * `argmax n_events per (user_id, session_id)` over the sink IS the
    * batch sessionizer's complete output. This is the upsert-sink reading
    * discipline (each emission is a revision keyed by (user, session));
    * a memory/file sink just keeps every revision, and re-emissions of an
    * unchanged session are bit-identical rows, so the argmax is
    * well-defined. State is one OpenSession per user, exactly as the
    * Append variant. */
  def sessionizeStreamSnapshot(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          val times = it.map(_.ts_us).toArray
          val (open, closed) =
            sessionSteps(uid, state.getOption, times, gapMinutes)
          open.foreach(state.update)
          val snapshot = if (times.isEmpty) None
            else open.map(o => Session(uid, o.session_id, o.n_events, o.start_us))
          (closed ++ snapshot).iterator
      }
  }

  /** Event carrying the raw timestamp (micros reconstructed exactly from
    * the Timestamp's millis+nanos, so gap decisions match the batch
    * sessionizer bit-for-bit). */
  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp,
                              event_id: Long)

  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** [[sessionizeStream]] plus event-time timeout: input must carry a
    * watermark on `ts`; an open session whose `last + gap` falls behind
    * the watermark is emitted once the timeout fires — every session is
    * eventually emitted.
    *
    * On flush the state shrinks to a counter-only sentinel
    * (`n_events = 0` holding the NEXT session id) rather than being
    * removed, so a user who returns after an idle flush continues the
    * 1..n session numbering — `(user_id, session_id)` stays unique for
    * the stream's lifetime, matching the batch sessionizer's contract.
    * Tradeoff: state is one tiny record per user ever seen (vs truly
    * bounded-by-active with `remove()`, which re-issued ids). */
  def sessionizeStreamWithTimeout(
      events: Dataset[TimedEvent], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TimedEvent], state: GroupState[OpenSession]) =>
          if (!it.hasNext && state.hasTimedOut) {
            val o = state.get
            // keep the counter (no new timeout: the sentinel is data-less
            // and only revived by this user's next event)
            state.update(OpenSession(o.session_id + 1, 0L, 0L, 0L))
            Iterator.single(Session(uid, o.session_id, o.n_events, o.start_us))
          } else {
            val (open, closed) = sessionSteps(uid, state.getOption,
              it.map(e => micros(e.ts)).toArray, gapMinutes)
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp(o.last_us / 1000L + gapMinutes * 60000L)
            }
            closed.iterator
          }
      }
  }

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

  /** One side-tagged event of the streaming as-of join: side 0 = right
    * (click), side 1 = left (purchase) — the same tag the batch
    * [[graft.ops.AsOf.joinAsOf]] union uses. */
  final case class SideEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, side: Int)
  /** Buffered not-yet-flushable event (event time still ahead of the
    * watermark). */
  final case class PendEvent(ts_us: Long, side: Int, event_id: Long)
  /** Per-user as-of state: the pending buffer plus the latest flushed
    * right row — everything needed to resume the batch formulation's
    * (ts, side, id)-ordered scan at the next watermark advance. */
  final case class AsOfState(pend: Seq[PendEvent], hasRight: Boolean,
                             rightId: Long, rightUs: Long)
  final case class AsOfMatch(user_id: Long, purchase_id: Long,
                             click_id: Option[Long], gap_us: Option[Long])

  /** The one watermark buffer of the event-time streams ([[asOfStream]],
    * [[funnelStream]]): merges the state's `pend` buffer with the batch's
    * `events`, keeps those `keep` admits, and hands every event the
    * watermark has passed to `flush` in the batch plans' (ts, side, id)
    * order. Returns the events still ahead of the watermark that `keep`
    * admits after the flush; when there are any, the group's timeout is
    * set to watermark + 1 ms, so an advance of the watermark alone
    * flushes them. */
  private def flushToWatermark(state: GroupState[_], pend: Seq[PendEvent],
                               events: Iterator[SideEvent],
                               keep: PendEvent => Boolean)(
                               flush: PendEvent => Unit): Seq[PendEvent] = {
    val wUs = state.getCurrentWatermarkMs() * 1000L
    val (ready, ahead) = (pend ++ events.map(e =>
        PendEvent(micros(e.ts), e.side, e.event_id)))
      .filter(keep)
      .sortBy(p => (p.ts_us, p.side, p.event_id))
      .partition(_.ts_us <= wUs)
    ready.foreach(flush)
    val kept = ahead.filter(keep)
    if (kept.nonEmpty) state.setTimeoutTimestamp(wUs / 1000L + 1L)
    kept
  }

  /** Stream-stream AS-OF join: each purchase matched to the same user's
    * latest prior-or-simultaneous click — the streaming form of
    * [[graft.ops.AsOf.joinAsOf]]'s union+window formulation. The window
    * scan becomes a per-key `flatMapGroupsWithState` merge: events buffer
    * until the watermark passes them, then flush in the batch plan's
    * exact (ts, side, id) order against the carried latest-right state
    * (right rows flush before left at equal ts, so ts-equality counts as
    * "prior", and the greatest click id wins within one (user, ts) —
    * both matching the batch operator and DuckDB ASOF).
    *
    * State is watermark-bounded: the buffer holds only events newer than
    * the watermark (one watermark-delay's worth per active user) plus one
    * latest-right record per user — O(active users × lag), not
    * O(history). The timeout (watermark + 1ms) re-fires the flush when
    * the watermark advances without new events for the key, so every
    * on-time purchase is eventually emitted. Input must carry a
    * watermark on `ts`; events later than the watermark get merged at
    * their flush-time position (the standard on-time-data contract). */
  def asOfStream(events: Dataset[SideEvent]): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SideEvent], state: GroupState[AsOfState]) =>
          val prev = state.getOption.getOrElse(AsOfState(Nil, false, 0L, 0L))
          var hasR = prev.hasRight
          var rId = prev.rightId
          var rUs = prev.rightUs
          val out = Seq.newBuilder[AsOfMatch]
          val pend = flushToWatermark(state, prev.pend, it, _ => true) { p =>
            if (p.side == 0) { hasR = true; rId = p.event_id; rUs = p.ts_us }
            else out += AsOfMatch(uid, p.event_id,
              if (hasR) Some(rId) else None,
              if (hasR) Some(p.ts_us - rUs) else None)
          }
          state.update(AsOfState(pend, hasR, rId, rUs))
          out.result().iterator
      }
  }

  /** Per-user funnel state: the watermark-gated pending buffer plus the
    * earliest completion time (micros, -1 = not reached) of each stage. */
  final case class FunnelState(pend: Seq[PendEvent], reached: Seq[Long])
  /** One emitted stage completion: `stage` is 1-based. */
  final case class FunnelHit(user_id: Long, stage: Int, ts_us: Long)

  /** Streaming ordered funnel — the streaming form of
    * [[graft.queries.AnalyticsQueries.funnelStages]]' sequential min-join
    * chain. Input reuses [[SideEvent]] with `side` = 0-based stage index;
    * input must carry a watermark on `ts`.
    *
    * Correctness hinges on in-order processing, so it reuses
    * [[asOfStream]]'s buffer-and-flush: events buffer until the watermark
    * passes them, then flush in (ts, stage, id) order against the
    * monotone per-stage completion times — processed in event-time order,
    * "first stage-i event strictly after t_(i-1)" IS the batch chain's
    * "min ts of stage i > t_(i-1)" (ties can never count: the strictly-
    * greater requirement already excludes same-timestamp advancement, so
    * tie order is irrelevant). Each stage completion is emitted exactly
    * once per user (Append mode); StreamFunnelSpec pins exact per-user
    * equality with the batch [[graft.queries.AnalyticsQueries.funnelUserTimes]].
    *
    * State is watermark-bounded like the as-of join's — one delay's worth
    * of buffered events per active user plus `nStages` longs — and
    * shrinks further in flight: events for an already-completed stage are
    * dropped at merge time, and a fully-converted user buffers nothing
    * ever again. */
  def funnelStream(events: Dataset[SideEvent], nStages: Int)
      : Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SideEvent], state: GroupState[FunnelState]) =>
          val prev = state.getOption
            .getOrElse(FunnelState(Nil, Seq.fill(nStages)(-1L)))
          val reached = prev.reached.toArray
          val out = Seq.newBuilder[FunnelHit]
          // a stage already completed can never advance again — its
          // events need no buffer space (completion times are monotone:
          // set once, never unset)
          val pend = flushToWatermark(state, prev.pend, it,
              p => p.side >= 0 && p.side < nStages && reached(p.side) < 0) { p =>
            val i = p.side
            if (reached(i) < 0 &&
                (i == 0 || (reached(i - 1) >= 0 && p.ts_us > reached(i - 1)))) {
              reached(i) = p.ts_us
              out += FunnelHit(uid, i + 1, p.ts_us)
            }
          }
          state.update(FunnelState(pend, reached.toSeq))
          out.result().iterator
      }
  }

  /** Streaming exact deduplication — the training-pipeline dedup under
    * `readStream`: dropDuplicates over `keys` plus the event-time column,
    * with the watermark bounding dedup state (key state older than
    * watermark − delay is dropped, so a long-running stream holds
    * O(keys in the watermark window), not O(history); a duplicate
    * arriving later than `delay` is dropped as late rather than
    * re-emitted). Batch-unified: under `spark.read` the watermark node
    * is analyzed away and this is a plain dropDuplicates. */
  def dedupByKey(events: DataFrame, keys: Seq[String], tsCol: String = "ts",
                 delay: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicates(keys :+ tsCol)

  /** Stream-stream inner join: each purchase to the same user's clicks
    * in the preceding `windowHours`. Both sides carry watermarks and the
    * join predicate is a time RANGE, which is what lets Spark bound both
    * join-state buffers (a side's row is dropped once the watermark
    * passes the latest time it could still match) — the unbounded-state
    * trap of an unconstrained stream-stream join is the reason for the
    * interval. Batch-unified like the other plans here: under
    * `spark.read` the watermarks are analyzed away and this is a plain
    * range join (the batch analog of q_range_join's semantics). */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        watermarkDelay: String = "2 hours",
                        windowHours: Int = 1): DataFrame = {
    val p = purchases.withWatermark("ts", watermarkDelay).as("p")
    val c = clicks.withWatermark("ts", watermarkDelay).as("c")
    p.join(c, expr(
        s"""p.user_id = c.user_id AND
           |c.ts BETWEEN p.ts - INTERVAL $windowHours HOURS AND p.ts
           |""".stripMargin))
      .select(col("p.user_id").as("user_id"),
        col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"))
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

  /** The one Update-mode per-group fold the sketch streams run on:
    * `rows` are keyed by their first field; each micro-batch folds a
    * group's values into its state (`zero` for a new group) and emits
    * the group's whole current answer from the folded state. Update
    * semantics: the last emission per group is current — a sink keyed by
    * group keeps only the latest emission. */
  private def foldGroups[I, S: Encoder, O: Encoder](
      rows: Dataset[(String, I)], zero: => S)(
      fold: (S, Iterator[I]) => S)(
      emit: (String, S) => Iterator[O]): Dataset[O] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, I)], state: GroupState[S]) =>
          val cur = fold(state.getOption.getOrElse(zero), it.map(_._2))
          state.update(cur)
          emit(g, cur)
      }
  }

  /** The exact-parity tokenizer every stateful text stream shares with
    * the batch plans: SQL space-only trim (U+0020, NOT Java trim) →
    * Locale.ROOT lowercase (Spark's locale-independent `lower`) →
    * `\s+` split keeping trailing empties (Spark's 2-arg `split`). One
    * definition on purpose — [[topTermsStream]] and [[bm25Stream]] both
    * advertise EXACT batch equality, so a tokenizer tweak must hit every
    * stream or none. */
  private def exactTokens(text: String): Array[String] = text
    .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)

  /** Per-group term statistics carried across micro-batches: term →
    * (term frequency, document frequency). */
  final case class TermCounts(tf: Map[String, Long], df: Map[String, Long])

  /** Streaming top-k terms per group — the retrieval family's term-stats
    * side ([[graft.queries.TextQueries]] q_top_terms) under `readStream`.
    * Each micro-batch folds its documents into the per-group (tf, df)
    * state and emits the group's refreshed top-k by (tf desc, term asc)
    * as (group, rank, term, tf, df) rows (Update semantics, see
    * [[foldGroups]]).
    *
    * df without doc-id state: each input row is one document, and a
    * document increments a term's df at most once — so as long as every
    * document arrives EXACTLY ONCE (the upstream [[dedupByKey]] stage's
    * contract), counting each row's distinct tokens is the exact df, with
    * no per-term doc-id sets carried anywhere.
    *
    * Tokenization replicates [[graft.ops.Shingles.tokens]] (lowered)
    * EXACTLY: SQL `trim` strips only U+0020 spaces (NOT Java
    * `String.trim`, which also strips tabs/newlines and would diverge on
    * edge whitespace) → lowercase (Locale.ROOT, matching Spark's
    * locale-independent `lower`) → split on `\s+` with limit -1 —
    * StreamTopTermsSpec asserts exact batch/stream equality on the same
    * input, across a restart.
    *
    * State bound: O(distinct terms per group) — vocabulary-bounded, like
    * a batch groupBy on the same key, NOT history-bounded; for an
    * open-ended token universe the production swap is a count-min sketch
    * + bounded heap (approximate), the same exact-vs-sketch trade
    * [[kmvDistinctStream]] documents for cardinality. */
  def topTermsStream(docs: DataFrame, groupCol: String, textCol: String,
                     k: Int): Dataset[(String, Int, String, Long, Long)] = {
    import docs.sparkSession.implicits._
    foldGroups(docs.select(col(groupCol).cast("string"),
        col(textCol).cast("string")).as[(String, String)],
        TermCounts(Map.empty, Map.empty)) { (prev, texts) =>
      val tf = scala.collection.mutable.Map.empty[String, Long] ++ prev.tf
      val df = scala.collection.mutable.Map.empty[String, Long] ++ prev.df
      texts.foreach { text =>
        // NULL text matches batch explode-of-null (the row vanishes)
        if (text != null) {
          val toks = exactTokens(text)
          toks.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
          toks.distinct.foreach(t => df.update(t, df.getOrElse(t, 0L) + 1L))
        }
      }
      TermCounts(tf.toMap, df.toMap)
    } { (g, cur) =>
      cur.tf.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
        .iterator.zipWithIndex.map { case ((t, c), i) =>
          (g, i + 1, t, c, cur.df(t))
        }
    }
  }

  /** Per-group KMV state: the k smallest distinct hashes seen so far —
    * bounded at O(k) longs per group for the stream's lifetime, which is
    * exactly why a sketch (and not exact distinct, whose state is the
    * full value set) is the streaming cardinality answer. */
  final case class KmvState(minima: Array[Long])

  /** Streaming distinct-count: [[graft.ops.Sketch]]'s KMV sketch carried
    * in GroupState. Each micro-batch folds the batch's hashes into the
    * k-minima (the sketch merge — order statistics compose, SketchSpec)
    * and emits the group's refreshed estimate (Update semantics, see
    * [[foldGroups]]). The estimate arithmetic replicates
    * the batch finisher digit-for-digit — one double division, then
    * HALF_UP rounding to 3 decimals, the same op chain Spark's
    * `round(…, 3)` performs — so StreamSketchSpec can assert exact
    * equality with [[graft.ops.Sketch.kmvDistinct]] over the same
    * data. */
  def kmvDistinctStream(df: DataFrame, groupCol: String, valueCol: String,
                        k: Int): Dataset[(String, Double)] = {
    import df.sparkSession.implicits._
    val two60 = 1152921504606846976L // 2^60, exact as a double
    def estimate(minima: Array[Long]): Double = {
      val raw = if (minima.length < k) minima.length.toDouble
        else (k - 1).toDouble * two60.toDouble / minima.last.toDouble
      BigDecimal(raw).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    foldGroups(df.select(col(groupCol).cast("string"),
        graft.ops.Sketch.hash60(col(valueCol))).as[(String, Long)],
        KmvState(Array.empty[Long])) { (prev, hashes) =>
      // fold the batch into a k-capped ordered set so the transient
      // working set is O(k), not O(batch rows per group) — only the k
      // smallest distinct hashes can survive, so dropping a hash the
      // moment it exceeds the current k-th minimum changes nothing
      val acc = scala.collection.mutable.TreeSet.empty[Long]
      prev.minima.foreach(acc.add) // ≤ k by construction
      hashes.foreach { h =>
        if (acc.size < k) acc.add(h)
        else if (h < acc.last && acc.add(h)) acc.remove(acc.last)
      }
      KmvState(acc.toArray) // ascending, ≤ k elements
    } { (g, cur) => Iterator.single((g, estimate(cur.minima))) }
  }

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
    * semantics, see [[foldGroups]]. */
  def momentsStream(df: DataFrame, groupCol: String, valueCol: String)
      : Dataset[(String, Long, Double, Double)] = {
    import df.sparkSession.implicits._
    def fin(st: MomState): (Double, Double) = {
      val m = st.s.toDouble / st.n
      val mean = BigDecimal(m / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val std = BigDecimal(
          math.sqrt(st.s2.toDouble / st.n - m * m) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (mean, std)
    }
    foldGroups(df.select(col(groupCol).cast("string"),
        (col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long"))
        .as[(String, Option[Long])], MomState(0L, 0L, 0L)) { (prev, cents) =>
      var n = prev.n; var s = prev.s; var s2 = prev.s2
      cents.foreach { c => n += 1; c.foreach { v => s += v; s2 += v * v } }
      MomState(n, s, s2)
    } { (g, cur) =>
      val (mean, std) = fin(cur)
      Iterator.single((g, cur.n, mean, std))
    }
  }

  /** Per-group histogram state: integer bin counts keyed by
    * floor(value/width) — O(value-range / width) entries per group for
    * the stream's lifetime, merged by plain addition. */
  final case class HistState(bins: Map[Long, Long])

  /** Streaming histogram quantiles — the same mergeable bin-count state
    * as the batch [[graft.ops.Sketch.histQuantiles]], carried in
    * GroupState: each micro-batch adds its bin counts (exact integer
    * merge, any batch order), and the group emits refreshed
    * (n, p50, p90, p99) estimates computed with the identical op chain
    * (ceil(q·n) threshold scan over ordered bins, bin·width double
    * multiply), so StreamHistSpec asserts EXACT equality with the batch
    * query at every stage and across a checkpoint restart. Update
    * semantics, see [[foldGroups]]. */
  def histQuantileStream(df: DataFrame, groupCol: String, valueCol: String,
                         width: Double)
      : Dataset[(String, Long, Double, Double, Double)] = {
    import df.sparkSession.implicits._
    foldGroups(df.select(col(groupCol).cast("string"),
        floor(col(valueCol) / width).cast("long")).as[(String, Long)],
        HistState(Map.empty)) { (prev, bs) =>
      val bins = scala.collection.mutable.Map.empty[Long, Long] ++ prev.bins
      bs.foreach(b => bins.update(b, bins.getOrElse(b, 0L) + 1L))
      HistState(bins.toMap)
    } { (g, cur) =>
      val n = cur.bins.valuesIterator.sum
      val sorted = cur.bins.toSeq.sortBy(_._1)
      // batch-identical interpolation op chain (Sketch.histQuantiles):
      // double ceil, exact integer-valued subtractions, one division,
      // multiply-adds in the same order
      def est(q: Double): Double = {
        val need = math.ceil(q * n)
        var cum = 0L
        var ans = 0L
        var cnt = 0L
        var found = false
        sorted.foreach { case (b, c) =>
          if (!found) {
            cum += c
            if (cum >= need) { ans = b; cnt = c; found = true }
          }
        }
        val before = (cum - cnt).toDouble
        ans.toDouble * width + (need - before) / cnt.toDouble * width
      }
      Iterator.single((g, n, est(0.5), est(0.9), est(0.99)))
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

  /** Per-group hash-sample state: total row count plus the k (hash,
    * value) pairs with the smallest id hash seen so far — O(k) for the
    * stream's lifetime regardless of value range or arrival volume. */
  final case class QSampleState(n: Long, keep: List[(Long, Double)])

  /** Streaming hash-sample quantiles — the same bottom-k-by-hash state
    * as the batch [[graft.ops.Sketch.qsampleState]], carried in
    * GroupState: each micro-batch's (hash60(id), value) pairs fold into
    * the k-smallest set (selection by HASH, not arrival, so any batch
    * slicing converges on the identical state — the canonicity argument
    * in the op's block comment, executed), and the group emits
    * refreshed (n, m, p50, p90, p99) with the identical finisher
    * (ceil(q·m)-th smallest kept value, IEEE-double-ceil rank
    * convention — see [[graft.ops.Sketch.qsampleQuantiles]] for why
    * that double chain IS the spec on all three sides). StreamQSampleSpec
    * asserts EXACT equality with the batch sketch across micro-batch
    * splits. Update semantics, see [[foldGroups]]. */
  def qsampleStream(df: DataFrame, groupCol: String, idCol: String,
                    valueCol: String, k: Int)
      : Dataset[(String, Long, Long, Double, Double, Double)] = {
    import df.sparkSession.implicits._
    foldGroups(df.select(col(groupCol).cast("string"),
        struct(col(idCol).cast("string"), col(valueCol).cast("double")))
        .as[(String, (String, Double))], QSampleState(0L, Nil)) { (st, rows) =>
      var n = st.n
      val batch = rows.map { case (id, v) =>
        n += 1
        (graft.ops.Sketch.hash60Local(id), v)
      }.toList
      // (h, v) ascending — the TopK ordering of the batch sketch
      QSampleState(n, (st.keep ++ batch).sorted.take(k))
    } { (g, cur) =>
      val vs = cur.keep.map(_._2).sorted.toIndexedSeq
      val m = vs.length.toLong
      def est(q: Double): Double = vs(math.ceil(q * m).toInt - 1)
      Iterator.single((g, cur.n, m, est(0.5), est(0.9), est(0.99)))
    }
  }

  /** One indexed document in [[Bm25State]]: its length and its term
    * frequencies over the query-term set only. */
  final case class Bm25Post(docId: Long, dl: Long, tf: Map[String, Long])

  /** Per-group BM25 corpus state: doc count, summed document length,
    * per-query-term document frequencies, and postings for the documents
    * that contain at least one query term. Everything downstream of the
    * O(1) query-term filter — the same pruning contract as the batch
    * q_bm25 — so the state is O(matching docs), not O(corpus). */
  final case class Bm25State(n: Long, sdl: Long, df: Map[String, Long],
                             posts: Seq[Bm25Post])

  /** Streaming BM25-lite: the retrieval family's ranking side under
    * `readStream` — each micro-batch folds its documents into the
    * per-group corpus state ([[Bm25State]]) and emits the group's
    * refreshed top-k (group, rank, doc_id, score) by BM25 over the fixed
    * query-term set (Update semantics, see [[foldGroups]]). Every earlier posting is re-scored each batch because new
    * documents shift N, avgdl and df — BM25 scores are corpus-relative,
    * so a "refreshed top-k" inherently re-ranks; that re-scoring is
    * O(postings), the same bound as the state.
    *
    * Exactness contract with the batch side
    * ([[graft.queries.RetrievalQueries.bm25Scored]]): identical
    * tokenizer (SQL space-only trim → Locale.ROOT lowercase →
    * `\s+` split keeping trailing empties — dl is that array's length,
    * like the batch `size(split(...))`), identical float expression
    * trees (k1/b read from the single RetrievalQueries source), and the
    * same fixed-point finisher (per-(doc,term) contribution HALF_UP
    * rounded at 1e9, summed as Long, one division + 6-decimal HALF_UP at
    * the end — the op chain Spark's `round` performs) — so
    * StreamBm25Spec asserts EXACT equality with the batch ranking over
    * the data seen so far, across a checkpoint restart. NULL text rows
    * count toward N but contribute no length/terms, exactly like the
    * batch plan (count(*) vs null-skipping sum/explode).
    *
    * Exactly-once-per-document contract (as [[topTermsStream]]): each
    * input row is one document; re-delivery would double df/tf on both
    * the stream and a re-run batch alike. */
  def bm25Stream(docs: DataFrame, groupCol: String, idCol: String,
                 textCol: String, terms: Seq[String],
                 k: Int): Dataset[(String, Int, Long, Double)] = {
    import docs.sparkSession.implicits._
    val k1 = graft.queries.RetrievalQueries.k1
    val b = graft.queries.RetrievalQueries.b
    val termSet = terms.toSet
    foldGroups(docs.select(col(groupCol).cast("string"),
        struct(col(idCol).cast("long"), col(textCol).cast("string")))
        .as[(String, (Long, String))],
        Bm25State(0L, 0L, Map.empty, Vector.empty)) { (prev, rows) =>
      var n = prev.n
      var sdl = prev.sdl
      val df = scala.collection.mutable.Map.empty[String, Long] ++ prev.df
      val posts = Vector.newBuilder[Bm25Post]
      posts ++= prev.posts
      rows.foreach { case (docId, text) =>
        n += 1L // count(*) counts null-text rows too
        if (text != null) {
          val toks = exactTokens(text)
          sdl += toks.length.toLong
          val tf = scala.collection.mutable.Map.empty[String, Long]
          toks.foreach(t =>
            if (termSet(t)) tf.update(t, tf.getOrElse(t, 0L) + 1L))
          if (tf.nonEmpty) {
            tf.keysIterator.foreach(t =>
              df.update(t, df.getOrElse(t, 0L) + 1L))
            posts += Bm25Post(docId, toks.length.toLong, tf.toMap)
          }
        }
      }
      Bm25State(n, sdl, df.toMap, posts.result())
    } { (g, cur) =>
      // batch-identical arithmetic: see scaladoc contract
      val nD = cur.n.toDouble
      val sdlD = cur.sdl.toDouble
      def score(p: Bm25Post): Double = {
        var acc = 0L
        p.tf.foreach { case (t, tfl) =>
          val tfD = tfl.toDouble
          val dfD = cur.df(t).toDouble
          val idf = math.log(1.0 + (nD - dfD + 0.5) / (dfD + 0.5))
          val denom = tfD +
            k1 * ((1 - b) + b * p.dl.toDouble / (sdlD / nD))
          acc += BigDecimal(idf * tfD * (k1 + 1) / denom * 1e9)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
        BigDecimal(acc.toDouble / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cur.posts.map(p => (p.docId, score(p)))
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .iterator.zipWithIndex
        .map { case ((id, s), i) => (g, i + 1, id, s) }
    }
  }

  /** Streaming Misra–Gries heavy-hitter candidates: the m-counter sketch
    * ([[graft.ops.HeavyHitters.MgBuf]]) carried per group in GroupState —
    * O(m) state per group for the stream's lifetime, the frequent-ITEMS
    * counterpart of [[kmvDistinctStream]]'s distinct-count sketch. Each
    * micro-batch folds its keys into the group's sketch and emits the
    * refreshed entries as (group, key, est, n) rows (Update semantics,
    * see [[foldGroups]]);
    * a periodic batch job can verify the emitted candidates exactly, the
    * same sketch-then-verify split as the batch
    * [[graft.ops.HeavyHitters.heavyHitters]] two-pass.
    *
    * Honesty note, and why the spec differs from the KMV one: KMV minima
    * are order statistics, so kmvDistinctStream is EXACTLY the batch
    * sketch under any batching. MG counter VALUES are order- and
    * batching-dependent — what survives batching is the GUARANTEE (exact
    * n, no overcount, undercount ≤ n/(m+1), every key above n/(m+1)
    * present), which is what StreamHeavyHittersSpec pins across
    * micro-batches and a checkpoint restart. NULL keys are excluded from
    * counts and total, the batch operator's contract.
    *
    * The whole candidate set rides ONE row per group on purpose: the
    * decrement/merge steps EVICT keys, and Update mode cannot retract a
    * previously emitted row — per-(group, key) rows would leave a sink
    * keyed that way holding evicted candidates forever. One row per
    * group makes "the last row per group is current" exactly true, the
    * contract [[foldGroups]] states; ≤ m entries per row by
    * construction. */
  def heavyHittersStream(df: DataFrame, groupCol: String, keyCol: String,
                         m: Int): Dataset[(String, Long, Seq[(String, Long)])] = {
    import df.sparkSession.implicits._
    val agg = graft.ops.HeavyHitters.mgSketch(m)
    foldGroups(df.select(col(groupCol).cast("string"),
        col(keyCol).cast("string")).as[(String, String)], agg.zero) {
      (buf, keys) => keys.foldLeft(buf) { (b, key) =>
        if (key == null) b else agg.reduce(b, key)
      }
    } { (g, cur) =>
      Iterator.single((g, cur.n,
        cur.counts.toSeq.sortBy { case (k, c) => (-c, k) }))
    }
  }

  /** Per-group Count-Min state: flat row-major depth×width counters. */
  final case class CmsState(counters: Array[Long])

  /** Streaming Count-Min sketch: [[graft.ops.Sketch]]'s CMS counters
    * carried in GroupState, probed at a fixed O(1) key set each
    * micro-batch (Update semantics, see [[foldGroups]]: the last
    * (group, key) row is current). Counter addition is commutative and
    * associative, so — like the KMV stream and unlike Misra–Gries — the
    * streaming state is EXACTLY the batch sketch under ANY
    * micro-batching; StreamSketchSpec asserts bit-equality of every
    * probe estimate against
    * [[graft.ops.Sketch.cmsEstimate]] over the same rows, via the
    * [[graft.ops.Sketch.cmsBucketLocal]] hash twin. State is
    * O(depth·width) longs per group (16 KiB at 4×512) for the stream's
    * lifetime, regardless of row count or key cardinality; NULL keys are
    * uncounted, the batch operator's contract. */
  def cmsStream(df: DataFrame, groupCol: String, keyCol: String,
                depth: Int, width: Int, probeKeys: Seq[String])
      : Dataset[(String, String, Long)] = {
    import df.sparkSession.implicits._
    import graft.ops.Sketch
    foldGroups(df.select(col(groupCol).cast("string"),
        col(keyCol).cast("string")).as[(String, String)],
        CmsState(new Array[Long](depth * width))) { (st, keys) =>
      val c = st.counters
      keys.foreach { key =>
        if (key != null) {
          val bs = Sketch.cmsBucketsLocal(key, depth, width)
          var j = 0
          while (j < depth) { c(j * width + bs(j)) += 1L; j += 1 }
        }
      }
      st
    } { (g, cur) =>
      probeKeys.iterator.map { k =>
        val bs = Sketch.cmsBucketsLocal(k, depth, width)
        var est = Long.MaxValue
        var j = 0
        while (j < depth) {
          val v = cur.counters(j * width + bs(j))
          if (v < est) est = v
          j += 1
        }
        (g, k, est)
      }
    }
  }
}
