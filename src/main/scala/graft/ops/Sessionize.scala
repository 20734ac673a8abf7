package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed-API sessionization: `groupByKey` + `flatMapGroups` over
  * `Dataset[Event]` — the batch shape of a
  * `flatMapGroupsWithState` streaming sessionizer, and the second engine
  * implementation of the 30-minute-gap semantics (the first is the
  * window/lag plan in StreamQueries.qSessionize; SessionizeSpec asserts
  * they agree).
  *
  * Scale: one shuffle on user_id; each group is sorted in executor memory,
  * so per-user memory is bounded by that user's event count — fine for
  * bounded-cardinality users; the skew escape for a single hot user is a
  * salted two-phase pre-aggregation. The streaming form is
  * [[graft.streaming.Streams.sessionizeStreamSnapshot]]
  * (flatMapGroupsWithState, one open session per user).
  */
object Sessionize {
  final case class Event(user_id: Long, ts_us: Long, event_id: Long)
  final case class Session(user_id: Long, session_id: Long, n_events: Long,
                           start_us: Long)

  /** Sessions per user with a `gapMinutes` inactivity split; session ids
    * number 1..n per user in time order (ties broken by event_id, same as
    * the window implementation). */
  def sessions(events: DataFrame, gapMinutes: Int = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events.select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_id").cast("long"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val evs = it.toArray
        java.util.Arrays.sort(evs, Ordering.by((e: Event) => (e.ts_us, e.event_id)))
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        var sid = 0L; var n = 0L; var start = 0L; var prev = Long.MinValue
        for (e <- evs) {
          if (prev == Long.MinValue || e.ts_us - prev > gapUs) {
            if (sid > 0) out += Session(uid, sid, n, start)
            sid += 1; n = 0L; start = e.ts_us
          }
          n += 1; prev = e.ts_us
        }
        if (sid > 0) out += Session(uid, sid, n, start)
        out.iterator
      }
  }
}
