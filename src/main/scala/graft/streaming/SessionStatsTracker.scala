package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** An open session's running state: first/last event time (epoch ms)
  * and the event count. */
final case class SessionAcc(startMs: Long, lastMs: Long, nEvents: Long)

/** One CLOSED session: emitted exactly once, either when a same-key
  * event arrives >= gap after the previous one (mid-stream split) or
  * when the event-time watermark passes last + gap (timer close).
  * `durSec` matches the batch row's second-truncated arithmetic
  * (floorDiv(ms, 1000) at both ends). */
final case class ClosedSession(
    key: String, startMs: Long, endMs: Long, nEvents: Long, durSec: Long)

/** Streaming twin of the batch `evt_session_stats` operator
  * (queries/EventsQ.scala): per-key inactivity sessionization as keyed
  * state + one event-time timer — the SIXTH batch/stream pair sharing
  * one semantics definition. The batch row assigns events to sessions
  * with `session_window(ts, gap)` (new session when the time since the
  * previous event is >= gap); this tracker holds the open session as
  * (start, last, n), splits mid-batch on the same >= gap rule over the
  * event-time-sorted buffer, and closes the final session of a key via
  * the watermark timer (re-armed at last + gap on every input).
  * Replaying a bounded slice and aggregating the closed sessions per
  * key therefore reproduces the batch per-user session stats exactly
  * (StreamingSessionStatsSpec).
  *
  * Policies (same discipline as the other five pairs): null-ts records
  * are skipped (no real event time to sessionize by); cross-batch LATE
  * data older than the open session's last event extends the session
  * only forward (state never rewinds) — on an event-time-ordered
  * replay this case does not arise.
  *
  * Scale posture: state is 3 longs + one armed timer per key; timer
  * expiry is a range scan below the watermark, never a full-state
  * sweep; output volume is the closed-session count. */
object SessionStatsTracker {

  private def close(a: SessionAcc, key: String): ClosedSession =
    ClosedSession(key, a.startMs, a.lastMs, a.nEvents,
      Math.floorDiv(a.lastMs, 1000L) - Math.floorDiv(a.startMs, 1000L))

  private def fold(gapMs: Long, maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, SessionAcc, ClosedSession](
      "acc", Encoders.product[SessionAcc],
      timer = Some(KeyedFold.Timer[SessionAcc, ClosedSession](
        _.lastMs + gapMs, (key, a, _) => Iterator.single(close(a, key)))))(
      (key, rows, prior) => {
        var open: SessionAcc = prior().orNull
        val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
        KeyedFold.ordered(key, rows, maxBatchRowsPerKey).foreach { r =>
          if (r.ts != null) {
            val ts = r.ts.getTime
            if (open == null) open = SessionAcc(ts, ts, 1L)
            else if (ts - open.lastMs >= gapMs) {
              out += close(open, key)
              open = SessionAcc(ts, ts, 1L)
            } else open = SessionAcc(open.startMs, math.max(open.lastMs, ts),
              open.nEvents + 1L)
          }
        }
        (out.iterator, if (open != null) Put(open) else Keep)
      })

  /** `ds` must carry an event-time watermark on `ts` (the close timer
    * fires against the watermark): `.withWatermark("ts", ...)` upstream. */
  def apply(
      ds: Dataset[KeyedRecord],
      gapMs: Long,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    fold(gapMs, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
