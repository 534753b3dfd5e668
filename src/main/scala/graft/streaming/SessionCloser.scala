package graft.streaming

import graft.streaming.KeyedFold.Put
import org.apache.spark.sql.{Dataset, Encoders}

/** Inactivity-closed session summary: emitted ONCE per session, when the
  * key has seen no events for the configured gap (as judged by the event
  * -time watermark). */
final case class SessionSummary(key: String, nEvents: Long, closedAtMs: Long)

/** An open session: events so far and the latest event time (epoch ms). */
final case class SessionCount(nEvents: Long, lastTs: Long)

/** PROCESSOR TIMERS — the transformWithState capability the rest of the
  * streaming surface doesn't exercise (ValueState/ListState/MapState/TTL
  * are covered by ChangeDetector/KeyedStats/StateTtl): a per-key
  * event-time timer re-armed on every input ([[KeyedFold.Timer]]), firing
  * when the watermark passes last-event + gap. This is the
  * session-window-with-callback shape (emit exactly one summary per
  * closed session, then clear state) that `window(session_window)`
  * aggregation can't express when the close action is imperative
  * (flush-to-sink, state handoff, changelog tombstone).
  *
  * Scale posture: state per key is two longs + one registered timer;
  * timers live in the state store (RocksDB) keyed by (key, ts) —
  * expiry scans are range reads over the armed-timer prefix below the
  * watermark, never a full-state sweep. One timer per key at all times
  * (re-arm deletes the previous), so timer volume = live-key count. */
object SessionCloser {

  private def fold(gapMs: Long) =
    new KeyedFold[KeyedRecord, SessionCount, SessionSummary](
      "session", Encoders.product[SessionCount],
      timer = Some(KeyedFold.Timer[SessionCount, SessionSummary](
        _.lastTs + gapMs,
        (key, s, expiryMs) => Iterator.single(SessionSummary(key, s.nEvents, expiryMs)))))(
      (_, rows, prior) => {
        val s = prior().getOrElse(SessionCount(0L, Long.MinValue))
        var n = s.nEvents
        var last = s.lastTs
        rows.foreach { r =>
          n += 1
          if (r.ts != null) last = math.max(last, r.ts.getTime)
        }
        (Iterator.empty, Put(SessionCount(n, last)))
      })

  /** `ds` must carry an event-time watermark on `ts` (event-time timers
    * fire against the watermark): `.withWatermark("ts", ...)` upstream. */
  def apply(ds: Dataset[KeyedRecord], gapMs: Long): Dataset[SessionSummary] = {
    import ds.sparkSession.implicits._
    fold(gapMs).run(ds.groupByKey(_.key))
  }
}
