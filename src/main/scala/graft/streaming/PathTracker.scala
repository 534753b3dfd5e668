package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** A string-valued keyed event carrying the batch (ts, event_id) tiebreak. */
final case class OrderedRecord(
    key: String,
    eventId: Long,
    value: String,
    ts: java.sql.Timestamp)

/** A user journey prefix: the first `n` event types of `key` joined
  * with '>' — the growing path emitted after each consumed event. */
final case class PathState(path: String, n: Int)

/** One path emission: the journey after consuming the n-th event. */
final case class PathPoint(key: String, n: Int, path: String)

/** Streaming twin of the batch `evt_top_paths` operator
  * (queries/EventsQ.scala): per-key first-5-event journey assembly as
  * keyed state — the TENTH batch/stream pair sharing one semantics
  * definition. The batch row ranks each user's events by
  * (ts, event_id), keeps rn <= 5, and joins the types with '>'; this
  * tracker consumes records in the same order (micro-batch buffer
  * sorted by (ts, eventId) — the eventId carries the batch tiebreak),
  * appends to a bounded (path, n) state, STOPS at n = 5, and emits the
  * prefix after every append. Grouping each key's FINAL emission
  * (max n) and counting paths reproduces the batch report exactly
  * (StreamingPathSpec asserts it across micro-batch boundaries).
  *
  * Policy: null event-time or null type records are SKIPPED (the
  * FunnelTracker contract). State is one bounded string + int per key
  * at any stream length (paths cap at 5 segments).
  */
object PathTracker {

  private def fold(maxSteps: Int, maxBatchRowsPerKey: Int) =
    new KeyedFold[OrderedRecord, PathState, PathPoint](
      "path", Encoders.product[PathState])((key, rows, prior) => {
      val ordered = KeyedFold.buffered(key, rows, maxBatchRowsPerKey)
        .filter(r => r.ts != null && r.value != null)
        .sortBy(r => (r.ts.getTime, r.eventId))
      var cur = prior().getOrElse(PathState("", 0))
      val out = new scala.collection.mutable.ArrayBuffer[PathPoint]()
      ordered.foreach { r =>
        if (cur.n < maxSteps) {
          cur = PathState(
            if (cur.n == 0) r.value else cur.path + ">" + r.value,
            cur.n + 1)
          out += PathPoint(key, cur.n, cur.path)
        }
      }
      (out.iterator, if (cur.n > 0) Put(cur) else Keep)
    })

  def apply(
      ds: Dataset[OrderedRecord],
      maxSteps: Int = 5,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[PathPoint] = {
    import ds.sparkSession.implicits._
    fold(maxSteps, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
