package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** Last event seen for a key: its type and event time (epoch millis). */
final case class LastEvent(eventType: String, tsMillis: Long)

/** One observed step: `key` moved `prevType` -> `nextType` at `tsMillis`.
  * Counting (prevType, nextType) pairs downstream reproduces the batch
  * `evt_transition_matrix` counts. */
final case class TransitionStep(
    key: String, prevType: String, nextType: String, tsMillis: Long)

/** Streaming twin of the batch `evt_transition_matrix` operator
  * (queries/EventsQ.scala): per-key lag-over-event-time as keyed state.
  * Each record with a non-null event time emits one step against the
  * previously stored event (nothing for a key's first record) and
  * becomes the new stored event — exactly the batch query's
  * `LAG(event_type) OVER (PARTITION BY user ORDER BY ts, ...)` pairs,
  * so replaying a bounded null-free stream and counting (prev, next)
  * groups yields the exact batch matrix (StreamingTransitionSpec
  * asserts it). Null-ts records are skipped, the same documented
  * divergence-by-policy as FunnelTracker (the batch window orders
  * nulls first; a stream twin has no real event time to order them by).
  *
  * This is the third batch/stream operator pair sharing one semantics
  * definition (change detection, funnel, transitions) — the samsa
  * keyed-state shape (/root/reference/README.md:27-52) with a lag
  * transition function. State is one (string, long) per key; the
  * micro-batch buffer restores event-time order ([[KeyedFold.ordered]]).
  */
object TransitionTracker {

  private def fold(maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, LastEvent, TransitionStep](
      "last", Encoders.product[LastEvent])((key, rows, prior) => {
      var prev = prior().orNull
      val out = scala.collection.mutable.ArrayBuffer[TransitionStep]()
      KeyedFold.ordered(key, rows, maxBatchRowsPerKey).foreach { r =>
        if (r.ts != null && r.value != null) {
          val ts = r.ts.getTime
          if (prev != null)
            out += TransitionStep(key, prev.eventType, r.value, ts)
          prev = LastEvent(r.value, ts)
        }
      }
      (out.iterator, if (prev != null) Put(prev) else Keep)
    })

  def apply(
      ds: Dataset[KeyedRecord],
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[TransitionStep] = {
    import ds.sparkSession.implicits._
    fold(maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
