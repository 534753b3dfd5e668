package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** A key's first appearance: emitted exactly once, with its event time
  * (epoch millis). Grouping by day downstream reproduces the batch
  * `evt_cumulative_users` new-user series. */
final case class FirstSeen(key: String, tsMillis: Long)

/** Streaming twin of the batch `evt_cumulative_users` operator
  * (queries/EventsQ.scala): distinct-key first-appearance as keyed
  * state. The first non-null-ts record a key ever shows emits one
  * FirstSeen and pins the key's state; every later record is absorbed
  * silently — the streaming form of `MIN(ts) GROUP BY user_id`, with
  * O(1) state per key instead of a corpus-wide aggregation.
  *
  * Replay parity (StreamingFirstSeenSpec): when micro-batches arrive in
  * event-time order (the tracker sorts WITHIN a batch with
  * [[KeyedFold.ordered]]), the emitted tsMillis equals the batch
  * MIN(ts) per key, so day-grouped counts equal `evt_cumulative_users`
  * exactly. Policy under cross-batch late data: the first OBSERVED
  * record wins (state never rewrites) — the deliberate streaming
  * semantics for "new user seen", same divergence-by-policy note as
  * FunnelTracker/TransitionTracker. Null-ts records are skipped.
  *
  * This is the FIFTH batch/stream operator pair sharing one semantics
  * definition (change detection, funnel, transitions, as-of enrich,
  * first-seen) — the samsa keyed-state shape with a set-membership
  * transition function.
  */
object FirstSeenTracker {

  private def fold(maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, Long, FirstSeen](
      "firstSeenTs", Encoders.scalaLong)((key, rows, prior) =>
      if (prior().isDefined) (Iterator.empty, Keep)
      else KeyedFold.ordered(key, rows, maxBatchRowsPerKey).find(_.ts != null) match {
        case Some(first) =>
          val ts = first.ts.getTime
          (Iterator.single(FirstSeen(key, ts)), Put(ts))
        case None => (Iterator.empty, Keep)
      })

  def apply(
      ds: Dataset[KeyedRecord],
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[FirstSeen] = {
    import ds.sparkSession.implicits._
    fold(maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
