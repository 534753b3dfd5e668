package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** Per-key funnel progress: how many ordered steps are complete and the
  * event time of the latest completed step (epoch millis). */
final case class FunnelProgress(stage: Int, lastTsMillis: Long)

/** One funnel advancement: `key` completed `step` (1-based, = the new
  * stage) named `stepName` at event time `tsMillis`. Step-k user counts
  * downstream reproduce the batch `evt_funnel` report. */
final case class FunnelAdvance(
    key: String, step: Int, stepName: String, tsMillis: Long)

/** Streaming twin of the batch `evt_funnel` operator (queries/
  * EventsQ.scala): a per-user state machine over an ordered step
  * sequence, advanced by `transformWithState`. A step counts only when
  * it is the NEXT step for the key, carries a NON-NULL event time, and
  * that time is STRICTLY after the previous step's completion —
  * matching the batch query's `MIN(ts) ... AND e.ts > prev.t` cascade,
  * so replaying a bounded null-free stream yields the exact batch
  * counts (StreamingFunnelSpec asserts it). Sole divergence, by
  * policy: a user whose step-1 events are ALL null-ts is counted at
  * step 1 by the batch query (the MIN group row exists with a NULL
  * time) but never enters the stream funnel — see the fold.
  *
  * Reference precedent: the samsa README pitches per-user stateful
  * consumption over an event stream (/root/reference/README.md:27-52);
  * this is the same keyed-state shape with a funnel transition function
  * instead of change detection. State is one (int, long) per user in
  * the RocksDB store; rows of one micro-batch are buffered per key only
  * to restore event-time order ([[KeyedFold.ordered]]).
  */
object FunnelTracker {

  /** The batch `evt_funnel` step sequence. */
  val DefaultSteps: Seq[String] = Seq("view", "click", "purchase")

  private def fold(steps: Seq[String], maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, FunnelProgress, FunnelAdvance](
      "progress", Encoders.product[FunnelProgress])((key, rows, prior) => {
      val st = prior().getOrElse(FunnelProgress(0, Long.MinValue))
      var stage = st.stage
      var lastTs = st.lastTsMillis
      val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
      KeyedFold.ordered(key, rows, maxBatchRowsPerKey).foreach { r =>
        // Null-ts records are SKIPPED: a funnel advancement needs a real
        // event time. Known divergence from the batch twin, by policy:
        // batch evt_funnel counts a user whose step-1 events are ALL
        // null-ts (MIN over an all-NULL group is NULL, the group row
        // still exists) but can never advance them past step 1 (ts >
        // NULL is never true); the stream twin never admits them at all.
        // On null-free streams — the fixture, and any event source with
        // a required event-time column — replay parity is exact
        // (StreamingFunnelSpec asserts both properties).
        if (stage < steps.length && r.value == steps(stage) && r.ts != null) {
          val ts = r.ts.getTime
          // strict > : an event sharing the previous completion's
          // timestamp cannot advance (the batch cascade's e.ts > prev.t)
          if (ts > lastTs) {
            stage += 1
            lastTs = ts
            out += FunnelAdvance(key, stage, steps(stage - 1), ts)
          }
        }
      }
      (out.iterator, if (stage != st.stage) Put(FunnelProgress(stage, lastTs)) else Keep)
    })

  def apply(
      ds: Dataset[KeyedRecord],
      steps: Seq[String] = DefaultSteps,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import ds.sparkSession.implicits._
    fold(steps, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
