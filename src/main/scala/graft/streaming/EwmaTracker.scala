package graft.streaming

import graft.streaming.KeyedFold.{Keep, Put}
import org.apache.spark.sql.{Dataset, Encoders}

/** A numeric keyed event: the input shape for trackers whose state is
  * arithmetic over a value series rather than samsa's string payloads
  * (`eventId` carries the batch side's unique tiebreak). */
final case class NumericRecord(
    key: String,
    eventId: Long,
    value: java.lang.Double,
    ts: java.sql.Timestamp)

/** One smoothed point: the EWMA after consuming `eventId`. */
final case class EwmaPoint(key: String, eventId: Long, tsMillis: Long, ewma: Double)

/** EWMA accumulator: the running smoothed value + how many points fed it. */
final case class EwmaState(acc: Double, n: Long)

/** Streaming twin of the batch `win_ewma` operator
  * (queries/WindowsQ.scala): the per-key exponentially weighted moving
  * average as keyed state — the NINTH batch/stream pair sharing one
  * semantics definition. The recursion is the batch row's exact fold,
  * BIT-IDENTICAL because both sides apply the same IEEE expression in
  * the same (ts, eventId) order with the same literals:
  * acc₀ = x₀; accₜ = alpha·xₜ + beta·accₜ₋₁ (alpha/beta are SEPARATE
  * literals, 0.3/0.7 — deriving beta as 1-alpha would NOT reproduce
  * the batch constant in floating point). Each consumed record emits
  * one smoothed point, so replaying a bounded stream equals exploding
  * the batch (ids, ew) arrays (StreamingEwmaSpec asserts bitwise
  * equality across micro-batch boundaries).
  *
  * Policy: records with a null event time or null value are SKIPPED
  * (the batch query filters null values; a stream twin has no real
  * event time to order null-ts rows by) — the FunnelTracker contract.
  * State is one (double, long) per key at any stream length; the
  * micro-batch buffer ([[KeyedFold.buffered]]) restores (ts, eventId)
  * order under the shared fail-loud cap.
  */
object EwmaTracker {
  /** The batch win_ewma literals — shared so the pair cannot drift. */
  val Alpha = 0.3
  val Beta = 0.7

  private def fold(alpha: Double, beta: Double, maxBatchRowsPerKey: Int) =
    new KeyedFold[NumericRecord, EwmaState, EwmaPoint](
      "ewma", Encoders.product[EwmaState])((key, rows, prior) => {
      val ordered = KeyedFold.buffered(key, rows, maxBatchRowsPerKey)
        .filter(r => r.ts != null && r.value != null)
        .sortBy(r => (r.ts.getTime, r.eventId))
      var cur = prior().orNull
      val out = new scala.collection.mutable.ArrayBuffer[EwmaPoint](ordered.length)
      ordered.foreach { r =>
        val x = r.value.doubleValue()
        cur =
          if (cur == null) EwmaState(x, 1L)
          else EwmaState(alpha * x + beta * cur.acc, cur.n + 1L)
        out += EwmaPoint(key, r.eventId, r.ts.getTime, cur.acc)
      }
      (out.iterator, if (cur != null) Put(cur) else Keep)
    })

  def apply(
      ds: Dataset[NumericRecord],
      alpha: Double = Alpha,
      beta: Double = Beta,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[EwmaPoint] = {
    import ds.sparkSession.implicits._
    fold(alpha, beta, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
