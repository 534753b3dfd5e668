package graft.streaming

import graft.streaming.KeyedFold.Put
import org.apache.spark.sql.{Dataset, Encoders}

/** A group's current quantile snapshot: emitted once per group per
  * micro-batch the group received input in. `nSeen` is the group's
  * processed-value count (monotone version stamp — final answer = rows
  * at each group's max, the TopK/Distinct convention). While the group
  * holds <= exactCap values the percentiles are EXACT discrete
  * percentiles (`exact=true`: value at 1-based rank ceil(q*n) of the
  * sorted values); afterwards they are histogram estimates with value
  * error bounded by one bin width (see [[QuantileTracker]]). */
final case class QuantileSnapshot(
    shard: String, nSeen: Long,
    p50: Double, p90: Double, p99: Double, exact: Boolean)

/** One group's state: the bounded exact value buffer while small, or
  * the fixed-width histogram once the buffer would exceed `exactCap`.
  * `counts` is empty in exact mode; `values` is empty in sketch mode.
  * Flat product type -> struct encoder, no Java serialization. */
final case class QuantileState(
    values: Array[Double], counts: Array[Long],
    lo: Double, width: Double, trueMin: Double, trueMax: Double,
    nSeen: Long)

/** Streaming per-group quantiles — the THIRTEENTH batch/stream operator
  * pair (streaming twin of the batch percentile family: `agg_core`'s
  * exact median and `agg_approx_distinct`'s percentile_approx branch):
  * "p50/p90/p99 per service" is THE latency-dashboard primitive, and
  * an exact streaming implementation would hold every value ever seen.
  *
  * Grouping contract: the key is the GROUP (service, event type, ...),
  * not an item-hash shard — quantiles of hash-shards do not merge the
  * way counts do, so the operator answers per-group quantiles, the
  * shape the batch twin answers per group key.
  *
  * Exactness regime (the DistinctTracker discipline): while a group's
  * value count stays <= exactCap the emission is the exact discrete
  * percentile (value at rank ceil(q*n) — replay parity against a batch
  * sort is bit-for-bit). Past the cap the buffer converts ONCE to a
  * `bins`-bin equi-width histogram spanning the observed range padded
  * 25% each side; no value is lost at the seam. A value outside the
  * current grid WIDENS it by power-of-two range doubling (adjacent
  * bins merge pairwise, so counts are preserved exactly and the grid
  * always covers every value seen) — the standard streaming-histogram
  * answer to range drift; clamping into edge bins would silently smear
  * the tail of any drifting stream. Estimates interpolate inside the
  * target bin, so the VALUE error is bounded by one CURRENT bin width
  * (<= ~2x observed-range/bins, since doubling at most doubles the
  * tight grid). State per group is O(exactCap) doubles before the seam
  * and exactly `bins` longs after — bounded regardless of stream
  * length.
  *
  * Policies shared with the other twelve pairs: null values skipped,
  * non-numeric values fail loud (contract violation, not data),
  * KeyedFold.buffered cap fails loud, counters addExact.
  */
object QuantileTracker {

  /** Exact discrete percentile: value at 1-based rank ceil(q*n). */
  private def exactQ(sorted: Array[Double], q: Double): Double =
    sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))

  /** Histogram estimate: find the bin holding rank ceil(q*n), linear
    * interpolation inside it. Error <= one bin width by construction. */
  private def histQ(st: QuantileState, q: Double): Double = {
    val target = math.max(1L, math.ceil(q * st.nSeen).toLong)
    var cum = 0L
    var b = 0
    while (b < st.counts.length) {
      val c = st.counts(b)
      if (cum + c >= target) {
        val frac = (target - cum).toDouble / c
        val est = st.lo + (b + frac) * st.width
        // clamp to the tracked true range so interpolation inside an
        // edge bin never overshoots reality
        return math.min(math.max(est, st.trueMin), st.trueMax)
      }
      cum += c
      b += 1
    }
    st.trueMax
  }

  private def binOf(lo: Double, width: Double, nBins: Int, v: Double): Int =
    math.min(nBins - 1, math.max(0, ((v - lo) / width).toInt))

  private def fold(exactCap: Int, bins: Int, maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, QuantileState, QuantileSnapshot](
      "quantile", Encoders.product[QuantileState])((key, rows, prior) => {
      val buf = KeyedFold.buffered(key, rows, maxBatchRowsPerKey)
      val st = prior().getOrElse(QuantileState(Array.empty, Array.empty, 0.0, 0.0,
        Double.MaxValue, Double.MinValue, 0L))
      var vals = scala.collection.mutable.ArrayBuffer.empty[Double]
      vals ++= st.values
      var counts = st.counts
      var n = st.nSeen
      var tMin = st.trueMin
      var tMax = st.trueMax
      var lo = st.lo
      var width = st.width
      // power-of-two widening: double the grid (merge bin pairs — counts
      // preserved exactly) until v fits; extend upward in place, extend
      // downward by re-anchoring lo a full range lower
      def widenToFit(v: Double): Unit = {
        while (v >= lo + width * bins || v < lo) {
          // progress guard: doubling a positive finite width always grows
          // it, so a non-positive width here means the grid is corrupt and
          // the loop could spin forever — fail loud instead of hanging the
          // streaming task.
          if (!(width > 0.0) || !java.lang.Double.isFinite(width))
            throw new IllegalStateException(
              s"quantile grid width degenerate ($width) while widening to fit $v")
          val merged = new Array[Long](bins)
          if (v >= lo) {
            var i = 0
            while (i < bins) { merged(i / 2) += counts(i); i += 1 }
          } else {
            lo -= width * bins
            var i = 0
            while (i < bins) { merged((i + bins) / 2) += counts(i); i += 1 }
          }
          counts = merged
          width *= 2
        }
      }
      buf.foreach { r =>
        if (r.value != null) {
          val v = r.value.toDouble // non-numeric fails loud by contract
          // NaN/Infinity parse fine via toDouble but have no place on an
          // equi-width grid (an Infinity would make every widening step a
          // no-op) — contract violation, fail loud like non-numeric.
          if (!java.lang.Double.isFinite(v))
            throw new IllegalArgumentException(
              s"non-finite value '${r.value}' for key '$key' — " +
                "quantile tracking requires finite numerics")
          n = Math.addExact(n, 1L)
          tMin = math.min(tMin, v); tMax = math.max(tMax, v)
          if (counts.isEmpty) {
            vals += v
            if (vals.length > exactCap) {
              // one-time seam: bin every held value, 25% pad each side
              val mn = vals.min; val mx = vals.max
              val pad = math.max((mx - mn) * 0.25, 1e-9)
              lo = mn - pad
              // Floor the seam width at 2 ulps of the largest magnitude in
              // play: for near-constant values with |v| >~ 2e7 the 1e-9 pad
              // is absorbed by double rounding (lo == mn, mx + pad == mx)
              // and the raw quotient is 0.0 — a zero-width grid makes
              // widenToFit non-terminating. The ulp floor keeps the grid
              // representable at any magnitude.
              val ulpFloor =
                2.0 * math.ulp(math.max(math.max(math.abs(mn), math.abs(mx)), 1.0))
              width = math.max((mx + pad - lo) / bins, ulpFloor)
              counts = new Array[Long](bins)
              vals.foreach(v0 => counts(binOf(lo, width, bins, v0)) += 1L)
              vals.clear()
            }
          } else {
            widenToFit(v)
            counts(binOf(lo, width, bins, v)) += 1L
          }
        }
      }
      val exact = counts.isEmpty
      val next = QuantileState(vals.toArray, counts, lo, width, tMin, tMax, n)
      val out =
        if (n == 0L) Iterator.empty
        else if (exact) {
          val sorted = vals.toArray.sorted
          Iterator.single(QuantileSnapshot(key, n,
            exactQ(sorted, 0.5), exactQ(sorted, 0.9), exactQ(sorted, 0.99),
            exact = true))
        } else Iterator.single(QuantileSnapshot(key, n,
          histQ(next, 0.5), histQ(next, 0.9), histQ(next, 0.99), exact = false))
      (out, Put(next))
    })

  /** Track p50/p90/p99 of `ds.value` (numeric strings) per group key.
    * `exactCap` bounds the exact buffer per group; `bins` sizes the
    * post-seam histogram (value error <= padded-range/bins). */
  def apply(
      ds: Dataset[KeyedRecord],
      exactCap: Int = 4096,
      bins: Int = 1024,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[QuantileSnapshot] = {
    require(exactCap >= 4 && bins >= 16 && bins % 2 == 0,
      s"exactCap >= 4 and even bins >= 16 required, got ($exactCap, $bins)")
    import ds.sparkSession.implicits._
    fold(exactCap, bins, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
