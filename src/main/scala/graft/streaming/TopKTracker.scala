package graft.streaming

import graft.streaming.KeyedFold.Put
import org.apache.spark.sql.{Dataset, Encoders}

/** A shard's current heavy-hitter snapshot row: emitted once per
  * (shard, tracked item) per micro-batch the shard received input in.
  * `nSeen` is the shard's total processed record count — a monotone
  * version stamp, so "the final answer" = rows where nSeen is the
  * shard's max. `est` is the count-min estimate (= the exact count
  * while the shard's distinct-item load keeps the sketch
  * collision-free — the same exactness regime the batch
  * agg_approx_top_k row REQUIREs of DataSketches). */
final case class TopKSnapshot(shard: String, nSeen: Long, item: String, est: Long)

/** One shard's full tracker state: the count-min cells (depth*width,
  * row-major) and the candidate table as parallel arrays (<= k
  * entries), plus the processed-record counter. A flat product type so
  * the state store carries it via the struct encoder (no Java
  * serialization), ~ (depth*width + 2k) words per shard. */
final case class TopKState(
    cm: Array[Long], items: Array[String], ests: Array[Long], nSeen: Long)

/** Streaming heavy hitters — the SEVENTH batch/stream operator pair
  * (streaming twin of the batch `agg_approx_top_k` DataSketches row):
  * a count-min sketch plus a bounded top-k candidate table as keyed
  * state, the Cormode–Muthukrishnan CM+heap construction every
  * streaming "most frequent items" dashboard runs.
  *
  * Sharding contract: the grouping key IS a shard id the caller
  * assigns by hashing the ITEM (e.g. `pmod(hash(event_type), S)`) —
  * each distinct item lives in exactly ONE shard, so merged shard
  * top-ks lose nothing: the global top-k is contained in the union of
  * per-shard top-ks whenever per-shard k >= global k. State per shard
  * is O(depth*width + k) words REGARDLESS of stream length or
  * distinct-item count — the bounded-memory answer to the exact
  * `groupBy(item).count` histogram, which at 100 TB would carry
  * billions of keys of state.
  *
  * Update rule per record: increment the item's depth counters
  * (seeded murmur3 rows), estimate = min over rows, then maintain the
  * candidate table — update in place if tracked, insert if below
  * capacity, else evict the smallest-estimate candidate when the new
  * estimate strictly exceeds it (ties keep the incumbent; the victim
  * is the (est, item)-smallest, deterministic). In the collision-free
  * regime estimates are exact, so any item whose true count strictly
  * exceeds the k-th largest is guaranteed present at stream end (the
  * classic CM-heap argument) — StreamingTopKSpec replays the events
  * slice and checks parity against the batch row under exactly that
  * contract.
  *
  * Policies (same discipline as the other six pairs): null-value
  * records are skipped; records are order-insensitive (counts commute)
  * so no in-batch sort; the KeyedFold.buffered cap still applies as
  * the skewed-shard error contract; counter increments are addExact —
  * overflow fails loud, never wraps.
  */
object TopKTracker {

  private def fold(k: Int, depth: Int, width: Int, maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, TopKState, TopKSnapshot](
      "topk", Encoders.product[TopKState])((key, rows, prior) => {
      val buf = KeyedFold.buffered(key, rows, maxBatchRowsPerKey)
      val st = prior().getOrElse(TopKState(new Array[Long](depth * width),
        Array.empty[String], Array.empty[Long], 0L))
      val cm = st.cm
      var top = st.items.zip(st.ests).toMap
      var n = st.nSeen
      buf.foreach { r =>
        if (r.value != null) {
          n = Math.addExact(n, 1L)
          var est = Long.MaxValue
          var d = 0
          while (d < depth) {
            val h = scala.util.hashing.MurmurHash3.stringHash(r.value, 0x9747b28c + d)
            val c = d * width + Math.floorMod(h, width)
            cm(c) = Math.addExact(cm(c), 1L)
            if (cm(c) < est) est = cm(c)
            d += 1
          }
          if (top.contains(r.value) || top.size < k) top = top.updated(r.value, est)
          else {
            val (vItem, vEst) = top.minBy { case (i, e) => (e, i) }
            if (est > vEst) top = (top - vItem).updated(r.value, est)
          }
        }
      }
      // deterministic state layout: candidates stored est-desc, item-asc
      val ordered = top.toArray.sortBy { case (i, e) => (-e, i) }
      (ordered.iterator.map { case (item, est) => TopKSnapshot(key, n, item, est) },
        Put(TopKState(cm, ordered.map(_._1), ordered.map(_._2), n)))
    })

  /** Track the top `k` items per shard; `ds.key` must be the
    * item-hash shard id (see the object scaladoc), `ds.value` the item. */
  def apply(
      ds: Dataset[KeyedRecord],
      k: Int,
      depth: Int = 3,
      width: Int = 1024,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[TopKSnapshot] = {
    require(k >= 1 && depth >= 1 && width >= 1)
    import ds.sparkSession.implicits._
    fold(k, depth, width, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
