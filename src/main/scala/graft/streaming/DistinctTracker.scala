package graft.streaming

import graft.streaming.KeyedFold.Put
import org.apache.spark.sql.{Dataset, Encoders}

/** A shard's current distinct-count snapshot: emitted once per shard
  * per micro-batch the shard received input in. `nSeen` is the shard's
  * processed-record count (monotone version stamp — final answer =
  * rows at each shard's max, the TopK convention); `estimate` is exact
  * while the shard holds <= exactCap distinct items (`exact=true`),
  * then a HyperLogLog estimate. Shards partition the item space by
  * hash, so merged shard counts ADD — exactly in the exact regime,
  * with independent HLL error afterwards. */
final case class DistinctSnapshot(
    shard: String, nSeen: Long, estimate: Long, exact: Boolean)

/** One shard's state: the bounded exact item set while small (sorted
  * array — deterministic layout), or the HLL register file once the
  * set would exceed `exactCap`. `registers` is empty in exact mode;
  * `items` is empty in sketch mode. Flat product type -> struct
  * encoder, no Java serialization. */
final case class DistinctState(
    items: Array[String], registers: Array[Byte], nSeen: Long)

/** Streaming distinct count — the EIGHTH batch/stream operator pair
  * (streaming twin of the batch `agg_approx_distinct` row's
  * count-distinct branch): a bounded exact set that degrades to
  * HyperLogLog (Flajolet et al. 2007) register state at a fixed
  * capacity, the standard "how many distinct users/URLs so far"
  * dashboard primitive.
  *
  * Sharding contract (same as [[TopKTracker]]): the grouping key is
  * a shard id assigned by hashing the ITEM, so each distinct item
  * lives in exactly one shard and shard estimates sum. State per
  * shard is O(exactCap) strings before the switch and exactly 2^p
  * bytes after — bounded REGARDLESS of stream length, the answer to
  * an exact distinct aggregation whose state at 100 TB would be the
  * full key universe.
  *
  * Exactness regime (the TopKTracker discipline): while a shard's
  * distinct load stays <= exactCap the emission is EXACT (set
  * semantics, `exact=true`) and replay parity against the batch
  * count-distinct is bit-for-bit; past the cap the state converts to
  * HLL ONCE (every held item hashed into registers — no items lost at
  * the seam) and the estimate carries standard HLL error (~1.04/sqrt
  * (2^p) relative) with the small-range linear-counting correction.
  * All hashing is the fixed-seed murmur3 pair -> 64 bits, so the
  * estimate is deterministic for a given item multiset.
  *
  * Policies shared with the other seven pairs: null values skipped,
  * order-insensitive (set/register updates commute), the
  * KeyedFold.buffered cap fails loud, counters addExact.
  */
object DistinctTracker {

  /** Fixed-seed 64-bit item hash (two murmur3-32 lanes). */
  private def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2545f491)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9e3779b9)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Fold `item` into the 2^p registers `reg`. */
  private def addToRegisters(reg: Array[Byte], p: Int, item: String): Unit = {
    val h = hash64(item)
    val idx = (h >>> (64 - p)).toInt
    // rank = leading zeros of the remaining 64-p bits + 1; all-zero
    // remainder gets the max rank 64-p+1
    val rest = h << p
    val rank = (if (rest == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
    if (rank > reg(idx)) reg(idx) = rank.toByte
  }

  /** Standard HLL estimator with the linear-counting small-range
    * correction (Flajolet et al. 2007, Fig. 3). */
  private def estimate(reg: Array[Byte]): Long = {
    val m = reg.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.scalb(1.0, -reg(i))
      if (reg(i) == 0) zeros += 1
      i += 1
    }
    // Per-m bias constants from Flajolet et al. 2007 §4: the closed form
    // 0.7213/(1+1.079/m) holds only for m >= 128; smaller register counts
    // use the paper's tabulated alpha_16/32/64 so the ~1.04/sqrt(m) error
    // contract holds across the full accepted p range (p >= 4).
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    math.rint(corrected).toLong
  }

  private def fold(exactCap: Int, p: Int, maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, DistinctState, DistinctSnapshot](
      "distinct", Encoders.product[DistinctState])((key, rows, prior) => {
      val buf = KeyedFold.buffered(key, rows, maxBatchRowsPerKey)
      val st = prior().getOrElse(DistinctState(Array.empty[String], Array.empty[Byte], 0L))
      var n = st.nSeen
      var sketch = st.registers
      val set = scala.collection.mutable.TreeSet.empty[String]
      set ++= st.items
      buf.foreach { r =>
        if (r.value != null) {
          n = Math.addExact(n, 1L)
          if (sketch.isEmpty) {
            set += r.value
            if (set.size > exactCap) {
              // one-time conversion: every held item crosses the seam
              sketch = new Array[Byte](1 << p)
              set.foreach(addToRegisters(sketch, p, _))
              set.clear()
            }
          } else addToRegisters(sketch, p, r.value)
        }
      }
      val exact = sketch.isEmpty
      (Iterator.single(DistinctSnapshot(key, n,
        if (exact) set.size.toLong else estimate(sketch), exact)),
        Put(DistinctState(set.toArray, sketch, n)))
    })

  /** Track distinct `ds.value` items; `ds.key` must be the item-hash
    * shard id (see the object scaladoc). `exactCap` bounds the exact
    * set per shard; `p` sizes the HLL register file (2^p bytes). */
  def apply(
      ds: Dataset[KeyedRecord],
      exactCap: Int = 4096,
      p: Int = 12,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey)
      : Dataset[DistinctSnapshot] = {
    require(exactCap >= 1 && p >= 4 && p <= 16)
    import ds.sparkSession.implicits._
    fold(exactCap, p, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }
}
