package graft.streaming

import graft.streaming.KeyedFold.{Clear, Put}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.TTLConfig

/** The README change-detection slice (samsa README.md:27-52)
  * as a [[KeyedFold]]: one `ValueState[String]` named "lastValue" per
  * key holds the last seen value (samsa's `query`/`save` pair,
  * /root/reference/samsa/kafka/storage.py:190-219). Durability and
  * rebalance recovery are Spark's checkpoint + state-store restore —
  * replacing the hand-rolled changelog replay at storage.py:151-184.
  *
  * State lives in the executor's RocksDB state store
  * (`RocksDBStateStoreProvider`), the same engine as samsa's optional
  * RocksDB client (/root/reference/samsa/db/rocksdb.py).
  *
  * A null incoming value is a tombstone (the UpsertStore/samsa delete
  * convention, rocksdb.py:75-85): state clears, the event is emitted
  * with change="deleted", and the key's next sighting is "initial".
  */
object ChangeDetector {

  /** The change-detection transition: one key's rows of ONE
    * micro-batch, folded in event-time order ([[KeyedFold.ordered]],
    * so "latest wins" matches batch lag()) from the stored `prior`
    * value. Returns the events and the value to store after the batch
    * (`None` = clear the key).
    *
    *   - first sighting (no value stored): "initial";
    *   - a value differing from the previous one: "changed", else
    *     "unchanged";
    *   - a null value is a tombstone (the UpsertStore delete
    *     convention): "deleted", and the key's next sighting is a fresh
    *     "initial". */
  private[streaming] def transitions(
      key: String,
      rows: Iterator[KeyedRecord],
      prior: Option[String],
      maxBatchRowsPerKey: Int): (Seq[ChangeEvent], Option[String]) =
    KeyedFold.ordered(key, rows, maxBatchRowsPerKey)
      .foldLeft((Vector.empty[ChangeEvent], prior)) {
        case ((out, prev), r) if r.value == null =>
          (out :+ ChangeEvent(key, prev, null, "deleted"), None)
        case ((out, prev), r) =>
          val change = prev match {
            case None => "initial"
            case Some(p) if p != r.value => "changed"
            case _ => "unchanged"
          }
          (out :+ ChangeEvent(key, prev, r.value, change), Some(r.value))
      }

  private[graft] def fold(ttl: TTLConfig, maxBatchRowsPerKey: Int) =
    new KeyedFold[KeyedRecord, String, ChangeEvent]("lastValue", Encoders.STRING, ttl)(
      (key, rows, prior) => {
        val (events, last) = transitions(key, rows, prior(), maxBatchRowsPerKey)
        (events.iterator, last.fold[KeyedFold.Write[String]](Clear)(Put(_)))
      })

  /** transformWithState path (requires RocksDB state store provider).
    * With a TTL the time mode is ProcessingTime (state expiry is
    * wall-clock-driven); without one, TimeMode.None. */
  def apply(
      ds: Dataset[KeyedRecord],
      ttl: TTLConfig = TTLConfig.NONE,
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    fold(ttl, maxBatchRowsPerKey).run(ds.groupByKey(_.key))
  }

  /** Bootstrap path: seed per-key state from a batch `(key, value)`
    * snapshot (a compacted changelog read, a store export) before the
    * first micro-batch — samsa's restore-then-consume startup
    * (storage.py:151-184) for a FRESH query with no checkpoint, so a
    * known key's first sighting classifies as unchanged/changed, never
    * a spurious "initial". Checkpoint restore covers the same-query
    * restart path; this covers the NEW-query-over-existing-state path
    * (changelog compaction, store migration, backfill). */
  def bootstrapped(
      ds: Dataset[KeyedRecord],
      snapshot: Dataset[(String, String)],
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    fold(TTLConfig.NONE, maxBatchRowsPerKey)
      .bootstrapped(ds.groupByKey(_.key), snapshot.groupByKey(_._1).mapValues(_._2))
  }

  /** flatMapGroupsWithState fallback — identical semantics, runs on any
    * state store provider (HDFS-backed default included). */
  def viaFlatMapGroups(
      ds: Dataset[KeyedRecord],
      maxBatchRowsPerKey: Int = KeyedFold.DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    fold(TTLConfig.NONE, maxBatchRowsPerKey).viaFlatMapGroups(ds.groupByKey(_.key))
  }
}
