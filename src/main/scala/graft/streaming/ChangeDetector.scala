package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues}

/** The README change-detection slice (/root/reference/README.md:27-52) as a
  * Spark 4 `StatefulProcessor`: one `ValueState[String]` per key holds the
  * last seen value (samsa's `query`/`save` pair,
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
class ChangeDetectorProcessor(
    ttl: TTLConfig = TTLConfig.NONE,
    maxBatchRowsPerKey: Int = ChangeDetector.DefaultMaxBatchRowsPerKey)
    extends StatefulProcessor[String, KeyedRecord, ChangeEvent] {

  @transient private var lastValue: org.apache.spark.sql.streaming.ValueState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastValue = getHandle.getValueState[String]("lastValue", Encoders.STRING, ttl)

  override def handleInputRows(
      key: String,
      rows: Iterator[KeyedRecord],
      timerValues: TimerValues): Iterator[ChangeEvent] =
    ChangeDetector.processBatch(key, rows, lastValue, maxBatchRowsPerKey)
}

/** [[ChangeDetectorProcessor]] with INITIAL STATE — samsa's startup
  * restore (replay the changelog table into the store before consuming,
  * /root/reference/samsa/kafka/storage.py:151-184) as Spark's
  * first-class bootstrap: a fresh query (no checkpoint) seeds each
  * key's `lastValue` from a batch snapshot via `handleInitialState`,
  * so a known key's first sighting classifies as unchanged/changed —
  * never a spurious "initial". Checkpoint restore covers the
  * same-query restart path; this covers the NEW-query-over-existing-
  * state path (changelog compaction, store migration, backfill). */
class ChangeDetectorBootstrapProcessor(
    maxBatchRowsPerKey: Int = ChangeDetector.DefaultMaxBatchRowsPerKey)
    extends StatefulProcessorWithInitialState[String, KeyedRecord, ChangeEvent, String] {

  @transient private var lastValue: org.apache.spark.sql.streaming.ValueState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastValue = getHandle.getValueState[String]("lastValue", Encoders.STRING, TTLConfig.NONE)

  override def handleInitialState(
      key: String, initial: String, timerValues: TimerValues): Unit =
    if (initial != null) lastValue.update(initial)

  override def handleInputRows(
      key: String,
      rows: Iterator[KeyedRecord],
      timerValues: TimerValues): Iterator[ChangeEvent] =
    ChangeDetector.processBatch(key, rows, lastValue, maxBatchRowsPerKey)
}

object ChangeDetector {

  /** The change-detection transition, shared by every state path: one
    * key's rows of ONE micro-batch, folded in event-time order from the
    * stored `prior` value. Returns the events and the value to store
    * after the batch (`None` = clear the key).
    *
    *   - first sighting (no value stored): "initial";
    *   - a value differing from the previous one: "changed", else
    *     "unchanged";
    *   - a null value is a tombstone (the UpsertStore delete
    *     convention): "deleted", and the key's next sighting is a fresh
    *     "initial".
    *
    * Rows arrive unordered; they are sorted by event time (null-safe
    * tiebreak for determinism, see KeyedRecord.orderKey) so "latest
    * wins" matches batch lag(). Emitting a transition per row needs the
    * rows in order, so one key's share of one micro-batch is buffered,
    * bounded by an explicit cap checked WHILE buffering: a pathological
    * key fails loudly with a remedy instead of OOMing the executor.
    * Heap behavior under a deliberately hot key (1e5 rows) is asserted
    * in StreamingParitySpec. */
  private[streaming] def transitions(
      key: String,
      rows: Iterator[KeyedRecord],
      prior: Option[String],
      maxBatchRowsPerKey: Int): (Seq[ChangeEvent], Option[String]) = {
    val ordered = boundedBuffer(key, rows, maxBatchRowsPerKey)
      .sortBy(KeyedRecord.orderKey)
    ordered.foldLeft((Vector.empty[ChangeEvent], prior)) {
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
  }

  /** [[transitions]] on the transformWithState path: `lastValue` is
    * read once and written (update or clear) once per key per batch. */
  private[streaming] def processBatch(
      key: String,
      rows: Iterator[KeyedRecord],
      lastValue: org.apache.spark.sql.streaming.ValueState[String],
      maxBatchRowsPerKey: Int): Iterator[ChangeEvent] = {
    // get() is null when the key has no value: one store read, not an
    // exists() probe plus a get()
    val prior = Option(lastValue.get())
    val (events, last) = transitions(key, rows, prior, maxBatchRowsPerKey)
    last match {
      case Some(v) => lastValue.update(v)
      case None => lastValue.clear()
    }
    events.iterator
  }

  /** Per-key-per-micro-batch row cap for the ordering buffer. 2^20 rows
    * of (key, value, topic, partition, ts) is low tens of MB — well
    * under executor headroom — while anything past it signals a skewed
    * key that should be rate-limited or split upstream (or processed
    * with smaller micro-batches via `maxFilesPerTrigger`/
    * `maxOffsetsPerTrigger`). SCALE.md "Streaming family" documents the
    * bound. */
  val DefaultMaxBatchRowsPerKey: Int = 1 << 20

  /** Buffer `rows`, failing fast (with the remedy in the message) the
    * moment the cap is crossed — before the allocation grows further. */
  private[streaming] def boundedBuffer(
      key: String,
      rows: Iterator[KeyedRecord],
      cap: Int): scala.collection.mutable.ArrayBuffer[KeyedRecord] = {
    val buf = new scala.collection.mutable.ArrayBuffer[KeyedRecord]()
    while (rows.hasNext) {
      buf += rows.next()
      if (buf.length > cap)
        throw new IllegalStateException(
          s"ChangeDetector: key '$key' has more than $cap rows in one micro-batch; " +
            "shrink micro-batches (maxFilesPerTrigger/maxOffsetsPerTrigger), " +
            "split or rate-limit the hot key upstream, or raise maxBatchRowsPerKey")
    }
    buf
  }

  /** transformWithState path (requires RocksDB state store provider).
    * With a TTL the time mode must be ProcessingTime (state expiry is
    * wall-clock-driven); without one, TimeMode.None. */
  def apply(
      ds: Dataset[KeyedRecord],
      ttl: TTLConfig = TTLConfig.NONE,
      maxBatchRowsPerKey: Int = DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    ds.groupByKey(_.key)
      .transformWithState(
        new ChangeDetectorProcessor(ttl, maxBatchRowsPerKey),
        timeMode,
        OutputMode.Append())
  }

  /** Bootstrap path: seed per-key state from a batch `(key, value)`
    * snapshot (a compacted changelog read, a store export) before the
    * first micro-batch — samsa's restore-then-consume startup for a
    * FRESH query with no checkpoint. */
  def bootstrapped(
      ds: Dataset[KeyedRecord],
      snapshot: Dataset[(String, String)],
      maxBatchRowsPerKey: Int = DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(
        new ChangeDetectorBootstrapProcessor(maxBatchRowsPerKey),
        TimeMode.None(),
        OutputMode.Append(),
        snapshot.groupByKey(_._1).mapValues(_._2))
  }

  /** flatMapGroupsWithState fallback — identical semantics, runs on any
    * state store provider (HDFS-backed default included). */
  def viaFlatMapGroups(
      ds: Dataset[KeyedRecord],
      maxBatchRowsPerKey: Int = DefaultMaxBatchRowsPerKey): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[String, ChangeEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[KeyedRecord], state: GroupState[String]) =>
          val (events, last) = transitions(key, rows, state.getOption, maxBatchRowsPerKey)
          last match {
            case Some(v) => state.update(v)
            case None => state.remove()
          }
          events.iterator
      }
  }
}
