package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** samsa's one engine pattern — read a key's stored value, fold the new
  * messages into it, write it back (samsa kafka/storage.py:190-219) —
  * as one pure per-key step plus one processor that runs it. Flink's keyed-state model (VLDB 2017) has the same
  * shape: a user function over one key's state and that key's input.
  *
  * `step(key, rows, prior)` sees one key's rows of ONE micro-batch and
  * the stored value, and returns the events plus what to leave in the
  * state: [[KeyedFold.Keep]], [[KeyedFold.Put]] or [[KeyedFold.Clear]].
  * `prior` is read from the store at most once, and only when the step
  * calls it (the latest-wins upsert never does).
  *
  * `timer`, when set, keeps one event-time timer per key, re-armed at
  * `timer.at(s)` on every `Put(s)`; when the watermark passes it,
  * `timer.fire` emits from the stored value and the key is cleared.
  *
  * `outputMode` is the operator's: Append for event streams, Update for
  * the latest-wins store.
  */
final class KeyedFold[In, S, Out](
    val stateName: String,
    val stateEncoder: Encoder[S],
    val ttl: TTLConfig = TTLConfig.NONE,
    val timer: Option[KeyedFold.Timer[S, Out]] = None,
    val outputMode: OutputMode = OutputMode.Append())(
    val step: (String, Iterator[In], () => Option[S]) => (Iterator[Out], KeyedFold.Write[S]))
    extends Serializable {

  /** Event-time timers need EventTime; state expiry is wall-clock. */
  private def timeMode: TimeMode =
    if (timer.isDefined) TimeMode.EventTime()
    else if (ttl != TTLConfig.NONE) TimeMode.ProcessingTime()
    else TimeMode.None()

  /** transformWithState (requires the RocksDB state store provider). */
  def run(grouped: KeyValueGroupedDataset[String, In])(
      implicit out: Encoder[Out]): Dataset[Out] =
    grouped.transformWithState(new KeyedFoldProcessor(this), timeMode, outputMode)

  /** [[run]] with each key's state seeded from `initial` before the first
    * micro-batch of a fresh query (a key's value in `initial` becomes its
    * stored value). */
  def bootstrapped(
      grouped: KeyValueGroupedDataset[String, In],
      initial: KeyValueGroupedDataset[String, S])(
      implicit out: Encoder[Out]): Dataset[Out] =
    grouped.transformWithState(
      new KeyedFoldProcessor(this), timeMode, outputMode, initial)(out, stateEncoder)

  /** The same fold on flatMapGroupsWithState, which runs on any state
    * store provider (the HDFS-backed default included). That operator
    * has no state TTL and this form arms no timer. */
  def viaFlatMapGroups(grouped: KeyValueGroupedDataset[String, In])(
      implicit out: Encoder[Out]): Dataset[Out] = {
    require(ttl == TTLConfig.NONE,
      "the flatMapGroupsWithState form has no state TTL; run with ttl on RocksDB")
    require(timer.isEmpty, "the flatMapGroupsWithState form arms no timer")
    grouped.flatMapGroupsWithState[S, Out](outputMode, GroupStateTimeout.NoTimeout()) {
      (key: String, rows: Iterator[In], state: GroupState[S]) =>
        val (events, write) = step(key, rows, () => state.getOption)
        write match {
          case KeyedFold.Put(s) => state.update(s)
          case KeyedFold.Clear => state.remove()
          case KeyedFold.Keep =>
        }
        events
    }(stateEncoder, out)
  }
}

object KeyedFold {

  /** What a step leaves in a key's state. */
  sealed trait Write[+S]
  /** Leave the stored value as it is: no store write. */
  case object Keep extends Write[Nothing]
  final case class Put[S](value: S) extends Write[S]
  case object Clear extends Write[Nothing]

  /** One event-time timer per key: armed at `at(s)`; `fire(key, s,
    * expiryMs)` emits when it expires. */
  final case class Timer[S, Out](at: S => Long, fire: (String, S, Long) => Iterator[Out])

  /** Per-key-per-micro-batch row cap for the ordering buffer. 2^20 rows
    * of (key, value, topic, partition, ts) is low tens of MB — well
    * under executor headroom — while anything past it signals a skewed
    * key that should be rate-limited or split upstream (or processed
    * with smaller micro-batches via `maxFilesPerTrigger`/
    * `maxOffsetsPerTrigger`). SCALE.md "Streaming family" documents the
    * bound. */
  val DefaultMaxBatchRowsPerKey: Int = 1 << 20

  /** One key's rows of one micro-batch, buffered under `cap`: the cap is
    * checked WHILE buffering, so a pathological key fails loudly with
    * the remedy in the message instead of OOMing the executor. Heap
    * behavior under a deliberately hot key (1e5 rows) is asserted in
    * StreamingParitySpec. */
  def buffered[T](
      key: String, rows: Iterator[T], cap: Int): scala.collection.mutable.ArrayBuffer[T] = {
    val buf = new scala.collection.mutable.ArrayBuffer[T]()
    while (rows.hasNext) {
      buf += rows.next()
      if (buf.length > cap)
        throw new IllegalStateException(
          s"key '$key' has more than $cap rows in one micro-batch; " +
            "shrink micro-batches (maxFilesPerTrigger/maxOffsetsPerTrigger), " +
            "split or rate-limit the hot key upstream, or raise maxBatchRowsPerKey")
    }
    buf
  }

  /** [[buffered]] in the deterministic event-time order of
    * [[KeyedRecord.orderKey]]: rows arrive unordered, and a fold that
    * emits per row needs them in order. */
  def ordered(
      key: String,
      rows: Iterator[KeyedRecord],
      cap: Int): scala.collection.mutable.ArrayBuffer[KeyedRecord] =
    buffered(key, rows, cap).sortBy(KeyedRecord.orderKey)
}

/** The one transformWithState processor: a single `ValueState` named and
  * encoded by the fold, read at most once and written or cleared at
  * most once per key per batch. */
private[streaming] final class KeyedFoldProcessor[In, S, Out](fold: KeyedFold[In, S, Out])
    extends StatefulProcessorWithInitialState[String, In, Out, S] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](fold.stateName, fold.stateEncoder, fold.ttl)

  override def handleInitialState(key: String, initial: S, timerValues: TimerValues): Unit =
    if (initial != null) state.update(initial)

  override def handleInputRows(
      key: String,
      rows: Iterator[In],
      timerValues: TimerValues): Iterator[Out] = {
    // get() is null when the key has no value: one store read, with no
    // existence probe before it
    lazy val prior = Option(state.get())
    val (events, write) = fold.step(key, rows, () => prior)
    write match {
      case KeyedFold.Put(s) =>
        state.update(s)
        fold.timer.foreach { t =>
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t.at(s))
        }
      case KeyedFold.Clear => state.clear()
      case KeyedFold.Keep =>
    }
    events
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Out] = {
    val out = (fold.timer, Option(state.get())) match {
      case (Some(t), Some(s)) => t.fire(key, s, expiredTimerInfo.getExpiryTimeInMs())
      case _ => Iterator.empty
    }
    state.clear()
    out
  }
}
