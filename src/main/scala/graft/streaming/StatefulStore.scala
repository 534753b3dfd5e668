package graft.streaming

import graft.streaming.KeyedFold.{Clear, Put}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Latest-wins keyed store: the engine's replacement for samsa's
  * `StatefulConsumer.save`/`query` (/root/reference/samsa/kafka/
  * storage.py:190-219) and the SQLite/RocksDB upsert beneath them
  * (/root/reference/samsa/db/sqldb.py:40-83, rocksdb.py:49-73).
  *
  * Semantics preserved (SURVEY §2.2):
  *   - latest value wins per key (upsert);
  *   - a null incoming value is a tombstone -> `ValueState.clear()`, the
  *     RocksDB-only delete (rocksdb.py:75-85) made uniform;
  *   - every applied write is emitted as a `StateEntry` — the changelog
  *     record stream (storage.py:129-149), consumable by ChangelogSink.
  *   - TTL (TTLConfig) generalizes nothing in samsa — capability superset.
  *
  * Improvement over the reference: state commit and changelog emission are
  * transactional with the micro-batch checkpoint, closing samsa's
  * crash-between-put-and-produce staleness window (storage.py:201-206).
  */
object StatefulStore {

  /** The latest-wins fold: the value under the state name "value". It
    * never reads the stored value, only writes the batch's survivor. */
  private[graft] def fold(ttl: TTLConfig) =
    new KeyedFold[KeyedRecord, String, StateEntry](
      "value", Encoders.STRING, ttl, outputMode = OutputMode.Update())(
      (key, rows, _) =>
        // Latest-wins means only the maximal row under the deterministic,
        // null-safe order (KeyedRecord.orderKey) survives the batch — track
        // it in O(1) memory over the iterator instead of buffering and
        // sorting every per-key row (a hot key with millions of rows in one
        // micro-batch would otherwise materialize in executor heap).
        // Changelog is compacted per micro-batch: only the surviving write
        // is replicated (samsa replicates every put — same end state, less
        // I/O).
        if (!rows.hasNext) (Iterator.empty, KeyedFold.Keep)
        else {
          val r = rows.maxBy(KeyedRecord.orderKey)
          (Iterator.single(StateEntry(key, r.value)),
            if (r.value == null) Clear else Put(r.value))
        })

  /** Materialize a keyed record stream into durable latest-wins state,
    * emitting the per-batch changelog. */
  def upsert(ds: Dataset[KeyedRecord], ttl: TTLConfig = TTLConfig.NONE): Dataset[StateEntry] = {
    import ds.sparkSession.implicits._
    fold(ttl).run(ds.groupByKey(_.key))
  }

  /** Out-of-stream point/range query of live state (samsa's `query(key)`,
    * storage.py:208-219): reads the state store files under a running or
    * stopped query's checkpoint via the Spark 4 state data source. */
  def readState(
      spark: org.apache.spark.sql.SparkSession,
      checkpoint: String,
      operatorId: Int = 0,
      stateVarName: String = "value"): org.apache.spark.sql.DataFrame =
    spark.read.format("statestore")
      .option("path", checkpoint)
      .option("operatorId", operatorId)
      .option("stateVarName", stateVarName) // transformWithState stores are named
      .load()
}
