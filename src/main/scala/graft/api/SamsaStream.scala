package graft.api

import graft.io.{ChangelogSink, CheckpointFiles, Sources}
import graft.streaming.{ChangeDetector, ChangeEvent, KeyedFold, KeyedRecord, StatefulStore, StateEntry}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.datasources.v2.state.DriverStateScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, TTLConfig, Trigger}

/** Store engine selection — R9/R24's `store='sqlite'|'rocksdb'` dispatch
  * (/root/reference/samsa/kafka/storage.py:41-55, db/__init__.py:10-15),
  * mapped to Spark state-store providers. */
sealed trait StoreType { def providerClass: String }
object StoreType {
  /** HDFS-backed default provider — the "sqlite" baseline. */
  case object Default extends StoreType {
    val providerClass = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  }
  /** RocksDB provider — the literal same engine as samsa's RocksDBClient
    * (/root/reference/samsa/db/rocksdb.py). Required by transformWithState. */
  case object RocksDB extends StoreType {
    val providerClass = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  }
}

/** `StatefulConsumer`-equivalent builder (R1/R2/R9/R10,
  * /root/reference/samsa/kafka/storage.py:17-62): declares topics, group,
  * table and store engine, then turns a record stream into change events or
  * a durable latest-wins table with an optional explicit changelog.
  *
  * Differences by design (SURVEY §2.2, §7.5): rebalance recovery, offset
  * tracking and changelog replay are Spark's checkpoint machinery, not user
  * code; state commits are transactional with the batch (improving samsa's
  * at-least-once store-before-changelog ordering, storage.py:201-206).
  *
  * TTL caveat: a non-NONE `ttl` forces processing-time mode, where the
  * engine self-triggers eviction micro-batches — drive such queries by
  * sink polling or timed triggers, never `processAllAvailable()` (it
  * would block forever; see StateTtlSpec).
  */
final case class SamsaStream(
    topics: Seq[String],
    groupId: String,
    tableName: String,
    bootstrapServers: String = "localhost:9092",
    store: StoreType = StoreType.RocksDB,
    ttl: TTLConfig = TTLConfig.NONE) {

  /** [[configure]] plus the state-partition auto-default (r19, VERDICT
    * r18 item 4): sets `spark.sql.shuffle.partitions` — which in
    * Structured Streaming IS the state-store partition count — from
    * [[SamsaStream.autoStatePartitions]] over the caller's estimated
    * total state size (expected distinct keys × bytes per key). Must
    * run before query start; the count is fixed for the checkpoint's
    * lifetime, so size it for the state you expect at steady state. */
  def configure(spark: SparkSession, stateBytesEstimate: Long): SparkSession = {
    spark.conf.set("spark.sql.shuffle.partitions",
      SamsaStream.autoStatePartitions(stateBytesEstimate).toString)
    configure(spark)
  }

  /** Session configured for this stream's state engine: the settings of
    * [[SamsaStream.stateEngine]]. Call before starting the query; they
    * are read at query start.
    *
    * - The store's provider class.
    * - RocksDB only: changelog checkpointing, so a commit uploads the
    *   batch's changes, not a snapshot (samsa's changelog write,
    *   storage.py:190-206).
    * - [[graft.io.CheckpointFiles]] as the checkpoint file manager: the
    *   state-store commits and the offsets, commits and metadata logs on
    *   a `file:` checkpoint go through Hadoop's `FileSystem` API. Spark's
    *   default `FileContext` manager starts a `readlink` process per path
    *   it renames when `libhadoop` is absent: 64 per micro-batch of a
    *   3-partition change detector (16 per state-store commit, 8 each for
    *   the offsets and commits entries), most of the batch's commit time.
    *   With this manager there are none. Other schemes keep the default.
    * - `fs.file.impl` = [[graft.io.CheckpointFiles.LocalFs]], with
    *   `fs.file.impl.disable.cache` = `true`: every `file:` path the
    *   session resolves through its Hadoop configuration gets Hadoop's
    *   checksummed local file system with a `setPermission` that starts no
    *   process. Without `libhadoop`, Hadoop forks a `chmod` (about 4 ms)
    *   for each file and directory it creates: RocksDB's copies of SST
    *   files between checkpoint and local store, and Spark's checkpoint
    *   and state directories, 856 of the 926 processes a 6-second
    *   `store_restore` perfbench run started (seed 1). The file system cache is
    *   keyed by scheme, not class, so a `file:` instance cached before
    *   this setting would otherwise still be returned; with the cache off,
    *   each lookup of a `file:` file system builds a new instance (Spark's
    *   context-level configuration, and what it caches, are untouched).
    *   In a configured session this also applies to every other `file:`
    *   read and write through the session's Hadoop configuration (Parquet,
    *   JSON, text sources and sinks): the same Hadoop local file system,
    *   uncached, and without forks. */
  def configure(spark: SparkSession): SparkSession = {
    SamsaStream.stateEngine(store).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** Kafka source decoded to samsa's record view (utf-8 key/value,
    * storage.py:179-181). */
  def records(spark: SparkSession): Dataset[KeyedRecord] = {
    import spark.implicits._
    Sources.kafkaStream(spark, bootstrapServers, topics)
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"),
        col("timestamp").as("ts"))
      .as[KeyedRecord]
  }

  /** Any (key,value,topic,partition,ts)-shaped frame as the record stream —
    * the broker-less test path (file replay / MemoryStream). */
  def recordsFrom(df: DataFrame): Dataset[KeyedRecord] = {
    import df.sparkSession.implicits._
    df.as[KeyedRecord]
  }

  /** The README query (README.md:27-52): emit initial/changed/unchanged per
    * record vs stored state. */
  def detectChanges(ds: Dataset[KeyedRecord]): Dataset[ChangeEvent] = {
    import ds.sparkSession.implicits._
    onStore(ChangeDetector.fold(ttl, KeyedFold.DefaultMaxBatchRowsPerKey), ds.groupByKey(_.key))
  }

  /** Durable latest-wins table of the stream (save/query parity, R4/R5). */
  def materialize(ds: Dataset[KeyedRecord]): Dataset[StateEntry] = {
    import ds.sparkSession.implicits._
    onStore(StatefulStore.fold(ttl), ds.groupByKey(_.key))
  }

  /** RocksDB runs `fold` on transformWithState; Default on
    * flatMapGroupsWithState, which has no state TTL, so a set `ttl` is
    * rejected here rather than dropped. */
  private def onStore[Out](
      fold: KeyedFold[KeyedRecord, String, Out],
      grouped: KeyValueGroupedDataset[String, KeyedRecord])(
      implicit out: Encoder[Out]): Dataset[Out] =
    store match {
      case StoreType.RocksDB => fold.run(grouped)
      case StoreType.Default => fold.viaFlatMapGroups(grouped)
    }

  /** Materialize AND replicate each batch's surviving writes to
    * `{table}-{partition}-changelog` Kafka topics (R6/R8). */
  def startWithChangelog(
      ds: Dataset[KeyedRecord],
      checkpoint: String,
      numPartitions: Int): StreamingQuery =
    materialize(ds).toDF()
      .writeStream
      // transformWithState runs in Update mode (matches the tested
      // equivalent path in StreamingParitySpec); without it the broker
      // path would fail Spark's output-mode validation at query start
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(ChangelogSink.toKafka(bootstrapServers, tableName, numPartitions))
      .start()

  /** Point lookup against the checkpointed store — R5's `query(key)`
    * (storage.py:208-219) from outside the stream. A transformWithState
    * store names its state variable; a flatMapGroupsWithState store has
    * one unnamed state, holding the value under `groupState`.
    *
    * One lookup loads one state store once, read-only: partition
    * [[SamsaStream.partitionOf]]`(key, n)`, where `n` is the number of
    * partition directories the checkpoint holds. It is read on the
    * driver, with no Spark job and no write into the checkpoint, by a
    * point `get` of `key`, and closed before this returns. The lookup
    * falls back to scanning every partition in a Spark job, with one
    * WARN naming the checkpoint, when the listed partitions are not
    * exactly `0..n-1` or when the partition's first row does not hash to
    * it (a checkpoint written with another partitioning). A null key
    * finds nothing. */
  def query(spark: SparkSession, checkpoint: String, key: String): Option[String] = {
    val (state, value) = store match {
      case StoreType.RocksDB => (StatefulStore.readState(spark, checkpoint), "value.value")
      case StoreType.Default =>
        (spark.read.format("statestore").option("path", checkpoint).load(),
          "value.groupState.value")
    }
    if (key == null) None
    else SamsaStream.lookupOne(state, value, key) match {
      case Right(found) => found
      case Left(reason) =>
        SamsaStream.log.warn(s"query on checkpoint $checkpoint scans every state " +
          s"partition: $reason")
        state.select(col("key.value").as("k"), col(value).as("v"))
          .filter(col("k") === key)
          .collect().headOption.map(_.getString(1))
    }
  }
}

object SamsaStream {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.api.SamsaStream")

  /** The session settings of `store`'s state engine, as
    * [[SamsaStream.configure]] sets them, each with its reason there. */
  def stateEngine(store: StoreType): Map[String, String] =
    Map(
      "spark.sql.streaming.stateStore.providerClass" -> store.providerClass,
      "spark.sql.streaming.checkpointFileManagerClass" -> classOf[CheckpointFiles].getName,
      "fs.file.impl" -> classOf[CheckpointFiles.LocalFs].getName,
      "fs.file.impl.disable.cache" -> "true") ++
      (if (store == StoreType.RocksDB)
        Map("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      else Map.empty)

  /** The state partition of `key` in a store of `n` partitions: the
    * `HashPartitioning` that `groupByKey(_.key)` puts in front of the
    * stateful operator, `pmod(murmur3(key, seed 42), n)`. */
  def partitionOf(key: String, n: Int): Int =
    HashPartitioning(Seq(Literal(key)), n).partitionIdExpression.eval().asInstanceOf[Int]

  /** Whether listed state partition ids are exactly `0..n-1`, n ≥ 1. */
  def contiguous(ids: Seq[Int]): Boolean = ids.nonEmpty && ids.sorted == ids.indices

  /** Whether a row with `key`, read from partition `p` of `n`, agrees
    * that the store was partitioned by [[partitionOf]]. */
  def confirms(key: String, p: Int, n: Int): Boolean = partitionOf(key, n) == p

  /** `key`'s value read from its one partition of `state` (a
    * `statestore` frame), or why that partition cannot be trusted. */
  private def lookupOne(state: DataFrame, value: String, key: String)
      : Either[String, Option[String]] = {
    val scan = DriverStateScan(state)
    val ids = scan.partitionIds
    if (!contiguous(ids)) Left(s"its partitions ${ids.mkString(",")} are not 0..n-1")
    else {
      val n = ids.length
      val p = partitionOf(key, n)
      scan.lookup(p, key, "key.value", value) match {
        case (Some(Seq(first, _)), _) if !confirms(first, p, n) =>
          Left(s"key $first read from partition $p does not hash to it at n=$n")
        case (_, found) => Right(found.map(_(1)))
      }
    }
  }

  /** RocksDB-comfortable state bytes per store instance. Measured band
    * ~100 MB–1 GB (SCALE.md r18 partition sweep: fixed per-store
    * open/commit costs dominate below it; single-store restore latency
    * and compaction pressure grow above it). The target sits at the
    * band's low end so restore parallelism arrives as soon as state is
    * big enough to need it. */
  val targetBytesPerStore: Long = 128L * 1024 * 1024

  /** Parallelism floor: the r18 sweep's measured LOCAL optimum at
    * dashboard-size state (50 MiB — 8 partitions beat 32 beat 128 on
    * every metric: throughput AND restore). Below this, a single slow
    * store serializes the micro-batch with no offsetting benefit. */
  val minStatePartitions: Int = 8

  /** Backstop against absurd partition counts (file/store-instance
    * explosion on the checkpoint FS); ~4 PB of state at the target
    * bytes-per-store before it binds. */
  val maxStatePartitions: Int = 32768

  /** State-store partition count from an estimated total state size —
    * the r18 knob law made the default (r19, VERDICT r18 item 4): in
    * Structured Streaming the shuffle-partition count IS the state-
    * store partition count, and the measurement showed it should follow
    * BYTES PER STORE, not core count — more partitions on small state
    * make both throughput and restore worse (fixed per-store costs),
    * while at large state the per-partition snapshot byte distribution
    * (linear in 1/p, skew < 1.2×) is what parallelizes restore across
    * executors. Estimate `stateBytes` as expected distinct keys × bytes
    * per key (the change-detector measures ~900 B/key on-checkpoint at
    * the 100M-event decade; see SCALE.md). */
  def autoStatePartitions(stateBytes: Long): Int = {
    val byBytes = math.ceil(stateBytes.max(0L).toDouble
      / targetBytesPerStore).toLong
    math.min(maxStatePartitions.toLong,
      math.max(minStatePartitions.toLong, byBytes)).toInt
  }
}
