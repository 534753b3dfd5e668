package graft.api

import graft.SparkSpec
import graft.streaming.KeyedRecord
import org.apache.spark.sql.functions._

/** The Kafka wire contract without a broker: SamsaStream.records decodes
  * the exact schema the Kafka source emits (binary key/value, topic,
  * partition, timestamp — the fields samsa reads at
  * /root/reference/samsa/kafka/storage.py:179-181,241). We synthesize a
  * frame with that schema and run the same projection `records` applies.
  */
class SamsaStreamSpec extends SparkSpec {

  test("kafka-shaped binary records decode to KeyedRecord (utf-8)") {
    import spark.implicits._
    val wire = Seq(
      ("node-1".getBytes("UTF-8"), """{"data":{"status":"up"}}""".getBytes("UTF-8")),
      ("node-2".getBytes("UTF-8"), "down".getBytes("UTF-8")))
      .toDF("key", "value")
      .withColumn("topic", lit("nodes.status"))
      .withColumn("partition", lit(3))
      .withColumn("ts", current_timestamp())

    val stream = SamsaStream(Seq("nodes.status"), "g1", "nodes")
    // same projection records() applies to the kafka frame
    val decoded = stream.recordsFrom(
      wire.select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("ts")))
      .collect().sortBy(_.key)

    assert(decoded.map(_.key).toSeq == Seq("node-1", "node-2"))
    assert(decoded.head.value == """{"data":{"status":"up"}}""")
    assert(decoded.forall(_.topic == "nodes.status"))
    assert(decoded.forall(_.partition == 3))
  }

  test("changelog topic naming matches the reference convention (R8)") {
    // "{table}-{partition}-changelog", samsa/kafka/storage.py:186-188
    assert(graft.io.ChangelogSink.topicName("nodes", 7) == "nodes-7-changelog")
  }

  test("autoStatePartitions follows the measured bytes-per-store law (r19)") {
    val MiB = 1024L * 1024
    // the r18 sweep's local optimum at dashboard-size state: 50 MiB of
    // change-detector state ran best at 8 partitions (8 beat 32 beat
    // 128 on throughput AND restore) — small state gets the floor
    assert(SamsaStream.autoStatePartitions(50 * MiB) == 8)
    assert(SamsaStream.autoStatePartitions(0) == 8)
    // the fourth-decade measured state (1.31 GiB at 100M events) must
    // SCALE the count past the floor: ceil(1.31 GiB / 128 MiB) = 11
    val p131 = SamsaStream.autoStatePartitions((1.31 * 1024 * MiB).toLong)
    assert(p131 == 11, s"1.31 GiB -> $p131")
    // large state stays inside the RocksDB-comfortable band
    val TB = 1024 * 1024 * MiB
    val pTb = SamsaStream.autoStatePartitions(TB)
    assert(pTb == 8192)
    assert(TB / pTb >= 100 * MiB && TB / pTb <= 1024 * MiB,
      "bytes-per-store must stay in the measured 100 MB-1 GB band")
    // monotone in state size, clamped at the backstop
    val pts = Seq(0L, 50 * MiB, 1024 * MiB, 100 * 1024 * MiB, TB, 1000 * TB)
      .map(SamsaStream.autoStatePartitions)
    assert(pts == pts.sorted, s"must be monotone: $pts")
    assert(SamsaStream.autoStatePartitions(Long.MaxValue)
      == SamsaStream.maxStatePartitions)
  }

  test("configure(spark, stateBytes) wires the auto knob as the default (r19)") {
    val s = SamsaStream(Seq("t"), "g", "tbl")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      s.configure(spark, 50L * 1024 * 1024)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
      s.configure(spark, 2L * 1024 * 1024 * 1024)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "16")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("store dispatch selects provider class (R9/R24)") {
    assert(StoreType.RocksDB.providerClass.contains("RocksDBStateStoreProvider"))
    assert(StoreType.Default.providerClass.contains("HDFSBackedStateStoreProvider"))
    val s = SamsaStream(Seq("t"), "g", "tbl", store = StoreType.RocksDB)
    s.configure(spark)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      == classOf[graft.io.CheckpointFiles].getName)
  }
}
