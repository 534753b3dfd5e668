package graft.api

import graft.streaming.{KeyedRecord, StatefulStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.nio.file.Files
import java.sql.Timestamp

/** Checkpointed latest-wins stores for the lookup tests, and the lookup
  * every point lookup must agree with: a scan of every partition. */
object StateStores {

  def rec(k: String, v: String, t: Long): KeyedRecord =
    KeyedRecord(k, v, "nodes.status", 0, new Timestamp(t))

  /** Runs `batches` through `materialize` on `store` with `partitions`
    * state partitions; returns the stream and its checkpoint. The
    * session's provider and partition settings are restored after. */
  def build(spark: SparkSession, store: StoreType, partitions: Int,
      batches: Seq[Seq[KeyedRecord]]): (SamsaStream, String) = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = SamsaStream(Seq("nodes.status"), "g", "nodes", store = store)
    val keys = Seq("spark.sql.streaming.stateStore.providerClass", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    val ckpt = Files.createTempDirectory(s"ckpt-$store-$partitions").toString
    try {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      stream.configure(spark)
      val input = MemoryStream[KeyedRecord]
      val q = stream.materialize(stream.recordsFrom(input.toDF())).toDF()
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt).start()
      try batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      (stream, ckpt)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Every stored key with its value and `partition_id`, from the
    * `statestore` source scanning all partitions. */
  def fullScan(spark: SparkSession, store: StoreType, ckpt: String): Map[String, (String, Int)] = {
    val (state, value) = store match {
      case StoreType.RocksDB => (StatefulStore.readState(spark, ckpt), "value.value")
      case StoreType.Default =>
        (spark.read.format("statestore").option("path", ckpt).load(), "value.groupState.value")
    }
    state.select(col("key.value"), col(value), col("partition_id")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
  }
}
