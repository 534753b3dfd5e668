package graft.api

import graft.SparkSpec
import graft.streaming.{KeyedRecord, StateEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.TTLConfig
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** `StoreType.Default` (the HDFS-backed provider, flatMapGroupsWithState)
  * and `StoreType.RocksDB` (transformWithState) run the same folds: the
  * same batches materialize the same changelog, and `query` reads the
  * same present, tombstoned and absent keys from either checkpoint. */
class DefaultStoreSpec extends SparkSpec {

  private def rec(k: String, v: String, t: Long) =
    KeyedRecord(k, v, "nodes.status", 0, new Timestamp(t))

  private val batches = Seq(
    Seq(rec("n1", "up", 1000), rec("n2", "up", 1001), rec("n3", "up", 1002)),
    Seq(rec("n1", "down", 2000), rec("n2", null, 2001)))

  private def materialize(store: StoreType): (Seq[Seq[StateEntry]], Map[String, Option[String]]) = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = SamsaStream(Seq("nodes.status"), "g", "nodes", store = store)
    val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    val ckpt = Files.createTempDirectory(s"ckpt-store-$store").toString
    val changelog = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StateEntry]]()
    val collect: (DataFrame, Long) => Unit =
      (df, _) => changelog.add(df.as[StateEntry].collect().toSeq.sortBy(_.key))
    try {
      stream.configure(spark)
      val input = MemoryStream[KeyedRecord]
      val q = stream.materialize(stream.recordsFrom(input.toDF())).toDF()
        .writeStream.foreachBatch(collect).outputMode("update")
        .option("checkpointLocation", ckpt).start()
      try batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      (changelog.asScala.toSeq,
        Seq("n1", "n2", "n3", "n4").map(k => k -> stream.query(spark, ckpt, k)).toMap)
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
  }

  test("both store types materialize the same batches and answer query alike") {
    val rocks = materialize(StoreType.RocksDB)
    val default = materialize(StoreType.Default)
    assert(default == rocks)
    assert(rocks._2 == Map("n1" -> Some("down"), "n2" -> None, "n3" -> Some("up"), "n4" -> None))
  }

  test("four lookups on a 4-partition Default store read one partition's files each") {
    val (stream, ckpt) = StateStores.build(spark, StoreType.Default, 4, batches)
    var got = Map.empty[String, Option[String]]
    val logged = graft.LogCapture("org.apache.spark.sql.execution.streaming") {
      got = Seq("n1", "n2", "n3", "n4").map(k => k -> stream.query(spark, ckpt, k)).toMap
    }
    assert(got == Map("n1" -> Some("down"), "n2" -> None, "n3" -> Some("up"), "n4" -> None))
    val noChecksum = logged.count(_._2.contains("No checksum file found"))
    assert(noChecksum <= 8, s"$noChecksum checksum WARNs, at most 8 (2 files of one partition, 4 lookups)")
  }

  test("a ttl on the Default store is rejected when the query is built") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = SamsaStream(Seq("t"), "g", "tbl", store = StoreType.Default,
      ttl = TTLConfig(java.time.Duration.ofMinutes(1)))
    val ds = stream.recordsFrom(MemoryStream[KeyedRecord].toDF())
    intercept[IllegalArgumentException](stream.materialize(ds))
    intercept[IllegalArgumentException](stream.detectChanges(ds))
  }
}
