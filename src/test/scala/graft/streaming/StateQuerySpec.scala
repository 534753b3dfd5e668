package graft.streaming

import graft.{LogCapture, SparkSpec}
import graft.api.{SamsaStream, StateStores, StoreType}
import graft.api.StateStores.rec
import org.apache.spark.BroadcastBlocks
import org.apache.spark.sql.execution.datasources.v2.state.DriverStateScan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** R5 parity: samsa's `query(key)` point lookup
  * (/root/reference/samsa/kafka/storage.py:208-219) from OUTSIDE the
  * stream, via the Spark 4 state data source over the checkpoint.
  */
class StateQuerySpec extends SparkSpec {

  test("statestore source reads live upsert state from checkpoint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt-statequery").toString
    val input = MemoryStream[KeyedRecord]
    def rec(k: String, v: String, t: Long) =
      KeyedRecord(k, v, "nodes.status", 0, new Timestamp(t))

    val q = StatefulStore.upsert(input.toDS()).toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    input.addData(Seq(rec("n1", "up", 1000), rec("n2", "up", 1001)))
    q.processAllAvailable()
    input.addData(Seq(rec("n1", "down", 2000)))
    q.processAllAvailable()
    q.stop()

    // transformWithState state: named state variable "value"
    val state = spark.read.format("statestore")
      .option("path", ckpt)
      .option("stateVarName", "value")
      .load()
    val kv = state
      .select(col("key.value").as("k"), col("value.value").as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv == Map("n1" -> "down", "n2" -> "up"), kv.toString)
  }

  private val plain = (0 until 60).map(i => s"k$i")
  private val odd = Seq("", " ", "\t \n", "ключ", "日本語キー", "emoji 🎉",
    "e\u0301", "ａ")
  private val tombstoned = plain.filter(_.endsWith("3")) ++ Seq("ключ", " ")
  private val updated = plain.filter(_.endsWith("7")) :+ ""
  private val absent = Seq("absent", "k60", " k1", "k1 ", "不在", "ключи", "  ")

  /** One batch writing every key, then one that tombstones some and
    * overwrites others. */
  private val batches = Seq(
    (plain ++ odd).zipWithIndex.map { case (k, i) => rec(k, s"v1-$k", 1000L + i) },
    tombstoned.map(rec(_, null, 5000)) ++ updated.map(k => rec(k, s"v2-$k", 5001)))

  private val stored = (plain ++ odd).filterNot(tombstoned.contains).toSet

  for (store <- Seq(StoreType.RocksDB, StoreType.Default); k <- Seq(1, 3, 8))
    test(s"point lookup equals the full-scan lookup: $store, K=$k") {
      val (stream, ckpt) = StateStores.build(spark, store, k, batches)
      val full = StateStores.fullScan(spark, store, ckpt)
      assert(full.keySet == stored)
      assert(updated.forall(u => full(u)._1 == s"v2-$u"))
      full.foreach { case (key, (_, pid)) =>
        assert(SamsaStream.partitionOf(key, k) == pid, s"key '$key'")
      }
      val keys = plain.filter(_.endsWith("1")) ++ odd ++ tombstoned ++ updated ++ absent
      val warns = LogCapture("graft.api.SamsaStream") {
        keys.foreach { key =>
          assert(stream.query(spark, ckpt, key) == full.get(key).map(_._1), s"key '$key'")
        }
      }
      assert(warns.isEmpty, warns.toString)
    }

  test("the partition guards reject a wrong partition count or a gap") {
    val (_, ckpt) = StateStores.build(spark, StoreType.RocksDB, 3, batches)
    val full = StateStores.fullScan(spark, StoreType.RocksDB, ckpt)
    assert(full.forall { case (key, (_, p)) => SamsaStream.confirms(key, p, 3) })
    for (wrong <- Seq(1, 2, 4, 6, 8))
      assert(!full.forall { case (key, (_, p)) => SamsaStream.confirms(key, p, wrong) }, s"n=$wrong")
    val firstKeys = (0 until 3).map { p =>
      DriverStateScan(StatefulStore.readState(spark, ckpt)).lookup(p, "", "key.value")._1.get.head
    }
    assert(firstKeys.zipWithIndex.forall { case (key, p) => SamsaStream.confirms(key, p, 3) })

    assert(SamsaStream.contiguous(Seq(0)))
    assert(SamsaStream.contiguous(Seq(2, 0, 1)))
    assert(!SamsaStream.contiguous(Nil))
    assert(!SamsaStream.contiguous(Seq(1, 2)))
    assert(!SamsaStream.contiguous(Seq(0, 2)))
    assert(!SamsaStream.contiguous(Seq(0, 1, 1)))
  }

  private def swap(a: Path, b: Path): Unit = {
    val tmp = a.resolveSibling("swap")
    Files.move(a, tmp)
    Files.move(b, a)
    Files.move(tmp, b)
  }

  for (store <- Seq(StoreType.RocksDB, StoreType.Default))
    test(s"a checkpoint partitioned another way falls back to the full scan, loudly: $store") {
      val (stream, ckpt) = StateStores.build(spark, store, 3, batches)
      val full = StateStores.fullScan(spark, store, ckpt)
      // partition 0's directory also holds the Default store's schema
      val parts = Paths.get(ckpt, "state", "0")
      swap(parts.resolve("1"), parts.resolve("2"))
      val key = full.keys.toSeq.sorted.find(SamsaStream.partitionOf(_, 3) == 1).get
      var got: Option[String] = None
      val warns = LogCapture("graft.api.SamsaStream") {
        got = stream.query(spark, ckpt, key)
      }
      assert(got == Some(full(key)._1))
      assert(warns.size == 1 && warns.head._2.contains(ckpt), warns.toString)
    }

  /** Every file and directory under `dir`: its relative name, size and
    * mtime. A file written and deleted again still moves its directory's
    * mtime. */
  private def listing(dir: String): Map[String, (Long, java.nio.file.attribute.FileTime)] = {
    val root = Paths.get(dir)
    val files = Files.walk(root)
    try files.iterator().asScala
      .map(f => root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f))).toMap
    finally files.close()
  }

  for (store <- Seq(StoreType.RocksDB, StoreType.Default))
    test(s"twenty lookups leave the checkpoint unchanged: $store") {
      val (stream, ckpt) = StateStores.build(spark, store, 3, batches)
      val before = listing(ckpt)
      assert(before.keys.exists(_.startsWith("state")), before.keys)
      (0 until 20).foreach(i => assert(stream.query(spark, ckpt, s"k$i").isDefined == stored(s"k$i")))
      val after = listing(ckpt)
      val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
      assert(changed.isEmpty, changed)
    }

  test("twenty lookups leave no broadcast block on the driver") {
    val (stream, ckpt) = StateStores.build(spark, StoreType.RocksDB, 3, batches)
    val sc = spark.sparkContext
    val before = BroadcastBlocks(sc)
    (0 until 20).foreach(i => assert(stream.query(spark, ckpt, s"k$i").isDefined == stored(s"k$i")))
    // Broadcast.destroy removes the blocks asynchronously
    eventually(timeout(30.seconds), interval(100.millis)) {
      val left = BroadcastBlocks(sc) -- before
      assert(left.isEmpty, left)
    }
  }
}
