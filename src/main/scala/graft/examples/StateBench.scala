package graft.examples

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{KeyedRecord, StatefulStore}

/** Stateful-store scale measurement (VERDICT r4 item 8 + r10 item 7).
  *
  * samsa's `query(key)` is an O(1) get against the LIVE store inside the
  * consumer process (/root/reference/samsa/kafka/storage.py:208-219); the
  * engine's out-of-stream equivalent reads the checkpoint through the
  * state data source. This main builds a latest-wins upsert checkpoint
  * with N keys through the RocksDB provider and reports the quantified
  * version of SURVEY §7.4's per-key state budget:
  *   - build throughput (keys/s into an empty store)
  *   - update throughput (N/10 upserts against the fully-resident store —
  *     the steady-state figure, which is what degrades with key count)
  *   - RocksDB operator metrics from the query progress (rows, memory,
  *     SST file size) and the on-disk checkpoint footprint
  *   - full state scan + point-lookup latency via the state source
  * One [statebench-json] line per run; sweep nKeys externally for the
  * throughput-vs-key-count curve (SCALE.md "Stateful streaming").
  *
  * Usage: runMain graft.examples.StateBench [nKeys]
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val nKeys = if (args.nonEmpty) args(0).toInt else 1000000
    val spark = graft.Session.builder()
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tmp = Files.createTempDirectory("statebench").toString
    def mkRecs(ids: org.apache.spark.sql.DataFrame) = ids.select(
      concat(lit("k"), col("id")).as("key"),
      concat(lit("v"), col("id")).as("value"),
      lit("bench").as("topic"),
      lit(0).as("partition"),
      timestamp_seconds(lit(1700000000L) + col("id") % 86400).as("ts"))
    val recs = mkRecs(spark.range(nKeys.toLong).toDF("id"))
    recs.write.mode("overwrite").parquet(s"$tmp/in")

    def timed[T](what: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[statebench] $what: $dt%.3f s")
      (r, dt)
    }

    def runToCompletion(): org.apache.spark.sql.streaming.StreamingQueryProgress = {
      val src = spark.readStream.schema(recs.schema)
        .parquet(s"$tmp/in").as[KeyedRecord]
      val q = StatefulStore.upsert(src).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty).orNull
    }

    def stateMetrics(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
        : (Long, Long, Long) =
      if (p == null) (-1L, -1L, -1L)
      else {
        val so = p.stateOperators(0)
        def cm(k: String): Long =
          Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(-1L)
        // memoryUsedBytes is the provider-reported store memory; this
        // Spark build's RocksDB custom metrics carry no total-memory
        // gauge, so pair it with the SST footprint
        (so.numRowsTotal, so.memoryUsedBytes, cm("rocksdbSstFileSize"))
      }

    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!Files.exists(root)) return 0L
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_: Path))
        .mapToLong(Files.size(_: Path)).sum()
      finally st.close()
    }

    val (buildProg, buildSec) = timed(s"build checkpoint ($nKeys keys)") {
      runToCompletion()
    }
    val (rows1, mem1, sst1) = stateMetrics(buildProg)
    val ckptBytes = dirBytes(s"$tmp/ckpt")
    println(s"[statebench] state rows=$rows1 stateMem=$mem1 sst=$sst1 " +
      s"ckptOnDisk=$ckptBytes")

    // steady-state update pass: N/10 upserts with all N keys resident —
    // the figure that exposes per-key-count degradation (writes before
    // the clock starts; the timed part is purely the streaming pass)
    val nUpd = math.max(nKeys / 10, 1)
    mkRecs(spark.range(nUpd.toLong).toDF("id"))
      .withColumn("value", concat(lit("v2_"), col("key")))
      .write.mode("append").parquet(s"$tmp/in")
    val (updProg, updSec) = timed(s"update pass ($nUpd upserts, $nKeys resident)") {
      runToCompletion()
    }
    val (rows2, mem2, sst2) = stateMetrics(updProg)
    require(rows2 == nKeys.toLong || rows2 == -1L,
      s"update pass changed key count: $rows2 != $nKeys")

    val (n, scanSec) = timed("full scan (count, cold)") {
      StatefulStore.readState(spark, s"$tmp/ckpt").count()
    }
    require(n == nKeys, s"expected $nKeys state rows, got $n")

    // one warm read, then 5 timed point lookups on distinct keys
    StatefulStore.readState(spark, s"$tmp/ckpt")
      .filter(col("key.value") === "k0").collect()
    val lookups = (1 to 5).map { i =>
      val k = s"k${i.toLong * (nKeys / 7)}"
      val (rows, dt) = timed(s"point lookup $k") {
        StatefulStore.readState(spark, s"$tmp/ckpt")
          .filter(col("key.value") === k).collect()
      }
      require(rows.length == 1, s"lookup $k returned ${rows.length} rows")
      dt
    }
    val lookupAvg = lookups.sum / lookups.size
    println(f"[statebench] point lookup avg over 5: $lookupAvg%.3f s")
    println(f"""[statebench-json] {"nKeys":$nKeys,"buildSec":$buildSec%.3f,""" +
      f""""buildKeysPerSec":${nKeys / buildSec}%.0f,"updateSec":$updSec%.3f,""" +
      f""""updateKeysPerSec":${nUpd / updSec}%.0f,"stateRows":$rows1,""" +
      f""""stateMemBytes":$mem2,"sstBytes":$sst2,"ckptBytes":$ckptBytes,""" +
      f""""scanSec":$scanSec%.3f,"lookupAvgSec":$lookupAvg%.3f}""")
    spark.stop()
  }
}
