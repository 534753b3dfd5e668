package graft.examples

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming scale curve + RESTORE-latency measurement (r17, VERDICT
  * r16 item 2). Batch operators have a 1x -> 1000x curve in SCALE.md;
  * this main gives the streaming side the same discipline:
  *
  *   - THROUGHPUT at 1x/10x/100x event volume for the three biggest
  *     state trackers — ChangeDetector (the samsa-parity headline),
  *     SessionStatsTracker (event-time sessions + timers),
  *     TopKTracker (sketch + heap per shard) — plus IngestDedup's
  *     persisted-index path over a replicated document stream.
  *   - STATE GROWTH: provider-reported state rows and the on-disk
  *     checkpoint footprint per operator per volume.
  *   - RESTORE LATENCY: the reference's core operational metric — its
  *     changelog replay (samsa/kafka/storage.py:151-184) exists to
  *     rebuild state after a restart. Here: build a checkpoint, start
  *     a FRESH query on the same checkpoint with one tiny new input
  *     file, and time start-to-termination — state reload + one-row
  *     batch, the restart-to-first-result figure an operator cares
  *     about.
  *   - PROVIDER A/B: pass `hdfs` to run the default HDFSBackedStateStore
  *     instead of RocksDB.
  *
  * Usage: runMain graft.examples.StreamScale [factor] [rocksdb|hdfs]
  * (events table from SPARK_GRAFT_SF_DIR, default sf0.01; one
  * [streamscale-json] line per run — sweep factor externally.)
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 1
    val provider = if (args.length > 1) args(1) else "rocksdb"
    val cpus = graft.Session.cpus
    // arg 3: shuffle-partition count — in Structured Streaming this IS
    // the state-store partition count (each shuffle partition owns one
    // store instance), so sweeping it measures restore/snapshot
    // parallelism (r18, VERDICT item 3). "auto" (r19, item 4) resolves
    // it AFTER the event frame is known, via
    // SamsaStream.autoStatePartitions over estimated state bytes.
    val partArg = if (args.length > 2) args(2) else cpus.toString
    val initialPartitions = partArg.toIntOption.getOrElse(cpus)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val b = graft.Session.builder()
      .config("spark.sql.shuffle.partitions", initialPartitions)
    if (provider == "rocksdb")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tmp = Files.createTempDirectory(s"streamscale-$factor").toString

    // events replicated x factor with DISJOINT key spaces per replica —
    // state growth must track true key count, not re-hit the same keys
    val ev0 = graft.Tables.events(spark, sfDir)
    val ev = ev0.crossJoin(
        spark.range(factor.toLong).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * lit(10000000L)).cast("string").as("key"),
        col("event_type").as("value"),
        lit("bench").as("topic"), lit(0).as("partition"),
        // SessionStats' event-time watermark requires TIMESTAMP (the
        // fixture reads as NTZ under nanosAsLong)
        col("ts").cast("timestamp").as("ts"))
    val nEvents = ev.count()
    // "auto": estimate state bytes = distinct keys × the measured
    // change-detector checkpoint cost (~900 B/key at the 100M-event
    // decade: 1.31 GiB / 1.5M rows, SCALE.md r18) and let the knob law
    // pick the store count. Runtime-settable — resolved before any
    // query starts, which is when the count is frozen into the
    // checkpoint.
    val shufflePartitions = partArg match {
      case "auto" =>
        val nKeys = ev.select("key").distinct().count()
        val p = graft.api.SamsaStream.autoStatePartitions(nKeys * 900L)
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        println(s"[streamscale] auto state partitions: keys=$nKeys " +
          s"estBytes=${nKeys * 900L} -> p=$p")
        p
      case s => s.toInt
    }
    // Stage ~125k-row files and trigger 4 files per micro-batch: an
    // unbounded AvailableNow batch at factor 100 put the WHOLE 10M-event
    // replay in ONE micro-batch and (correctly) tripped the per-key
    // batch-row cap on TopK's hottest shard — the loud-failure guard
    // from r4 doing its job. Bounding the trigger is also the
    // production-realistic replay shape (a backfilled Kafka source
    // paces by maxOffsetsPerTrigger the same way).
    val nFiles = math.max(32L, nEvents / 125000L).toInt
    ev.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
    val schema = ev.schema

    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!Files.exists(root)) return 0L
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_: Path))
        .mapToLong(Files.size(_: Path)).sum()
      finally st.close()
    }

    var lastRows = -1L

    /** Run `pipe` over the staged input to completion; returns
      * (wallSec, stateRows, ckptBytes, restoreSec). */
    def measure(name: String)(
        pipe: org.apache.spark.sql.Dataset[graft.streaming.KeyedRecord] => DataFrame)
        : (Double, Long, Long, Double) = {
      val ckpt = s"$tmp/ckpt-$name"
      def run(): Double = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 4)
          .parquet(s"$tmp/in")
          .as[graft.streaming.KeyedRecord]
        val t0 = System.nanoTime()
        val q = pipe(src).writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        val rows = q.recentProgress.reverse
          .find(_.stateOperators.nonEmpty)
          .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
        lastRows = rows
        dt
      }
      val buildSec = run()
      val rows = lastRows
      val ckptBytes = dirBytes(ckpt)
      // per-partition state snapshot sizes (<ckpt>/state/0/<pid>/...):
      // each shuffle partition owns one store — the distribution shows
      // whether restore work parallelizes or one partition dominates
      val partDir = java.nio.file.Paths.get(ckpt, "state", "0")
      val partSizes: Array[Long] =
        if (Files.exists(partDir)) {
          val st = Files.list(partDir)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.filter(Files.isDirectory(_: Path))
              .map(p => dirBytes(p.toString)).toArray.sorted
          } finally st.close()
        } else Array.empty[Long]
      if (partSizes.nonEmpty)
        println(f"[streamscale] $name: ${partSizes.length} state " +
          f"partitions, per-partition KiB min/median/max " +
          f"${partSizes.head / 1024}/" +
          f"${partSizes(partSizes.length / 2) / 1024}/" +
          f"${partSizes.last / 1024}")
      // restore: one new tiny file, FRESH query on the same checkpoint —
      // wall = state reload + a one-row batch
      Seq(("restore-probe", "x", "bench", 0,
          new java.sql.Timestamp(1700000000000L)))
        .toDF("key", "value", "topic", "partition", "ts")
        .write.mode("append").parquet(s"$tmp/in")
      val restoreSec = run()
      println(f"[streamscale] $name: build $buildSec%.2f s " +
        f"(${nEvents / buildSec}%.0f ev/s), state rows $rows, " +
        f"ckpt ${ckptBytes / 1024}%d KiB, restore $restoreSec%.2f s")
      (buildSec, rows, ckptBytes, restoreSec)
    }

    def measureAll(): Unit = {
      // Provider A/B caveat, measured not assumed: transformWithState
      // REQUIRES RocksDB (HDFSBackedStateStoreProvider throws
      // STATE_STORE_MULTIPLE_COLUMN_FAMILIES — column families are a
      // RocksDB feature). So the hdfs arm runs ChangeDetector through
      // its flatMapGroupsWithState FALLBACK (identical semantics,
      // StreamingParitySpec-pinned) and structurally skips the
      // transformWithState-only trackers; IngestDedup has no state
      // store and runs in both arms.
      val (cdSec, cdRows, cdBytes, cdRestore) = measure("change") { src =>
        if (provider == "hdfs") graft.streaming.ChangeDetector.viaFlatMapGroups(src).toDF()
        else graft.streaming.ChangeDetector(src).toDF()
      }
      val (ssSec, ssRows, ssBytes, ssRestore) =
        if (provider == "hdfs") {
          println("[streamscale] session/topk: SKIPPED on hdfs provider " +
            "(transformWithState needs RocksDB column families)")
          (-1.0, -1L, -1L, -1.0)
        } else measure("session") { src =>
          graft.streaming.SessionStatsTracker(
            src.withWatermark("ts", "10 minutes"), gapMs = 30L * 60 * 1000).toDF()
        }
      val (tkSec, tkRows, tkBytes, tkRestore) =
        if (provider == "hdfs") (-1.0, -1L, -1L, -1.0)
        else measure("topk") { src =>
          graft.streaming.TopKTracker(
            src.map(r => r.copy(key = math.floorMod(
              if (r.value == null) 0 else r.value.hashCode, 16).toString)),
            k = 10).toDF()
        }

      // IngestDedup: replicated documents (suffix-tagged so replicas are
      // genuinely new docs), 4 micro-batches against the growing store
      val docs = graft.Tables.documents(spark, sfDir)
        .crossJoin(spark.range(math.max(factor / 10, 1).toLong).toDF("rep"))
        .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
          concat(col("text"), lit(" r"), col("rep")).as("text"))
      val nDocs = docs.count()
      val store = s"$tmp/ingest-store"
      val t0 = System.nanoTime()
      (0 until 4).foreach { i =>
        graft.streaming.IngestDedup.ingestStep(
          spark, store, docs.filter(col("doc_id") % 4 === i),
          batchId = Some(i.toLong))
      }
      val idSec = (System.nanoTime() - t0) / 1e9
      val (sigRows, hashRows) =
        graft.streaming.IngestDedup.stateRows(spark, store)
      val t1 = System.nanoTime()
      graft.streaming.IngestDedup.ingestStep(spark, store,
        docs.filter(col("doc_id") === -1), batchId = Some(4L)) // empty batch
      val idRestore = (System.nanoTime() - t1) / 1e9
      println(f"[streamscale] ingestdedup: $nDocs docs in $idSec%.2f s " +
        f"(${nDocs / idSec}%.0f docs/s), sig rows $sigRows, " +
        f"empty-batch turnaround $idRestore%.2f s")

      // Skipped operators emit {"skipped":true}, never negative
      // sentinels — a sec:-1.00 with eps = nEvents/-1 parses as a real
      // (absurd) measurement downstream (r18, ADVICE fix).
      def opJson(sec: Double, rows: Long, bytes: Long, restore: Double)
          : String =
        if (sec < 0) """{"skipped":true}"""
        else f"""{"sec":$sec%.2f,"eps":${nEvents / sec}%.0f,"rows":$rows,"ckptKiB":${bytes / 1024},"restoreSec":$restore%.2f}"""
      println(
        f"""[streamscale-json] {"factor":$factor,"provider":"$provider","shufflePartitions":$shufflePartitions,"events":$nEvents,""" +
        s""""change":${opJson(cdSec, cdRows, cdBytes, cdRestore)},""" +
        s""""session":${opJson(ssSec, ssRows, ssBytes, ssRestore)},""" +
        s""""topk":${opJson(tkSec, tkRows, tkBytes, tkRestore)},""" +
        f""""ingestdedup":{"docs":$nDocs,"sec":$idSec%.2f,"docsPerSec":${nDocs / idSec}%.0f,"sigRows":$sigRows,"hashRows":$hashRows,"emptyBatchSec":$idRestore%.2f}}""")
    }
    measureAll()
    spark.stop()
  }
}
