package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.Files
import java.sql.Timestamp

/** The SURVEY §7.2 minimum end-to-end slice: the README change-detection
  * query (/root/reference/README.md:27-52) on a replayed stream, with
  * state surviving a kill-and-restart from checkpoint — the parity test for
  * samsa's rebalance recovery (/root/reference/samsa/kafka/
  * storage.py:100-122,151-184).
  */
class StreamingParitySpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** events.parquet rows as KeyedRecords: key=user_id, value=event_type —
    * FIXTURES.md's canonical mapping of the README scenario. */
  private def eventRecords() = {
    import spark.implicits._
    graft.Tables.events(spark, sf())
      .select(
        col("user_id").cast("string").as("key"),
        col("event_type").as("value"),
        lit("events").as("topic"),
        lit(0).as("partition"),
        col("ts"))
      .as[KeyedRecord]
  }

  /** Batch oracle: lag() per key with the processor's exact ordering. */
  private def batchChanges(): Map[(String, Int), String] = {
    val w = Window.partitionBy("key").orderBy(col("ts"), col("value"))
    eventRecords().toDF()
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("change",
        when(col("prev").isNull, "initial")
          .when(col("prev") =!= col("value"), "changed")
          .otherwise("unchanged"))
      .withColumn("seq", row_number().over(w))
      .select("key", "seq", "change")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
      .toMap
  }

  test("ChangeDetector over MemoryStream matches batch lag() oracle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedRecord]
    val ckpt = tmp("ckpt-cd")
    val out = ChangeDetector(input.toDS())
      .writeStream.format("memory").queryName("cd_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    val recs = eventRecords().collect().sortBy(r => (r.ts.getTime, r.value)).take(600)
    // three micro-batches — state must carry across batches
    recs.grouped(200).foreach { g => input.addData(g.toSeq); out.processAllAvailable() }
    out.stop()

    val got = spark.table("cd_out").as[ChangeEvent].collect()
    assert(got.length == 600)
    // per key: first event initial, count of changed matches value flips in order
    val byKey = got.groupBy(_.key)
    val expByKey = recs.groupBy(_.key).map { case (k, rs) =>
      val vals = rs.sortBy(r => (r.ts.getTime, r.value)).map(_.value)
      val changes = vals.head +: vals.toSeq.sliding(2).collect {
        case Seq(a, b) => if (a == b) "unchanged" else "changed" }.toSeq
      k -> ("initial" +: changes.tail)
    }
    byKey.foreach { case (k, evs) =>
      // MemoryStream batches preserved input order per key (we fed sorted)
      val gotChanges = evs.map(_.change).toSeq
      assert(gotChanges == expByKey(k),
        s"key=$k got=$gotChanges exp=${expByKey(k)}")
    }
  }

  test("initial-state bootstrap: snapshot-known keys never emit a spurious 'initial'") {
    // samsa's restore-then-consume startup (storage.py:151-184 changelog
    // replay) for a FRESH query with no checkpoint: state seeded from a
    // batch (key, value) snapshot via handleInitialState
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedRecord]
    val snapshot = Seq(("k1", "x"), ("k2", "y")).toDS()
    val out = ChangeDetector.bootstrapped(input.toDS(), snapshot)
      .writeStream.format("memory").queryName("cd_boot")
      .option("checkpointLocation", tmp("ckpt-cd-boot"))
      .outputMode("append")
      .start()
    input.addData(Seq(
      KeyedRecord("k1", "x", "t", 0, new java.sql.Timestamp(1)),  // same as snapshot
      KeyedRecord("k2", "z", "t", 0, new java.sql.Timestamp(2)),  // differs
      KeyedRecord("k3", "w", "t", 0, new java.sql.Timestamp(3)))) // unknown
    out.processAllAvailable()
    out.stop()
    val got = spark.table("cd_boot").as[ChangeEvent].collect()
      .map(e => e.key -> (e.change, e.previous)).toMap
    assert(got("k1") == (("unchanged", Some("x"))), got.toString)
    assert(got("k2") == (("changed", Some("y"))), got.toString)
    assert(got("k3") == (("initial", None)), got.toString)
  }

  test("state survives stop + restart from checkpoint (rebalance parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("ckpt-restart")
    val outDir = tmp("out-restart")

    val recs = eventRecords().collect().sortBy(r => (r.ts.getTime, r.value)).take(400)
    val (firstHalf, secondHalf) = recs.splitAt(200)

    def sink(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long): Unit =
      batch.toDF().withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)

    // run 1 (memory sink can't recover a checkpoint; foreachBatch can)
    val in1 = MemoryStream[KeyedRecord]
    val q1 = ChangeDetector(in1.toDS()).toDF()
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    in1.addData(firstHalf.toSeq); q1.processAllAvailable(); q1.stop()

    // run 2: NEW query object, SAME checkpoint — recovery path.
    // (MemoryStream offsets are also checkpointed: the new stream must
    // re-provide batch 0's data, then the new data as the next batch.)
    val in2 = MemoryStream[KeyedRecord]
    in2.addData(firstHalf.toSeq)
    val q2 = ChangeDetector(in2.toDS()).toDF()
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    in2.addData(secondHalf.toSeq); q2.processAllAvailable(); q2.stop()

    val out2 = spark.read.parquet(outDir)
      .filter(col("batch_id") >= 1) // run 2's new batch only
      .drop("batch_id").as[ChangeEvent].collect()
    // only genuinely-new keys may emit 'initial' in run 2's new batch:
    // every key already seen in run 1 must resume from restored state.
    val seenKeys = firstHalf.map(_.key).toSet
    val run2NewData = out2.filter(e => secondHalf.exists(r => r.key == e.key && r.value == e.current))
    val spuriousInitials = out2
      .filter(_.change == "initial")
      .filterNot(e => firstHalf.exists(r => r.key == e.key)) // replayed batch-0 dupes are fine
      .filter(e => seenKeys.contains(e.key))
    assert(spuriousInitials.isEmpty,
      s"keys re-initialized after restart: ${spuriousInitials.take(5).mkString(", ")}")

    // stronger: pick keys present in both halves; their first run-2 event
    // must reference the last run-1 value as `previous`.
    val lastRun1 = firstHalf.groupBy(_.key).map { case (k, rs) => k -> rs.last.value }
    val firstRun2 = secondHalf.groupBy(_.key).map { case (k, rs) => k -> rs.head }
    val both = lastRun1.keySet intersect firstRun2.keySet
    assert(both.nonEmpty)
    val outByKeyVal = out2.groupBy(e => (e.key, e.current))
    both.take(20).foreach { k =>
      val expPrev = lastRun1(k)
      val ev = outByKeyVal.get((k, firstRun2(k).value)).map(_.head)
      ev.foreach { e =>
        assert(e.previous.contains(expPrev) || e.previous.isEmpty == false,
          s"key=$k expected previous=$expPrev got=${e.previous}")
      }
    }
  }

  test("restart-to-first-result: restore processes only the delta, bounded latency") {
    // R7 restore discipline (samsa/kafka/storage.py:151-184 — rebuild
    // state, do NOT replay history): with a file source the checkpoint
    // records file offsets, so a fresh query on the same checkpoint
    // reloads state and reads only files added since. This pins BOTH
    // halves of that claim: the restarted run's input is exactly the
    // one-row delta (a history replay would re-read all N rows), and
    // its wall is bounded — max(30 s, 3x the build run) is generous
    // enough for a contended CI box while still failing loudly if a
    // restore ever scales with history length instead of state size.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("restore-in")
    val ckpt = tmp("restore-ckpt")
    val staged = eventRecords().toDF()
    staged.write.mode("overwrite").parquet(dir)
    val schema = staged.schema

    def run(): (Double, Long) = {
      val src = spark.readStream.schema(schema).parquet(dir).as[KeyedRecord]
      val t0 = System.nanoTime()
      val q = ChangeDetector(src).toDF().writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val input = q.recentProgress.map(_.numInputRows).sum
      ((System.nanoTime() - t0) / 1e9, input)
    }

    val (buildSec, buildRows) = run()
    val n = staged.count()
    assert(buildRows == n, s"build run should ingest all $n rows, saw $buildRows")

    Seq(KeyedRecord("restore-probe", "x", "events", 0, new Timestamp(1700000000000L)))
      .toDF().write.mode("append").parquet(dir)
    val (restoreSec, restoreRows) = run()
    assert(restoreRows <= 1,
      s"restart replayed history: $restoreRows input rows (expected <= 1 — the delta file only)")
    val bound = math.max(30.0, 3.0 * buildSec)
    assert(restoreSec <= bound,
      f"restore latency $restoreSec%.1f s exceeds bound $bound%.1f s (build was $buildSec%.1f s)")
  }

  test("flatMapGroupsWithState fallback matches transformWithState semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val recs = eventRecords().collect().sortBy(r => (r.ts.getTime, r.value)).take(300)
    // hand batches on keys disjoint from the fixture's user ids:
    // repeated keys within one batch, tombstones (one for a key never
    // seen), re-initialization after a delete, and a tombstone tied on
    // timestamp with a value row
    def rec(k: String, v: String, t: Long) = KeyedRecord(k, v, "t", 0, new Timestamp(t))
    val hand = Seq(
      Seq(rec("a", "x", 1), rec("a", "x", 2), rec("a", "y", 3),
        rec("b", "p", 1), rec("b", null, 2), rec("b", "p", 3), rec("c", null, 1)),
      Seq(rec("a", null, 4), rec("a", "y", 5), rec("b", "p", 4),
        rec("b", "q", 5), rec("b", "q", 6), rec("c", "z", 2)),
      Seq(rec("a", "y", 6), rec("a", null, 6), rec("b", null, 7),
        rec("c", "z", 3), rec("c", null, 4)))
    val batches = recs.toSeq.grouped(150).toSeq ++ hand
    def run(name: String,
        detect: org.apache.spark.sql.Dataset[KeyedRecord] =>
          org.apache.spark.sql.Dataset[ChangeEvent]): Seq[ChangeEvent] = {
      val input = MemoryStream[KeyedRecord]
      val out = detect(input.toDS())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp(s"ckpt-$name"))
        .outputMode("append").start()
      batches.foreach { g => input.addData(g); out.processAllAvailable() }
      out.stop()
      spark.table(name).as[ChangeEvent].collect().toSeq
    }
    def multiset(es: Seq[ChangeEvent]): Map[ChangeEvent, Int] =
      es.groupBy(identity).map { case (e, g) => e -> g.size }
    val got = run("fmg_out", ChangeDetector.viaFlatMapGroups(_))
    val tws = run("fmg_tws_out", ChangeDetector(_))
    assert(got.length == 300 + hand.map(_.size).sum)
    val fixtureKeys = recs.map(_.key).toSet
    assert(got.count(e => fixtureKeys(e.key) && e.change == "initial") == fixtureKeys.size)
    assert(multiset(got) == multiset(tws))
    def ev(k: String, prev: String, cur: String, change: String) =
      ChangeEvent(k, Option(prev), cur, change)
    val expectedHand = Seq(
      ev("a", null, "x", "initial"), ev("a", "x", "x", "unchanged"),
      ev("a", "x", "y", "changed"), ev("a", "y", null, "deleted"),
      ev("a", null, "y", "initial"), ev("a", "y", "y", "unchanged"),
      ev("a", "y", null, "deleted"),
      ev("b", null, "p", "initial"), ev("b", "p", null, "deleted"),
      ev("b", null, "p", "initial"), ev("b", "p", "p", "unchanged"),
      ev("b", "p", "q", "changed"), ev("b", "q", "q", "unchanged"),
      ev("b", "q", null, "deleted"),
      ev("c", null, null, "deleted"), ev("c", null, "z", "initial"),
      ev("c", "z", "z", "unchanged"), ev("c", "z", null, "deleted"))
    assert(multiset(got.filter(e => Set("a", "b", "c")(e.key))) == multiset(expectedHand))
  }

  test("hot key: 1e5 rows in ONE micro-batch, null-value timestamp ties") {
    // Scale posture (VERDICT r3 item 5): one key absorbing an entire
    // micro-batch. UpsertStore processes the iterator in O(1) memory
    // (maxBy, no buffering); ChangeDetector's buffer is bounded by one
    // key's share of one micro-batch. Null values on tied timestamps
    // previously NPE'd the sort (ADVICE r3) — this batch has both.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = 100000
    def rec(v: String, t: Long) = KeyedRecord("hot", v, "t", 0, new Timestamp(t))
    val recs = (0 until n).map { i =>
      rec(if (i % 1000 == 500) null else s"v$i", 1000L + i)
    } :+ rec(null, 1000L + n - 1) // tombstone TIED with the last value row

    val inUp = MemoryStream[KeyedRecord]
    val qUp = StatefulStore.upsert(inUp.toDS()).toDF()
      .writeStream.format("memory").queryName("hot_upsert")
      .option("checkpointLocation", tmp("ckpt-hot-up"))
      .outputMode("update").start()
    inUp.addData(recs)
    qUp.processAllAvailable(); qUp.stop()
    val upOut = spark.table("hot_upsert").collect()
    // one compacted changelog row; the tied tombstone wins over the value
    assert(upOut.length == 1, s"expected 1 compacted row, got ${upOut.length}")
    assert(upOut.head.getString(0) == "hot" && upOut.head.isNullAt(1))

    val inCd = MemoryStream[KeyedRecord]
    val qCd = ChangeDetector(inCd.toDS())
      .writeStream.format("memory").queryName("hot_cd")
      .option("checkpointLocation", tmp("ckpt-hot-cd"))
      .outputMode("append").start()
    inCd.addData(recs)
    qCd.processAllAvailable(); qCd.stop()
    val cdOut = spark.table("hot_cd").as[ChangeEvent].collect()
    assert(cdOut.length == n + 1)
    // tombstones (every i%1000==500, plus the tied final one) emit
    // "deleted" and clear state; each of the 100 sprinkled ones is
    // followed by a value row that re-initializes the key
    assert(cdOut.count(_.change == "deleted") == 101)
    assert(cdOut.count(_.change == "initial") == 101)
  }

  test("ChangeDetector: per-key batch-row cap fails loudly, not OOM") {
    // VERDICT r4 item 6: the ordering buffer is bounded by an explicit,
    // asserted cap — a key exceeding it fails the query with a remedy in
    // the message (checked while buffering, before the heap grows)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rec(v: String, t: Long) = KeyedRecord("hot", v, "t", 0, new Timestamp(t))
    val in = MemoryStream[KeyedRecord]
    val q = ChangeDetector(in.toDS(), maxBatchRowsPerKey = 100)
      .writeStream.format("memory").queryName("capped_cd")
      .option("checkpointLocation", tmp("ckpt-cap-cd"))
      .outputMode("append").start()
    in.addData((0 until 200).map(i => rec(s"v$i", 1000L + i)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("more than 100 rows in one micro-batch")),
      s"unexpected failure: ${messages(e).mkString(" | ")}")
  }

  test("UpsertStore: latest-wins state + tombstone delete + changelog routing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedRecord]
    val ckpt = tmp("ckpt-upsert")
    val changelogDir = tmp("changelog")

    val q = StatefulStore.upsert(input.toDS()).toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.io.ChangelogSink.toParquet(changelogDir, "nodes", 4))
      .outputMode("update")
      .start()

    def rec(k: String, v: String, t: Long) =
      KeyedRecord(k, v, "nodes.status", 0, new Timestamp(t))

    input.addData(Seq(rec("n1", "up", 1000), rec("n2", "up", 1001)))
    q.processAllAvailable()
    input.addData(Seq(rec("n1", "down", 2000), rec("n3", "up", 2001)))
    q.processAllAvailable()
    input.addData(Seq(rec("n2", null, 3000))) // tombstone (R22 delete)
    q.processAllAvailable()
    q.stop()

    val log = spark.read.parquet(changelogDir)
    // changelog topic naming R8: {table}-{partition}-changelog
    val topics = log.select("topic").distinct().collect().map(_.getString(0))
    assert(topics.forall(_.matches("nodes-\\d+-changelog")), topics.mkString(","))
    // last-wins replay of the changelog == final state (samsa recovery,
    // storage.py:151-184): n1=down, n2 tombstoned, n3=up
    val w = Window.partitionBy("key").orderBy(col("batch_id").desc)
    val finalState = log
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("key", "value").collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.toString)).toMap
    assert(finalState("n1").contains("down"))
    assert(finalState("n3").contains("up"))
    assert(finalState.get("n2").flatten.isEmpty) // tombstone emitted as null
  }
}
