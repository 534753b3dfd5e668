package graft.ext

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming deployment shape of incremental dedup: a document
  * stream runs per-micro-batch through the SAME batch operators the
  * oracle verifies — `bloomNewDocs` (exact-dup prefilter) then
  * `incrementalNearDups` (banded-MinHash vs the standing corpus) inside
  * `foreachBatch`. This is how a 100 TB ingest pipeline consumes the
  * library: streaming machinery for delivery/checkpointing, verified
  * batch operators for the logic.
  */
class StreamingIngestDedupSpec extends SparkSpec {

  test("foreachBatch ingest: bloom exact-prefilter + incremental LSH near-dups per micro-batch") {
    val docs = Tables.documents(spark, sf())
    val corpus = docs.filter(col("doc_id") % 2 === 0).cache()
    val incoming = docs.filter(col("doc_id") % 2 === 1)

    // expected, from the (oracle-verified) batch operators run directly
    val expectedPairs = Dedup.incrementalNearDups(corpus, incoming)
      .select("doc_corpus", "doc_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedNew = Dedup.bloomNewDocs(corpus, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // stream the incoming docs in, one file per micro-batch
    val tmp = Files.createTempDirectory("ingest-dedup").toString
    incoming.repartition(3).write.mode("overwrite").parquet(s"$tmp/in")
    val gotPairs = scala.collection.mutable.Set[(Long, Long)]()
    val gotNew = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        gotNew.synchronized {
          gotNew ++= Dedup.bloomNewDocs(corpus, batch)
            .select("doc_id").collect().map(_.getLong(0))
          gotPairs ++= Dedup.incrementalNearDups(corpus, batch)
            .select("doc_corpus", "doc_new").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // micro-batched union == one-shot batch answer (the operators are
    // per-doc independent, so batching boundaries cannot change results)
    assert(gotPairs.toSet == expectedPairs,
      s"streamed pairs ${gotPairs.size} vs batch ${expectedPairs.size}")
    assert(gotNew.toSet == expectedNew,
      s"streamed new-docs ${gotNew.size} vs batch ${expectedNew.size}")
    corpus.unpersist()
  }

  test("ingestStep: an empty micro-batch is a no-op on the store") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("ingest-empty").toString
    val seed = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    IngestDedup.ingestStep(spark, store, seed) // bootstrap
    val before = IngestDedup.stateRows(spark, store)
    val empty = seed.filter(col("doc_id") < 0)
    val r = IngestDedup.ingestStep(spark, store, empty)
    assert(r.pairs.count() == 0 && r.accepted.count() == 0)
    assert(IngestDedup.stateRows(spark, store) == before,
      "an empty batch must not grow the standing state")
  }

  test("ingestStep: at-least-once safety — idempotent replay, orphaned crash attempts invisible, compact/vacuum") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("ingest-atomic").toString
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    IngestDedup.ingestStep(spark, store, seed, batchId = Some(0L))
    val b1 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"), // near-dup of 1
      (4L, "completely different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
    val r1 = IngestDedup.ingestStep(spark, store, b1, batchId = Some(1L))
    val pairs1 = r1.pairs.select("doc_corpus", "doc_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val acc1 = r1.accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairs1 == Set((1L, 3L)) && acc1 == Set(4L), s"$pairs1 / $acc1")
    val afterB1 = IngestDedup.stateRows(spark, store)

    // REPLAY batch 1 (at-least-once): identical result, store unchanged
    val r1b = IngestDedup.ingestStep(spark, store, b1, batchId = Some(1L))
    assert(r1b.pairs.select("doc_corpus", "doc_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairs1)
    assert(r1b.accepted.select("doc_id").collect()
      .map(_.getLong(0)).toSet == acc1)
    assert(IngestDedup.stateRows(spark, store) == afterB1,
      "replaying a committed batch must not grow the store")

    // CRASHED ATTEMPT: a staged batch dir with no manifest entry must be
    // invisible to every reader (this is the crash-between-appends hole
    // the manifest closes)
    val orphan = s"$store/batches/99-deadbeef"
    val ghost = Seq((999L, "ghost doc from a crashed attempt never committed"))
      .toDF("doc_id", "text").repartition(1)
    ghost.write.parquet(s"$orphan/corpus")
    Dedup.bandSignatures(ghost).repartition(1).write.parquet(s"$orphan/sig")
    ghost.select(col("doc_id"), xxhash64(col("text")).as("h"))
      .write.parquet(s"$orphan/hash")
    assert(IngestDedup.stateRows(spark, store) == afterB1,
      "an uncommitted attempt must not be visible as standing state")
    val probe = Seq((5L, "ghost doc from a crashed attempt never committed"))
      .toDF("doc_id", "text")
    val r2 = IngestDedup.ingestStep(spark, store, probe, batchId = Some(2L))
    assert(r2.accepted.count() == 1,
      "a doc colliding only with an uncommitted orphan must be accepted")
    IngestDedup.vacuum(spark, store)
    assert(!new java.io.File(orphan).exists(), "vacuum must drop orphans")

    // COMPACT: state counts identical, dedup vs the folded index intact
    val beforeCompact = IngestDedup.stateRows(spark, store)
    IngestDedup.compact(spark, store)
    assert(IngestDedup.stateRows(spark, store) == beforeCompact,
      "compaction must preserve the standing state exactly")
    val dup = Seq((6L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text") // exact copy of seed doc 2
    val r3 = IngestDedup.ingestStep(spark, store, dup, batchId = Some(3L))
    assert(r3.accepted.count() == 0,
      "exact dup must still be caught after compaction")
  }

  test("FOURTEENTH pair: persisted-index ingest — replay parity, growing index, bounded state") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
    val corpus = docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text").localCheckpoint()
    val odds = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val b1 = odds.filter(col("doc_id") % 6 === 1).localCheckpoint()
    val b2 = odds.filter(col("doc_id") % 6 === 3).localCheckpoint()

    // batch-operator truth for the FIRST ingest step (replay parity
    // with the oracle-paired doc_incremental_neardups, composed with
    // the exact-hash prefilter the operator documents)
    val fresh1 = b1.join(
      corpus.select(xxhash64(col("text")).as("h")),
      xxhash64(col("text")) === col("h"), "left_anti")
    val expPairs1 = Dedup.incrementalNearDups(corpus, fresh1)
      .select("doc_corpus", "doc_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expAcc1 = fresh1.select("doc_id").collect().map(_.getLong(0)).toSet --
      expPairs1.map(_._2)

    // planted batch 3: a NEAR-dup of a batch-1 ACCEPTED doc (tail token
    // dropped — high 3-shingle overlap) and an EXACT copy of another.
    // Both must resolve against the GROWN index, not the seed corpus —
    // that is what makes this a streaming operator and not a replayed
    // batch. Pick accepted docs with long texts so the near-dup stays
    // over threshold.
    val accTexts = b1.filter(col("doc_id").isin(expAcc1.toSeq: _*))
      .filter(size(split(col("text"), "\\s+")) >= 30)
      .orderBy("doc_id").limit(2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(accTexts.length == 2, "fixture should offer two long accepted docs")
    val (nearSrcId, nearSrcText) = accTexts(0)
    val (exactSrcId, exactSrcText) = accTexts(1)
    val nearText = nearSrcText.split("\\s+").dropRight(1).mkString(" ")
    val b3 = Seq((9000001L, nearText), (9000002L, exactSrcText))
      .toDF("doc_id", "text")

    val tmp = java.nio.file.Files.createTempDirectory("ingest-14").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    // one flat FILE per micro-batch with strictly increasing mtimes:
    // FileStreamSource orders new files by (timestamp, path), so this +
    // maxFilesPerTrigger=1 pins batch order b0 -> b3
    def addFile(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val stage = java.nio.file.Files.createTempDirectory(s"stage$n").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val target = java.nio.file.Paths.get(s"$tmp/in/b$n.parquet")
      java.nio.file.Files.move(part.toPath, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
    }
    addFile(corpus, 0) // bootstrap batch
    addFile(b1, 1)
    addFile(b2, 2)
    addFile(b3, 3)

    val results = scala.collection.mutable.Map[Long, (Set[(Long, Long)], Set[Long])]()
    val stateCurve = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val r = IngestDedup.ingestStep(b.sparkSession, s"$tmp/store", b)
        results.synchronized {
          results(id) = (
            r.pairs.select("doc_corpus", "doc_new").collect()
              .map(x => (x.getLong(0), x.getLong(1))).toSet,
            r.accepted.select("doc_id").collect().map(_.getLong(0)).toSet)
          val (sigRows, hashRows) = IngestDedup.stateRows(b.sparkSession, s"$tmp/store")
          stateCurve += ((id, sigRows, hashRows))
        }
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(results.size == 4, s"expected 4 micro-batches, got ${results.keySet}")

    // micro-batch ids follow file order (b0..b3: one file per trigger)
    val ids = results.keys.toSeq.sorted
    val (p0, a0) = results(ids(0))
    assert(p0.isEmpty && a0 == corpus.collect().map(_.getLong(0)).toSet,
      "bootstrap batch must accept the whole seed corpus with no pairs")
    // REPLAY PARITY: step 1 == the batch composition exactly
    val (p1, a1) = results(ids(1))
    assert(p1 == expPairs1, s"step-1 pairs ${p1.size} vs batch ${expPairs1.size}")
    assert(a1 == expAcc1, s"step-1 accepted ${a1.size} vs batch ${expAcc1.size}")
    // GROWN INDEX: the planted near-dup pairs against the batch-1 doc
    // (odd, not in the seed corpus); the exact copy is silently dropped
    val (p3, a3) = results(ids(3))
    assert(p3.exists(p => p._1 == nearSrcId && p._2 == 9000001L),
      s"planted near-dup must hit the batch-1 accepted doc $nearSrcId: $p3")
    assert(!a3.contains(9000001L), "near-dup must be rejected")
    assert(!a3.contains(9000002L) &&
      !p3.exists(_._2 == 9000002L),
      "exact copy must be dropped by the hash index before LSH")
    // BOUNDED STATE across >= 3 micro-batches: standing rows track the
    // ACCEPTED corpus exactly — 4 signature rows + 1 hash row per
    // accepted doc; rejected duplicates contribute nothing
    var cumAccepted = 0L
    ids.zipWithIndex.foreach { case (id, i) =>
      cumAccepted += results(id)._2.size
      val (_, sig, hash) = stateCurve(i)
      assert(sig == 4 * cumAccepted && hash == cumAccepted,
        s"batch $id state (sig=$sig, hash=$hash) vs accepted $cumAccepted")
    }
  }

  test("two publishers of one manifest version on Hadoop's LocalFileSystem: the loser fails loudly") {
    import graft.streaming.IngestDedup
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("ingest-publish")
    val root = new Path(dir.toUri)
    // Hadoop's own local file system, whose rename replaces an existing target
    val local = new LocalFileSystem()
    local.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    def manifest(v: Int) = new String(Files.readAllBytes(dir.resolve(f"v$v%08d")), "UTF-8")

    IngestDedup.publish(local, root, 1, Seq(1L -> "winner"))
    val e = intercept[IllegalArgumentException](IngestDedup.publish(local, root, 1, Seq(2L -> "loser")))
    assert(e.getMessage.contains("lost a race"), e.getMessage)
    assert(manifest(1) == "1\twinner")
    // the checksum sidecar moved with the winner; the loser left no temp file
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("v00000001", ".v00000001.crc"))
    assert(new String(local.open(new Path(root, "v00000001")).readAllBytes(), "UTF-8") == "1\twinner")

    // racing threads: exactly one publisher of each version wins
    for (v <- 2 to 9) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = (0 until 2).map { w =>
        scala.concurrent.Future {
          start.await()
          scala.util.Try(IngestDedup.publish(local, root, v, Seq(v.toLong -> s"w$w")))
        }(scala.concurrent.ExecutionContext.global)
      }
      start.countDown()
      val outcomes = results.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration(30, "s")))
      assert(outcomes.count(_.isSuccess) == 1, outcomes)
      val winner = outcomes.indexWhere(_.isSuccess)
      assert(manifest(v) == s"$v\tw$winner")
    }
    assert(!Files.list(dir).iterator().asScala.exists(_.getFileName.toString.contains("tmp")))
  }
}
