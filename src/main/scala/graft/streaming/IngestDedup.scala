package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.Checkpoints.CutOps

/** Streaming near-dup ingest over a PERSISTED band-signature index —
  * the FOURTEENTH batch/stream parity pair (streaming twin of
  * `doc_incremental_neardups` + the exact-dup prefilter family).
  *
  * The 100 TB daily-ingest shape: a document stream lands in
  * micro-batches; each batch is (1) exact-dup-filtered against an
  * 8-byte-per-doc hash index, (2) near-dup-scored against the standing
  * corpus via [[graft.ext.Dedup.incrementalNearDups]]'s persisted-index
  * path — the corpus contributes only its STORED band signatures plus
  * the text of docs that actually collide, so per-batch cost is
  * |batch| x collision-rate, never |corpus| — and (3) survivors are
  * APPENDED to the corpus store, signature index, and hash index, so
  * batch N+1 dedups against everything accepted before it.
  *
  * === Store atomicity (the at-least-once contract) ===
  * `foreachBatch` is at-least-once: a crash mid-step replays the batch.
  * A naive three-way parquet append (corpus, sigindex, hashindex) is
  * NOT safe under that contract — a crash between the corpus append and
  * the signature append leaves accepted docs visible in the corpus but
  * absent from the index, so on replay they collide as exact/jaccard-1
  * dups, are rejected, and their signatures are never written: a
  * permanent recall hole. The store therefore uses a staged layout:
  *
  *   - every `ingestStep` attempt writes ALL outputs (corpus slice,
  *     band signatures, hashes, and the step's own pairs/accepted
  *     results) under a private `batches/<id>-<uuid>/` directory;
  *   - a single versioned manifest (`_commits/v<NNNNNNNN>`) lists the
  *     committed (batchId, directory) pairs; it is published by
  *     writing a temp file and then moving it to a version that must not
  *     exist yet: a rename on HDFS, a hard link on local FS;
  *   - readers resolve the HIGHEST manifest version and union only the
  *     directories it lists. An attempt that crashed before its
  *     manifest rename is invisible forever (orphaned files, no
  *     correctness impact; [[vacuum]] reclaims them);
  *   - replaying a batchId already present in the manifest skips the
  *     computation and returns the staged pairs/accepted verbatim —
  *     `ingestStep` is idempotent per batchId.
  *
  * [[compact]] folds all committed batch directories into one (the
  * manifest keeps O(1) entries under periodic compaction, so the
  * union-read never degrades into a many-smalls scan at 100 TB).
  *
  * Batch/stream contract (the other 13 pairs' discipline):
  *   - BETWEEN-ONLY semantics per micro-batch (the incrementalNearDups
  *     contract): docs arriving in the SAME micro-batch are not scored
  *     against each other — compose a within-batch
  *     `lshVerifiedNonCanonical` upstream if batches can self-collide.
  *   - Replay parity: batch 1 against a bootstrapped corpus emits
  *     exactly the oracle-paired `doc_incremental_neardups` rows; later
  *     batches extend the same operator over the grown index
  *     (StreamingIngestDedupSpec pins both).
  *   - Bounded state: the operator's standing state is the signature
  *     index (4 rows x 3 longs per ACCEPTED doc) + the hash index
  *     (1 row x 2 longs) — proportional to the accepted corpus, never
  *     to stream length or rejected-duplicate volume.
  *
  * The exact-dup prefilter here is the EXACT xxhash64 anti join rather
  * than [[graft.ext.Dedup.bloomNewDocs]]: a streaming store must not
  * drop the bloom's fpp fraction of genuinely-new docs on every batch,
  * and the hash index is itself bounded state. (At 100 TB the bloom
  * variant remains the no-shuffle option when an approximate filter is
  * acceptable; 64-bit text-hash collisions are P ~ 1e-19 per pair —
  * the lshVerifiedEdges xxhash64 argument.)
  *
  * Ref: the reference's state-store restore loop
  * (samsa/kafka/storage.py:17-120) replays a changelog into a store;
  * this operator is the same persist-and-extend discipline applied to
  * a dedup index instead of a KV table, and the manifest plays the
  * changelog's role of a single committed source of truth.
  */
object IngestDedup {

  /** One micro-batch's outcome: verified near-dup `pairs`
    * (doc_corpus, doc_new, n_common, jaccard) and the `accepted`
    * (non-duplicate) docs that were appended to the store. Both are
    * read back from the step's own staged parquet, so consuming them
    * after the step never sees the grown store. */
  final case class StepResult(pairs: DataFrame, accepted: DataFrame)

  private def batchesRoot(storeDir: String) = s"$storeDir/batches"
  private def commitsRoot(storeDir: String) = s"$storeDir/_commits"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, Seq[(batchId, dirName)]) of the newest manifest, or
    * (0, empty) for a virgin store. */
  private def manifest(
      spark: SparkSession, storeDir: String): (Long, Seq[(Long, String)]) = {
    val root = new Path(commitsRoot(storeDir))
    val f = fs(spark, storeDir)
    if (!f.exists(root)) return (0L, Seq.empty)
    val versions = f.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
    if (versions.isEmpty) return (0L, Seq.empty)
    val top = versions.maxBy(_.drop(1).toLong)
    val in = f.open(new Path(root, top))
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val entries = text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(id, dir) = line.split("\t", 2)
      (id.toLong, dir)
    }
    (top.drop(1).toLong, entries)
  }

  private def publish(
      spark: SparkSession, storeDir: String, version: Long,
      entries: Seq[(Long, String)]): Unit =
    publish(fs(spark, storeDir), new Path(commitsRoot(storeDir)), version, entries)

  /** Publish a new manifest under `root`: write to a temp name, then
    * move it to the next version unless that version exists. Fails loud
    * when it does (two writers racing the same store is outside the
    * foreachBatch contract and must not be silently resolved). */
  private[graft] def publish(
      f: FileSystem, root: Path, version: Long, entries: Seq[(Long, String)]): Unit = {
    f.mkdirs(root)
    val tmp = new Path(root, s".tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(entries.map { case (id, d) => s"$id\t$d" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(root, f"v$version%08d")
    require(claim(f, tmp, target),
      s"manifest publish lost a race for $target — concurrent writers " +
        "on one ingest store are not supported")
  }

  /** Moves `tmp` to `target` if `target` does not exist, atomically;
    * false, with `tmp` deleted, if it does. HDFS's rename refuses an
    * existing target, but Hadoop's `LocalFileSystem` replaces it
    * (`File.renameTo`), and `Files.move` without `REPLACE_EXISTING`
    * checks and then renames. So on `file:` the claim is a hard link,
    * which link(2) refuses onto an existing name, after which the temp
    * name is deleted and its `.crc` sidecar renamed to the target's. */
  private def claim(f: FileSystem, tmp: Path, target: Path): Boolean = {
    def local(p: Path) = java.nio.file.Paths.get(f.makeQualified(p).toUri)
    val won =
      if (f.getUri.getScheme != "file") f.rename(tmp, target)
      else try {
        java.nio.file.Files.createLink(local(target), local(tmp))
        f match {
          case c: ChecksumFileSystem =>
            c.getRawFileSystem.rename(c.getChecksumFile(tmp), c.getChecksumFile(target))
          case _ =>
        }
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    f.delete(tmp, false)
    won
  }

  /** Union-read one store component (`corpus`/`sig`/`hash`) across all
    * committed batch directories. None for a virgin store. */
  private def view(
      spark: SparkSession, storeDir: String, entries: Seq[(Long, String)],
      sub: String): Option[DataFrame] = {
    val dirs = entries.map { case (_, d) => s"${batchesRoot(storeDir)}/$d/$sub" }
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Standing-state row counts (sigRows, hashRows) — what the bounded-
    * state assertion measures. (0, 0) for a virgin store. */
  def stateRows(spark: SparkSession, storeDir: String): (Long, Long) = {
    val (_, entries) = manifest(spark, storeDir)
    (view(spark, storeDir, entries, "sig").map(_.count()).getOrElse(0L),
      view(spark, storeDir, entries, "hash").map(_.count()).getOrElse(0L))
  }

  /** One micro-batch against the standing store at `storeDir`. The
    * first batch BOOTSTRAPS the store (everything accepted, no pairs) —
    * a deployment seeding from an existing corpus runs one bootstrap
    * batch of that corpus first. Pure batch function: the foreachBatch
    * wrapper in [[start]] only sequences it, which is also what makes
    * the stream's semantics oracle-traceable.
    *
    * Idempotent per `batchId`: a replayed id returns the originally
    * committed pairs/accepted without touching the store. Callers
    * without a stream-assigned id (direct batch use) omit it and get
    * max(committed)+1. */
  def ingestStep(
      spark: SparkSession, storeDir: String, batch0: DataFrame,
      threshold: Double = 0.5, batchId: Option[Long] = None): StepResult = {
    import graft.ext.Dedup
    val (version, entries) = manifest(spark, storeDir)
    batchId.foreach { id =>
      entries.find(_._1 == id).foreach { case (_, dir) =>
        val base = s"${batchesRoot(storeDir)}/$dir"
        return StepResult(
          spark.read.parquet(s"$base/pairs"),
          spark.read.parquet(s"$base/accepted"))
      }
    }
    val id = batchId.getOrElse(
      if (entries.isEmpty) 0L else entries.map(_._1).max + 1L)
    val attempt = s"$id-${UUID.randomUUID().toString.take(8)}"
    val base = s"${batchesRoot(storeDir)}/$attempt"
    val batch = batch0.select("doc_id", "text")

    val (pairs, accepted) =
      if (entries.isEmpty) {
        // bootstrap: no standing index — everything is accepted
        val emptyPairs = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_corpus",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("doc_new",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_common",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("jaccard",
              org.apache.spark.sql.types.DoubleType))))
        (emptyPairs, batch)
      } else {
        val corpus = view(spark, storeDir, entries, "corpus").get
        val sig = view(spark, storeDir, entries, "sig").get
        val hashes = view(spark, storeDir, entries, "hash").get
        // exact-dup prefilter: the hash index is tiny relative to the
        // batch join's other side at any realistic batch size; Spark
        // broadcasts it when small, shuffles both sides when not —
        // either is correct
        val fresh = batch
          .join(hashes.select(col("h")),
            xxhash64(col("text")) === col("h"), "left_anti")
        // near-dups vs the standing index: the persisted-signature
        // path — corpus text is scanned only for docs that collide in
        // some band
        val p = Dedup
          .incrementalNearDups(corpus, fresh, threshold, corpusSig = Some(sig))
          .cutLineage()
        val acc = fresh
          .join(p.select(col("doc_new").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        (p, acc)
      }

    // stage EVERYTHING under the attempt dir (repartition(1) guarantees
    // a parquet footer even for zero-row outputs), then publish with
    // one atomic manifest rename — nothing is visible until that rename
    val acceptedStaged = accepted.repartition(1)
    acceptedStaged.write.parquet(s"$base/corpus")
    Dedup.bandSignatures(acceptedStaged).repartition(1)
      .write.parquet(s"$base/sig")
    acceptedStaged.select(col("doc_id"), xxhash64(col("text")).as("h"))
      .write.parquet(s"$base/hash")
    pairs.repartition(1).write.parquet(s"$base/pairs")
    acceptedStaged.write.parquet(s"$base/accepted")
    publish(spark, storeDir, version + 1, entries :+ ((id, attempt)))
    StepResult(
      spark.read.parquet(s"$base/pairs"),
      spark.read.parquet(s"$base/accepted"))
  }

  /** Fold every committed batch directory into one, publishing a new
    * manifest with a single entry. Old directories become orphans (the
    * manifest no longer references them); [[vacuum]] deletes them.
    * Run periodically so the committed-view union stays O(1) files. */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val (version, entries) = manifest(spark, storeDir)
    if (entries.size <= 1) return
    val maxId = entries.map(_._1).max
    val attempt = s"$maxId-compact-${UUID.randomUUID().toString.take(8)}"
    val base = s"${batchesRoot(storeDir)}/$attempt"
    view(spark, storeDir, entries, "corpus").get.write.parquet(s"$base/corpus")
    view(spark, storeDir, entries, "sig").get.write.parquet(s"$base/sig")
    view(spark, storeDir, entries, "hash").get.write.parquet(s"$base/hash")
    // pairs/accepted replay reads are per-batch; a compacted store keeps
    // only the merged index (replaying a pre-compaction batchId would
    // recompute — callers compact at quiescence, same as the reference's
    // log compaction)
    publish(spark, storeDir, version + 1, Seq((maxId, attempt)))
  }

  /** Delete batch directories no manifest references (crashed attempts
    * and pre-compaction leftovers). Safe to run any time: committed
    * directories are never touched. */
  def vacuum(spark: SparkSession, storeDir: String): Unit = {
    val (_, entries) = manifest(spark, storeDir)
    val live = entries.map(_._2).toSet
    val root = new Path(batchesRoot(storeDir))
    val f = fs(spark, storeDir)
    if (!f.exists(root)) return
    f.listStatus(root).map(_.getPath)
      .filterNot(p => live.contains(p.getName))
      .foreach(p => f.delete(p, true))
  }

  /** Run the ingest loop over a document stream (columns: doc_id, text).
    * `onBatch` observes each micro-batch's result (emit pairs to a
    * sink, route accepted docs downstream). The stream's batchId keys
    * the store's idempotence: replays after a crash return the
    * committed result instead of re-growing the store. */
  def start(
      stream: DataFrame, storeDir: String, threshold: Double = 0.5)(
      onBatch: (Long, StepResult) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        onBatch(id,
          ingestStep(b.sparkSession, storeDir, b, threshold, Some(id)))
      }
      .option("checkpointLocation", s"$storeDir/ckpt")
      .start()
}
