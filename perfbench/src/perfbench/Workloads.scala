package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.api.{SamsaStream, StoreType}
import graft.ext.{Caches, Dedup}
import graft.streaming.{KeyedRecord, StatefulStore}

/** A workload: a set-up cycle that builds inputs and state from scratch,
  * and an op the benchmark times. `prepare` and `finish` run outside the
  * timed window; `finish` returns the op's layer metrics when traced. */
trait Workload {
  def warmupOps: Int
  /** Hash of the inputs generated from the seed. */
  def fingerprint: Long
  def setUp(cycle: Int): Unit
  def prepare(i: Int): Unit = ()
  def run(i: Int): Map[String, Double]
  def finish(i: Int, trace: Option[Trace]): Map[String, Double] = Map.empty
  /** Differences between the program's outputs and the reference. */
  def check(): Seq[String]
  /** Stops what the workload started; returns the errors that raised. */
  def close(): Seq[Throwable] = Nil
}

object Workload {
  /** Layer metrics some workloads report; the others report 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("statestore.gets_per_event", "count"), ("statestore.puts_per_event", "count"),
    ("statestore.get_ms", "ms"), ("statestore.put_ms", "ms"), ("statestore.commit_ms", "ms"),
    ("statestore.changelog_sync_ms", "ms"), ("statestore.cache_miss", "count"),
    ("statestore.memory_bytes", "bytes"), ("statestore.sst_bytes", "bytes"),
    ("statestore.load_ms", "ms"), ("statestore.replay_ms", "ms"),
    ("statestore.replay_files", "count"),
    ("restore_ms", "ms"), ("lookup_ms", "ms"),
    ("ext.ckpt_bytes", "bytes"), ("ext.ckpt_files", "count"),
    ("ext.cached_bytes_after_release", "bytes"))

  /** Layer metrics of the micro-batches in `ps`, summed; batch phases are
    * recorded as spans under the traced op. */
  def progressMetrics(ps: Seq[StreamingQueryProgress], trace: Option[Trace]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def cm(p: StreamingQueryProgress, k: String): Double =
      p.stateOperators.headOption.flatMap(s => Option(s.customMetrics.get(k)))
        .map(_.doubleValue).getOrElse(0.0)
    trace.foreach { tr =>
      ps.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val b = tr.span(s"batch ${p.batchId}", start, start + d(p, "triggerExecution").toLong,
          tr.currentOp, "processAllAvailable")
        var at = start
        Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets").foreach { ph =>
          val len = d(p, ph).toLong
          tr.span(ph, at, at + len, b, s"micro-batch ${p.batchId}")
          at += len
        }
      }
    }
    val events = math.max(1.0, ps.map(_.numInputRows.toDouble).sum)
    def sum(f: StreamingQueryProgress => Double) = ps.map(f).sum
    Map(
      "streaming.add_batch_ms" -> sum(d(_, "addBatch")),
      "streaming.query_planning_ms" -> sum(d(_, "queryPlanning")),
      "streaming.wal_commit_ms" -> sum(d(_, "walCommit")),
      "streaming.commit_offsets_ms" -> sum(d(_, "commitOffsets")),
      "statestore.gets_per_event" -> sum(cm(_, "rocksdbGetCount")) / events,
      "statestore.puts_per_event" -> sum(cm(_, "rocksdbPutCount")) / events,
      "statestore.get_ms" -> sum(cm(_, "rocksdbGetLatency")),
      "statestore.put_ms" -> sum(cm(_, "rocksdbPutLatency")),
      "statestore.commit_ms" -> sum(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)),
      "statestore.changelog_sync_ms" -> sum(cm(_, "rocksdbChangeLogWriterCommitLatencyMs")),
      "statestore.cache_miss" -> sum(cm(_, "rocksdbReadBlockCacheMissCount")),
      "statestore.memory_bytes" -> ps.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "statestore.sst_bytes" -> ps.lastOption.map(cm(_, "rocksdbSstFileSize")).getOrElse(0.0),
      "statestore.load_ms" -> sum(cm(_, "rocksdbLoadLatencyMs")),
      "statestore.replay_ms" -> sum(cm(_, "rocksdbReplayChangeLogLatencyMs")),
      "statestore.replay_files" -> sum(cm(_, "rocksdbNumReplayChangelogFiles")))
  }

  def stopQuery(q: StreamingQuery): Seq[Throwable] =
    if (q == null) Nil
    else try { q.stop(); q.exception.toSeq } catch { case e: Throwable => Seq(e) }

  /** Differences between a state table and its reference, at most 5 shown. */
  def diff(name: String, got: Map[String, String], want: java.util.HashMap[String, String]): Seq[String] = {
    val w = want.asScala
    val bad = (got.keySet ++ w.keySet).iterator.filter(k => got.get(k) != w.get(k)).take(5).toSeq
    bad.map(k => s"$name: key $k is ${got.get(k)}, reference ${w.get(k)}") ++
      (if (got.size != w.size) Seq(s"$name: ${got.size} keys, reference ${w.size}") else Nil)
  }

  def state(spark: SparkSession, ckpt: String, stateVar: String): Map[String, String] =
    StatefulStore.readState(spark, ckpt, stateVarName = stateVar)
      .select(col("key.value"), col("value.value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
}

/** `detectChanges` on the RocksDB store as a long-running query. One op =
  * append one batch of Zipf-keyed events, then `processAllAvailable()`. */
final class StreamChanges(spark: SparkSession, o: Main.Opts) extends Workload {
  import spark.implicits._
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val nKeys = if (o.small) 20000 else 100000
  private val batchSize = if (o.small) 2000 else 20000
  val warmupOps = 3
  private val stream = SamsaStream(Seq("events"), "perfbench", "changes", store = StoreType.RocksDB)
  private var gen: Gen.EventStream = _
  private var input: MemoryStream[KeyedRecord] = _
  private var q: StreamingQuery = _
  private var ckpt: Path = _
  private var next: Array[KeyedRecord] = _
  private var seen = 0L

  def setUp(cycle: Int): Unit = {
    Workload.stopQuery(q).foreach(throw _)
    if (ckpt != null) Main.deleteTree(ckpt)
    ckpt = o.work.resolve(s"changes-$cycle")
    // one state partition per task slot (the session's shuffle partitions)
    stream.configure(spark)
    gen = new Gen.EventStream(o.seed, nKeys, 1.0, 4)
    input = MemoryStream[KeyedRecord]
    q = stream.detectChanges(stream.recordsFrom(input.toDF())).toDF()
      .writeStream.format("noop").option("checkpointLocation", ckpt.toString).start()
    input.addData(gen.fill(0.3).toSeq)
    q.processAllAvailable()
    seen = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
  }

  def fingerprint: Long = gen.fingerprint

  override def prepare(i: Int): Unit = next = gen.batch(batchSize)

  def run(i: Int): Map[String, Double] = {
    input.addData(next.toSeq)
    q.processAllAvailable()
    Map.empty
  }

  override def finish(i: Int, trace: Option[Trace]): Map[String, Double] = {
    val ps = q.recentProgress.filter(_.batchId > seen).toSeq
    seen = ps.lastOption.map(_.batchId).getOrElse(seen)
    if (trace.isDefined) Workload.progressMetrics(ps, trace) else Map.empty
  }

  def check(): Seq[String] =
    Workload.diff("lastValue state", Workload.state(spark, ckpt.toString, "lastValue"), gen.reference)

  override def close(): Seq[Throwable] = Workload.stopQuery(q)
}

/** A frozen latest-wins store built with `materialize`. One op = restore
  * (restart the query on a copy of the frozen checkpoint with one new
  * input file, until it terminates) then one `query(key)` lookup. */
final class StoreRestore(spark: SparkSession, o: Main.Opts) extends Workload {
  private val nKeys = if (o.small) 5000 else 20000
  private val files = 3
  private val perFile = nKeys / 4
  val warmupOps = 5
  private val stream = SamsaStream(Seq("table"), "perfbench", "table", store = StoreType.RocksDB)
  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("ts", TimestampType)))
  private var dir: Path = _
  private var frozenRef: java.util.HashMap[String, String] = _
  private var restoredRef: java.util.HashMap[String, String] = _
  private var lookups: Array[String] = _
  private var wrongLookups = Seq.empty[String]
  private var last: StreamingQuery = _
  var fingerprint = 0L
  private def frozen = dir.resolve("frozen")
  private def restored = dir.resolve("restored")

  private def writeFile(recs: Array[KeyedRecord], n: Int): Unit =
    Files.write(dir.resolve("in").resolve(f"part-$n%04d.json"),
      recs.map(Gen.jsonLine).toSeq.asJava)

  /** Runs the materialize query over the input directory to completion. */
  private def materialize(ckpt: Path): Unit = {
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .json(dir.resolve("in").toString)
    val q = stream.materialize(stream.recordsFrom(src)).toDF()
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally Workload.stopQuery(q).foreach(throw _)
    last = q
  }

  def setUp(cycle: Int): Unit = {
    if (dir != null) Main.deleteTree(dir)
    dir = o.work.resolve(s"restore-$cycle")
    Files.createDirectories(dir.resolve("in"))
    // snapshot uploads run in the background maintenance task; a long
    // interval keeps them out of the build, so the frozen checkpoint
    // (and the changelog a restore replays) is the same on every run
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    stream.configure(spark)
    val gen = new Gen.UpsertFiles(o.seed, nKeys)
    (0 until files).foreach(f => writeFile(gen.file(perFile), f))
    materialize(dir.resolve("build"))
    Main.copyTree(dir.resolve("build"), frozen)
    frozenRef = new java.util.HashMap(gen.reference)
    lookups = gen.lookupKeys(4096, frozenRef.keySet.asScala.toArray.sorted)
    writeFile(gen.file(perFile / 10), files)
    restoredRef = gen.reference
    fingerprint = gen.fingerprint
    wrongLookups = Nil
  }

  override def prepare(i: Int): Unit = {
    Main.deleteTree(restored)
    Main.copyTree(frozen, restored)
  }

  def run(i: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    materialize(restored)
    val t1 = System.nanoTime()
    val key = lookups(i % lookups.length)
    val got = stream.query(spark, frozen.toString, key)
    val t2 = System.nanoTime()
    if (got != Option(frozenRef.get(key)))
      wrongLookups :+= s"query($key) returned $got, reference ${Option(frozenRef.get(key))}"
    Map("restore_ms" -> (t1 - t0) / 1e6, "lookup_ms" -> (t2 - t1) / 1e6)
  }

  override def finish(i: Int, trace: Option[Trace]): Map[String, Double] =
    if (trace.isEmpty) Map.empty
    else {
      Workload.progressMetrics(last.recentProgress.toSeq, trace)
    }

  def check(): Seq[String] =
    wrongLookups.take(5) ++
      Workload.diff("restored state", Workload.state(spark, restored.toString, "value"), restoredRef)
}

/** `Dedup.connectedComponents` over a seeded forest, with
  * `graft.checkpoint.dir` set (reliable cuts) or unset (local cuts).
  * One op = one call written to the noop sink. */
final class ConnectedComponents(spark: SparkSession, o: Main.Opts, k: Int, reliable: Boolean)
    extends Workload {
  import spark.implicits._
  private val nNodes = if (o.small) 500 else 1000
  val warmupOps = 1
  private val ckptDir = o.work.resolve("graft-checkpoints")
  private var forest: Gen.Forest = _
  private var reference: Map[Long, Long] = _
  private var edges: DataFrame = _
  private var problems: Option[Seq[String]] = None

  if (reliable) spark.conf.set("graft.checkpoint.dir", ckptDir.toString)
  else spark.conf.unset("graft.checkpoint.dir")

  def fingerprint: Long = forest.fingerprint

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def setUp(cycle: Int): Unit = {
    if (edges != null) edges.unpersist(blocking = true)
    forest = Gen.forest(o.seed, nNodes, nNodes / 40, 16)
    reference = Gen.components(forest)
    problems = None
    edges = forest.a.zip(forest.b).toSeq.toDF("doc_a", "doc_b").repartition(k).persist()
    edges.count()
  }

  /** The first warm-up op collects the labels and compares them with the
    * union-find reference instead of writing them to the noop sink. */
  def run(i: Int): Map[String, Double] = {
    val labels = Dedup.connectedComponents(edges)
    if (problems.isEmpty && i == 0 && o.warmup.forall(_ > 0)) problems = Some(compare(labels.as[(Long, Long)].collect().toMap))
    else labels.write.format("noop").mode("overwrite").save()
    Map.empty
  }

  private def compare(got: Map[Long, Long]): Seq[String] =
    (got.keySet ++ reference.keySet).iterator.filter(n => got.get(n) != reference.get(n)).take(5)
      .map(n => s"node $n labelled ${got.get(n)}, union-find ${reference.get(n)}").toSeq ++
      (if (got.size != reference.size) Seq(s"${got.size} labelled nodes, reference ${reference.size}") else Nil)

  override def finish(i: Int, trace: Option[Trace]): Map[String, Double] = {
    val (bytes, nFiles) = Main.du(ckptDir)
    Caches.releaseAll(spark)
    val m = trace.map { _ =>
      Thread.sleep(200) // unpersist is asynchronous
      Map("ext.ckpt_bytes" -> bytes.toDouble, "ext.ckpt_files" -> nFiles.toDouble,
        "ext.cached_bytes_after_release" -> cachedBytes().toDouble)
    }.getOrElse(Map.empty)
    // checkpoint files are not deleted by the program; keep the disk bounded
    if (Files.exists(ckptDir)) Files.list(ckptDir).iterator().asScala.foreach { d =>
      if (Files.isDirectory(d)) Files.list(d).iterator().asScala.foreach(Main.deleteTree)
    }
    m
  }

  def check(): Seq[String] = problems.getOrElse {
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    Caches.releaseAll(spark)
    compare(got)
  }
}
