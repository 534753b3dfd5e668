package graft.examples

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING executor-loss drill (r20, VERDICT r19 item 5): the twin of
  * [[KillRecovery]] for the state-store path the reference is actually
  * about. KillRecovery proved the batch iterative story (reliable
  * checkpoints survive a SIGKILLed executor); this main proves the
  * R3/R7 parity claim — samsa's whole changelog design
  * (/root/reference/samsa/kafka/storage.py:151-184) exists so a
  * consumer that dies mid-stream rebuilds its store and carries on.
  * Spark's equivalents under test, together: RocksDB state store with
  * CHANGELOG CHECKPOINTING (per-batch delta files on the checkpoint
  * FS) + the streaming commit log.
  *
  * Protocol, under `local-cluster[2,8,12288]` (two REAL executor JVMs):
  *
  *   1. UNDISTURBED: replay a staged N-event keyed stream through
  *      [[graft.streaming.ChangeDetector]] (RocksDB transformWithState)
  *      in bounded micro-batches to a parquet sink; fingerprint the
  *      committed output AND the final per-key state (read back
  *      out-of-stream via the state data source — samsa's
  *      `query(key)`).
  *   2. KILL: same query, fresh checkpoint, `kill -9` one executor JVM
  *      at ~50% of the undisturbed wall — mid-micro-batch, with
  *      committed RocksDB versions live only as snapshot+changelog
  *      files. If Spark's task retry absorbs the loss (standalone
  *      master relaunches the executor; the store reloads its last
  *      committed version from the checkpoint FS on whichever executor
  *      inherits the partition), the query completes in-place. If the
  *      query dies instead, RESTART it on the same checkpoint — the
  *      reference's restart-replay path (R3), and Spark's documented
  *      recovery contract. Both outcomes are recorded honestly
  *      (`survivedInPlace`).
  *   3. Compare: output fingerprint and state fingerprint must equal
  *      the undisturbed run's — the exactly-once pair (file-sink
  *      manifest + state-store versioning) is the claim, bit-identity
  *      is the test.
  *
  * Usage: runMain graft.examples.StreamKillRecovery [factor]
  * (default 100 — 10M events over ~1.5M keys from the sf0.01 events
  * fixture, the SCALE.md streaming decade). One [streamkill-json] line.
  */
object StreamKillRecovery {
  import KillRecovery.{distHash, killOneExecutor}

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 100
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // Unlike KillRecovery's pure-DataFrame PageRank, this pipeline
    // ships a REAL Scala closure to executors (groupByKey(_.key) under
    // transformWithState). Across local-cluster's separate executor
    // JVMs, lambda deserialization needs the app classes to arrive as
    // a JAR on the executor task classloader (spark.jars — what
    // spark-submit normally injects); with classes only on the
    // inherited system classpath the executor dies with
    // `cannot assign SerializedLambda to field AppendColumnsExec.func`.
    // Run `sbt package` first; SPARK_GRAFT_JAR overrides the path.
    val appJar = sys.env.getOrElse("SPARK_GRAFT_JAR",
      "/root/repo/target/scala-2.13/samsaspark_2.13-0.1.0.jar")
    require(new java.io.File(appJar).exists(),
      s"app jar not found at $appJar — run `sbt package` (or set SPARK_GRAFT_JAR)")
    val spark = graft.Session.builder("local-cluster[2,8,12288]")
      .config("spark.jars", appJar)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.executor.extraJavaOptions", KillRecovery.addOpens)
      // the configuration under test: RocksDB stores with per-batch
      // changelog files on the checkpoint FS (SamsaStream's default)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // task/stage retry budgets left at defaults — they ARE the
      // in-place recovery path under test
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tmp = Files.createTempDirectory(s"streamkill-$factor").toString

    // events replicated x factor with disjoint key spaces per replica:
    // state size tracks true key count, ~125k-row files, 4 files per
    // batch
    val ev = graft.Tables.events(spark, sfDir)
      .crossJoin(spark.range(factor.toLong).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * lit(10000000L)).cast("string").as("key"),
        col("event_type").as("value"),
        lit("bench").as("topic"), lit(0).as("partition"),
        col("ts").cast("timestamp").as("ts"))
    val nEvents = ev.count()
    val nFiles = math.max(16L, nEvents / 125000L).toInt
    ev.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
    val schema = ev.schema
    println(s"[streamkill] staged $nEvents events in $nFiles files")

    final case class Run(name: String) {
      var wall: Double = -1
      var outHash: String = ""
      var stateHash: String = ""
      var killedPid: Long = -1
      var survivedInPlace = true
      var restarted = false
      var failed: String = ""
    }

    def startQuery(ckpt: String, outDir: String) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(s"$tmp/in")
        .as[graft.streaming.KeyedRecord]
      graft.streaming.ChangeDetector(src).toDF()
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }

    def runOnce(name: String, killAtSec: Double): Run = {
      val r = Run(name)
      val ckpt = s"$tmp/ckpt-$name"
      val outDir = s"$tmp/out-$name"
      val killer = if (killAtSec > 0) {
        val t = new Thread(() => {
          try {
            Thread.sleep((killAtSec * 1000).toLong)
            killOneExecutor() match {
              case Some(pid) =>
                r.killedPid = pid
                println(f"[streamkill] $name: killed executor pid=$pid at $killAtSec%.1f s")
              case None =>
                println(s"[streamkill] $name: no executor pid found to kill")
            }
          } catch { case _: InterruptedException => () }
        })
        t.setDaemon(true); t.start(); Some(t)
      } else None
      val t0 = System.nanoTime()
      try {
        val q = startQuery(ckpt, outDir)
        q.awaitTermination()
      } catch { case e: Throwable =>
        // the in-place retry budget did not absorb the loss — take the
        // restart path on the SAME checkpoint (R3 restart-replay): the
        // commit log replays/continues the uncommitted batch, RocksDB
        // reloads its last committed version from snapshot+changelog
        r.survivedInPlace = false
        r.failed = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
        println(s"[streamkill] $name: query died (${r.failed}); restarting on same checkpoint")
        try {
          r.restarted = true
          val q2 = startQuery(ckpt, outDir)
          q2.awaitTermination()
        } catch { case e2: Throwable =>
          r.failed = (r.failed + " | restart: " +
            Option(e2.getMessage).getOrElse(e2.getClass.getName)
              .linesIterator.take(1).mkString).take(600)
        }
      }
      r.wall = (System.nanoTime() - t0) / 1e9
      killer.foreach(_.interrupt())
      // committed output only: reading the sink PATH goes through the
      // _spark_metadata manifest, so orphaned files from killed task
      // attempts are invisible — that manifest is half the
      // exactly-once claim under test
      r.outHash = distHash(spark.read.parquet(outDir)
        .select("key", "previous", "current", "change"))
      // the other half: final per-key state via the state data source
      // (samsa's query(key)), read out-of-stream from the checkpoint
      r.stateHash = distHash(
        graft.streaming.StatefulStore
          .readState(spark, ckpt, stateVarName = "lastValue")
          .select(col("key.value").as("k"), col("value.value").as("v")))
      println(f"[streamkill] $name: wall=${r.wall}%.1f s out=${r.outHash} " +
        s"state=${r.stateHash} survivedInPlace=${r.survivedInPlace} " +
        s"restarted=${r.restarted}" +
        (if (r.failed.nonEmpty) s" err=${r.failed}" else ""))
      r
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""

    val base = runOnce("base", 0)
    require(base.failed.isEmpty, s"undisturbed run must complete: ${base.failed}")
    val kill = runOnce("kill", base.wall * 0.5)

    val outMatch = kill.outHash == base.outHash
    val stateMatch = kill.stateHash == base.stateHash
    println(s"[streamkill] output identical: $outMatch; state identical: $stateMatch " +
      f"(wall ${base.wall}%.1f -> ${kill.wall}%.1f s)")
    println(
      s"""[streamkill-json] {"factor":$factor,"events":$nEvents,""" +
      f""""baseSec":${base.wall}%.1f,"killSec":${kill.wall}%.1f,""" +
      s""""killedPid":${kill.killedPid},""" +
      s""""survivedInPlace":${kill.survivedInPlace},"restarted":${kill.restarted},""" +
      s""""outMatch":$outMatch,"stateMatch":$stateMatch,""" +
      s""""killError":${q(kill.failed)}}""")
    spark.stop()
  }
}
