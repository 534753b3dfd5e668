package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executor-loss recovery drill (r19, VERDICT r18 item 1): actually
  * LOSE an executor mid-iterative-job and prove the reliable-checkpoint
  * mode buys what its measured tax (SCALE.md r18: +4.5–28%) pays for.
  *
  * The r17/r18 rounds priced `graft.checkpoint.dir` and checked
  * bit-identity between modes — but always on undisturbed runs, where
  * the toggle is pure cost. This main runs PageRank (the
  * `graph_pagerank_scale` synthetic shape) under
  * `local-cluster[2,C,M]` — REAL multi-JVM standalone executors, not
  * local[*] threads — and `kill -9`s one executor JVM mid-sweep:
  *
  *   - RELIABLE mode (+ kill): must COMPLETE, with the
  *     order-insensitive distributed fingerprint identical to the
  *     undisturbed reliable run. Checkpoint files live on the shared
  *     filesystem; the standalone master relaunches the lost executor
  *     and retried tasks re-read cut lineage from disk.
  *   - LOCAL mode (localCheckpoint, the default — + kill): expected to
  *     FAIL the job: localCheckpoint TRUNCATES lineage into the dead
  *     executor's block manager, exactly the Spark-scaladoc caveat the
  *     Checkpoints.scala design note documents. The drill captures the
  *     failure instead of asserting around it; if Spark ever survives
  *     (kill landed before any truncated block was needed), the run
  *     reports survived=true honestly rather than forcing the story.
  *
  * The kill fires from a driver-side daemon thread at ~half the
  * undisturbed wall of the same mode, after the edge frame's cut is in
  * place — mid-sweep, the window an hour-long 1000-executor job spends
  * most of its life in. Victim selection: any live
  * CoarseGrainedExecutorBackend process (they exist only for this app
  * on this box; the drill would be run standalone).
  *
  * Usage: runMain graft.examples.KillRecovery [factor] (default 100 —
  * 2M nodes / 12M directed edges, ~30–60 s per run under the 2-executor
  * cluster: long enough to kill mid-sweep, short enough to iterate).
  * One [killrecovery-json] line at the end.
  */
object KillRecovery {

  /** Same order-insensitive fingerprint as GraphCkptScale: per-row md5
    * (null cells rendered explicitly; non-empty \u0001 field separator,
    * a literal control char until r20, now escaped so it audits as
    * what it is), folded by an exact DECIMAL sum of the first 60 bits
    * plus a row count. */
  private def distHash(df: DataFrame): String = {
    val rowHash = md5(concat_ws("\u0001",
      df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0001NULL\u0001"))): _*))
    val r = df.select(
      sum(conv(substring(rowHash, 1, 15), 16, 10).cast("decimal(38,0)"))
        .cast("string").as("h"),
      count(lit(1)).as("n")).collect()(0)
    s"${r.getString(0)}/${r.getLong(1)}"
  }

  /** PIDs of live executor JVMs (CoarseGrainedExecutorBackend children
    * of the in-process standalone workers). /proc scan — no shelling
    * out, no dependence on ps formatting. */
  private def executorPids(): Seq[Long] = {
    val proc = new java.io.File("/proc")
    Option(proc.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f.getPath, "cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend")) Some(f.getName.toLong)
          else None
        } catch { case _: Throwable => None }
      }
  }

  private def killOneExecutor(): Option[Long] = {
    val pids = executorPids()
    pids.sorted.headOption.map { pid =>
      ProcessHandle.of(pid).ifPresent(h => { h.destroyForcibly(); () })
      pid
    }
  }

  /** The JDK 17 module opens for executor JVMs (spark-submit would
    * inject them; build.sbt passes the same list to the driver). */
  private[examples] val addOpens: String = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 100
    // 2 workers x 8 cores x 12g: two real executor JVMs on this box,
    // each survivable alone. Executors inherit the forked driver's
    // java.class.path via the in-process Worker; the add-opens go in
    // explicitly.
    val ckptDir = s"/root/repo/target/killrecovery-ckpt-$factor"
    val spark = graft.Session.builder("local-cluster[2,8,12288]")
      .config("spark.sql.shuffle.partitions", "64")
      // NOTE: spark.* flags are forbidden inside extraJavaOptions
      // (SparkConf.validateSettings) — only the module opens go here
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.checkpoint.compress", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // default 4 task failures / 4 stage attempts are the recovery
      // budget under test — left at defaults on purpose
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def prEdges(): DataFrame = {
      val n = 20000L * factor
      val base = spark.range(n).select(col("id"))
      val edges = base.select(explode(array(
          struct(col("id").as("src"),
            pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst")),
          struct(col("id").as("src"),
            pmod(xxhash64(col("id"), lit(2)), lit(n)).as("dst")),
          struct(col("id").as("src"), ((col("id") + 1) % n).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      edges.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

    final case class Run(mode: String, killAtSec: Double) {
      var wall: Double = -1
      var hash: String = ""
      var killedPid: Long = -1
      var failed: String = ""
    }

    def runOnce(mode: String, killAtSec: Double): Run = {
      val r = Run(mode, killAtSec)
      if (mode == "reliable") spark.conf.set("graft.checkpoint.dir", ckptDir)
      else spark.conf.unset("graft.checkpoint.dir")
      // per-sweep cuts ON for the drill (stride 1): every sweep's rank
      // frame is cut, so the kill always lands with truncated lineage
      // live in both modes — the exact exposure under test
      spark.conf.set("graft.checkpoint.stride", "1")
      val killer = if (killAtSec > 0) {
        val t = new Thread(() => {
          try {
            Thread.sleep((killAtSec * 1000).toLong)
            killOneExecutor() match {
              case Some(pid) =>
                r.killedPid = pid
                println(f"[killrecovery] $mode: killed executor pid=$pid at ${killAtSec}%.1f s")
              case None =>
                println(s"[killrecovery] $mode: no executor pid found to kill")
            }
          } catch { case _: InterruptedException => () }
        })
        t.setDaemon(true); t.start(); Some(t)
      } else None
      val t0 = System.nanoTime()
      try {
        r.hash = distHash(
          graft.ext.Graph.pageRank(prEdges(), iters = 6,
            edgeRowsHint = Some(6L * 20000L * factor)))
        r.wall = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        r.wall = (System.nanoTime() - t0) / 1e9
        r.failed = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
      }
      killer.foreach(_.interrupt())
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      println(f"[killrecovery] $mode kill@${killAtSec}%.1f: wall=${r.wall}%.1f s " +
        s"hash=${r.hash} killedPid=${r.killedPid} " +
        (if (r.failed.nonEmpty) s"FAILED: ${r.failed}" else "ok"))
      r
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""

    // 1. undisturbed runs, both modes (identity base + kill-time base).
    //    Run local first: it also warms JIT so the reliable baseline
    //    isn't the cold run (GraphCkptScale's warm-first lesson).
    val localBase = runOnce("local", 0)
    val relBase = runOnce("reliable", 0)
    require(relBase.failed.isEmpty && localBase.failed.isEmpty,
      "undisturbed runs must complete")
    require(relBase.hash == localBase.hash,
      s"modes disagree undisturbed: ${localBase.hash} vs ${relBase.hash}")

    // 2. reliable + kill at ~50% of its undisturbed wall
    val relKill = runOnce("reliable", relBase.wall * 0.5)
    // 3. local + kill at ~50%
    val locKill = runOnce("local", localBase.wall * 0.5)

    val recovered = relKill.failed.isEmpty && relKill.hash == relBase.hash
    val localSurvived = locKill.failed.isEmpty
    println(f"[killrecovery] reliable recovered bit-identically: $recovered" +
      f" (wall ${relBase.wall}%.1f -> ${relKill.wall}%.1f s)")
    println(s"[killrecovery] local-mode job survived kill: $localSurvived" +
      (if (!localSurvived) s" (failed as documented: ${locKill.failed})" else ""))
    println(
      s"""[killrecovery-json] {"factor":$factor,"iters":6,""" +
      f""""localSec":${localBase.wall}%.1f,"reliableSec":${relBase.wall}%.1f,""" +
      f""""reliableKillSec":${relKill.wall}%.1f,""" +
      s""""reliableRecovered":$recovered,"reliableKillPid":${relKill.killedPid},""" +
      s""""reliableKillError":${q(relKill.failed)},""" +
      f""""localKillSec":${locKill.wall}%.1f,"localKillPid":${locKill.killedPid},""" +
      s""""localSurvivedKill":$localSurvived,"localKillError":${q(locKill.failed)}}""")
    spark.stop()
  }
}
