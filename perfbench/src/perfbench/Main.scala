package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in one JVM.
  *
  * Protocol (closed loop, one client, `local[K]`):
  *   1. start the session;
  *   2. run the workload's set-up cycle `setupCycles` times, each from
  *      scratch (inputs from the seed, state built); `setup_s` is the
  *      median cycle;
  *   3. run a fixed number of warm-up ops, so the JIT reaches its plateau
  *      outside the timed window;
  *   4. run timed ops until `--seconds` have passed (and at least one,
  *      or two when traced); `op_ms_p50` is the median op wall time;
  *   5. check the program's outputs against the plain-Scala reference;
  *   6. stop the queries and the session, counting any error as a failed
  *      op.
  * With `--trace 1`, every other timed op runs with the listeners of
  * [[Trace]] attached; the layer metrics are medians over those ops, and
  * `trace.overhead_ms` is the traced minus the untraced op median.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      small: Boolean, work: Path, out: Path, warmup: Option[Int], ops: Option[Int],
      verbose: Boolean)

  val setupCycles = 3

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), m.get("size").contains("small"),
      Paths.get(need("work")), Paths.get(need("out")),
      m.get("warmup").map(_.toInt), m.get("ops").map(_.toInt), m.get("verbose").contains("1"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach { s =>
      val d = to.resolve(from.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    } finally st.close()
  }

  /** (bytes, regular files) under `p`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L) else {
      val st = Files.walk(p)
      try {
        val sizes = st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).toSeq
        (sizes.sum, sizes.size.toLong)
      } finally st.close()
    }

  private def cpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap the program still holds after a full collection: state, caches
    * and buffers it keeps between ops. The second collection takes what
    * Spark's cleaner released after the first. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident memory outside the heap: RocksDB, direct buffers,
    * metaspace, code cache, thread stacks. The fixed heap is pre-touched
    * (`-XX:+AlwaysPreTouch`), so it is resident in full from the start and
    * the peak resident set minus the committed heap is the rest. */
  private def nativeMb(): Double =
    peakRssMb() - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def json(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // cores for tasks: all but one, left to the driver, JIT and GC
    val k = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the cap the repository's own build runs everything with: AQE
      // renders nested cached plans on every update
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = o.workload match {
      case "stream_changes" => new StreamChanges(spark, o)
      case "store_restore" => new StoreRestore(spark, o)
      case "cc_reliable" => new ConnectedComponents(spark, o, k, reliable = true)
      case "cc_local" => new ConnectedComponents(spark, o, k, reliable = false)
      case w => sys.error(s"unknown workload $w")
    }
    def log(s: String): Unit = if (o.verbose) System.err.println(s"[perfbench] $s")

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer[String]()
    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch {
        case e: Throwable =>
          failed += 1
          errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(400)
          e.printStackTrace()
          None
      }
    }

    val setupTimes = (0 until setupCycles).flatMap { c =>
      val t = System.nanoTime()
      attempt(s"setup $c")(wl.setUp(c)).map { _ =>
        val s = (System.nanoTime() - t) / 1e9; log(f"setup $c: $s%.3f s"); s
      }
    }
    if (setupTimes.nonEmpty) System.err.println(f"[perfbench] inputs fingerprint ${wl.fingerprint}%016x")
    val warmup = o.warmup.getOrElse(wl.warmupOps)
    var opIndex = 0
    var ok = setupTimes.size == setupCycles
    (0 until warmup).foreach { _ =>
      if (ok) {
        wl.prepare(opIndex)
        val t = System.nanoTime()
        ok = attempt(s"warm-up op $opIndex")(wl.run(opIndex)).isDefined
        log(f"warm-up op $opIndex: ${(System.nanoTime() - t) / 1e6}%.1f ms")
        if (ok) wl.finish(opIndex, None)
        opIndex += 1
      }
    }
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed phase
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val plain = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    val opMetrics = ArrayBuffer[Map[String, Double]]()
    val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
    var timedOps = 0
    // a traced run needs one plain and one traced op
    val minOps = if (o.trace) 2 else 1
    def more = o.ops match {
      case Some(n) => timedOps < n
      case None => System.nanoTime() < tEnd || timedOps < minOps
    }
    while (ok && more) {
      wl.prepare(opIndex)
      val tracedOp = trace.isDefined && timedOps % 2 == 1
      if (tracedOp) trace.get.open(s"op $opIndex")
      val (cpu0, gc0) = (cpuMs(), gcMs())
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val r = attempt(s"op $opIndex")(wl.run(opIndex))
      val ms = (System.nanoTime() - t) / 1e6
      val endMs = System.currentTimeMillis()
      ok = r.isDefined
      if (ok) {
        log(f"op $opIndex: $ms%.1f ms")
        if (tracedOp) {
          val c = trace.get.close(s"op $opIndex", startMs, endMs)
          val w = wl.finish(opIndex, trace)
          traced += ms
          opMetrics += (c ++ w ++ Map("jvm.cpu_ms" -> (cpuMs() - cpu0), "jvm.gc_ms" -> (gcMs() - gc0),
            "op_ms" -> ms) ++ r.get)
        } else {
          wl.finish(opIndex, None)
          plain += ms
        }
      }
      opIndex += 1
      timedOps += 1
    }

    val liveHeap = liveHeapMb()
    val problems = if (!ok) Seq("an op failed; outputs not checked")
      else attempt("correctness check")(wl.check()).getOrElse(Seq("correctness check threw"))
    problems.foreach(p => errors += s"check: $p")
    if (ok && problems.nonEmpty) failed += 1
    wl.close().foreach { e =>
      failed += 1; errors += s"query stop: ${e.getClass.getName}: ${e.getMessage}".take(400)
    }
    attempt("session stop")(spark.stop())
    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    val correct = ok && problems.isEmpty && failed == 0
    val metrics =
      if (!o.trace) Seq(
        ("op_ms_p50", median(plain.toSeq), "ms"),
        ("setup_s", median(setupTimes), "s"),
        ("live_heap_mb", liveHeap, "MB"),
        ("native_mb", nativeMb(), "MB"))
      else {
        def med(k: String) = median(opMetrics.toSeq.map(_.getOrElse(k, 0.0)))
        val base = Seq(
          ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
          ("sched.delay_ms", "ms"), ("sched.busy_ms", "ms"), ("driver.nojob_ms", "ms"),
          ("driver.analysis_ms", "ms"), ("driver.optimization_ms", "ms"), ("driver.planning_ms", "ms"),
          ("task.run_ms", "ms"), ("task.cpu_ms", "ms"), ("task.gc_ms", "ms"),
          ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
          ("shuffle.spill_bytes", "bytes"), ("jvm.cpu_ms", "ms"), ("jvm.gc_ms", "ms"),
        ) ++ Workload.layerMetrics
        base.map { case (n, u) => (n, med(n), u) } ++ Seq(
          ("sched.tasks_per_job", med("sched.tasks") / math.max(1.0, med("sched.jobs")), "count"),
          ("task.util", med("task.run_ms") / math.max(1.0, k * med("sched.busy_ms")), "ratio"),
          ("jvm.peak_rss_mb", peakRssMb(), "MB"),
          ("trace.op_ms_p50", median(traced.toSeq), "ms"),
          ("trace.overhead_ms", median(traced.toSeq) - median(plain.toSeq), "ms"),
          ("trace.traced_ops", traced.size.toDouble, "count"),
          ("setup.session_s", sessionS, "s"),
          ("setup.to_first_op_s", firstOpS, "s"),
          ("failed_op_share", failed.toDouble / math.max(1, attempted), "ratio"))
      }
    trace.foreach { tr =>
      val f = o.out.resolve(s"trace-${o.workload}-seed${o.seed}.json")
      Files.writeString(f, tr.spans.map { s =>
        s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"parent":${s.parent},"cause":"${s.cause}"}"""
      }.mkString("[\n", ",\n", "\n]\n"))
    }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${json(metrics)}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}
