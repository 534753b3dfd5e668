package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: [[graft.Session]]'s settings (the
  * configuration Bench times and ExplainOne prints), plus a private
  * warehouse dir and the RocksDB state engine exactly as
  * `SamsaStream.configure` sets it (the store is required by
  * transformWithState; also the samsa-parity engine choice).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` and counts the Spark jobs it starts on this thread
    * (tagged through a job group, so other work on the shared session
    * is not counted). */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = () // shared session — never stopped per-suite
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.api.SamsaStream.stateEngine(graft.api.StoreType.RocksDB)
      .foldLeft(Session.builder()) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
