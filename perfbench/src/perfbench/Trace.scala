package org.apache.spark.perfbench {
  /** Waits until Spark's listener bus has delivered every posted event,
    * so per-op counts are complete before they are read. */
  object ListenerBusSync {
    def drain(sc: org.apache.spark.SparkContext): Unit =
      sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (an op causes its jobs; a micro-batch causes its phases). */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
    parent: Int, cause: String)

/** Per-op counters and spans from Spark's public listener APIs. Attached
  * only around traced ops; `close` gives the op's counters after the
  * listener bus has drained. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }

  // counters of the op in flight; written on the listener thread
  private val c = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val jobStart = scala.collection.mutable.HashMap[Int, Long]()
  private val jobIntervals = ArrayBuffer[(Long, Long)]()
  private var opSpan = 0
  private def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("sched.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobIntervals += ((s, e.time))
      spans += Span(newId(), s"job ${e.jobId}", s, e.time, opSpan, "action")
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("sched.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val i = e.taskInfo
      add("sched.tasks", 1)
      add("sched.delay_ms", math.max(0L, i.duration - m.executorRunTime
        - m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      add("task.run_ms", m.executorRunTime.toDouble)
      add("task.cpu_ms", m.executorCpuTime / 1e6)
      add("task.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"driver.${p}_ms", s.durationMs.toDouble))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Start recording an op: registers both listeners. */
  def open(name: String): Unit = synchronized {
    c.clear(); jobStart.clear(); jobIntervals.clear()
    opSpan = newId()
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop recording the op that ran from `startMs` to `endMs`; returns
    * its counters, including the driver time with no job running. */
  def close(name: String, startMs: Long, endMs: Long): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusSync.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      spans += Span(opSpan, name, startMs, endMs, 0, "benchmark loop")
      val inOp = jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0L
      var cur = (0L, 0L)
      inOp.foreach { case (s, e) =>
        if (s > cur._2) { busy += cur._2 - cur._1; cur = (s, e) }
        else cur = (cur._1, math.max(cur._2, e))
      }
      busy += cur._2 - cur._1
      c("driver.nojob_ms") = (endMs - startMs - busy).toDouble
      c("sched.busy_ms") = busy.toDouble
      c.toMap
    }
  }

  /** Record a child span the benchmark measured itself (batch phases). */
  def span(name: String, startMs: Long, endMs: Long, parent: Int, cause: String): Int =
    synchronized { val id = newId(); spans += Span(id, name, startMs, endMs, parent, cause); id }

  def currentOp: Int = opSpan
}
}
