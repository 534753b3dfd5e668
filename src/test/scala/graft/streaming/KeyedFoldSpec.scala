package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files
import java.sql.Timestamp

/** Store work per key per batch of the [[KeyedFold]] processor, read from
  * the RocksDB provider's per-batch counters. RocksDB's row tracking
  * (`trackTotalNumberOfRows`, on by default) adds one get per put, so
  * `gets - puts` counts the fold's own reads. */
class KeyedFoldSpec extends SparkSpec {

  private val keys = 50

  /** 3 batches of `keys` keys x 2 rows; the values walk the funnel steps,
    * so change detection, transitions and the funnel all advance. */
  private val batches: Seq[Seq[KeyedRecord]] = (0 until 3).map { b =>
    for (k <- 0 until keys; i <- 0 until 2) yield {
      val step = FunnelTracker.DefaultSteps((2 * b + i) % 3)
      KeyedRecord(s"k$k", step, "events", 0, new Timestamp(1000L * (10 * b + i + 1)))
    }
  }

  /** (gets, puts) of each batch's state operator. */
  private def storeOps(name: String, track: Dataset[KeyedRecord] => DataFrame,
      mode: String): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedRecord]
    val q = track(input.toDS()).writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", Files.createTempDirectory(s"ckpt-ops-$name").toString)
      .start()
    try batches.map { b =>
      input.addData(b)
      q.processAllAvailable()
      val m = q.lastProgress.stateOperators.head.customMetrics
      (m.get("rocksdbGetCount").longValue, m.get("rocksdbPutCount").longValue)
    } finally q.stop()
  }

  test("every fold reads a key's state at most once per batch; upsert never reads") {
    val ops = Map(
      "changes" -> storeOps("changes", ChangeDetector(_).toDF(), "append"),
      "transition" -> storeOps("transition", TransitionTracker(_).toDF(), "append"),
      "funnel" -> storeOps("funnel", FunnelTracker(_).toDF(), "append"),
      "upsert" -> storeOps("upsert", StatefulStore.upsert(_).toDF(), "update"))
    info(ops.toSeq.sortBy(_._1).map { case (n, o) => s"$n ${o.mkString(" ")}" }.mkString("; "))
    ops.foreach { case (name, perBatch) =>
      perBatch.foreach { case (gets, puts) =>
        assert(gets - puts <= keys, s"$name reads more than once per key: $perBatch")
      }
    }
    assert(ops("upsert").forall { case (gets, puts) => gets == puts },
      s"the upsert fold must not read state: ${ops("upsert")}")
  }
}
