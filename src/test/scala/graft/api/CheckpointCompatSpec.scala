package graft.api

import graft.SparkSpec
import graft.api.StateStores.rec
import graft.streaming.{KeyedRecord, StateEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A checkpoint written under Spark's default checkpoint file manager
  * restarts under [[graft.io.CheckpointFiles]], and the other way round,
  * with the same state, lookups, changelog and file layout as a twin that
  * never changed managers. */
class CheckpointCompatSpec extends SparkSpec {

  private val key = "spark.sql.streaming.checkpointFileManagerClass"
  private val ours = Some(classOf[graft.io.CheckpointFiles].getName)

  private val batches = Seq(
    (1 to 6).map(i => rec(s"n$i", "v1", 1000L + i)),
    Seq(rec("n2", null, 2000), rec("n3", "v2", 2001)),
    Seq(rec("n4", null, 3000), rec("n5", "v3", 3001), rec("n7", "v3", 3002)),
    Seq(rec("n1", "v4", 4000), rec("n2", "v4", 4001), rec("n5", null, 4002)))
  private val lookups = (1 to 9).map(i => s"n$i")

  private case class Outcome(
      changelog: Seq[(Long, Seq[StateEntry])],
      state: Map[String, String],
      found: Map[String, Option[String]],
      layout: Set[String])

  /** Checkpoint file names relative to `root`, with ids made generic. */
  private def layout(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<id>"))
      .toSet

  /** Batches 1-2 under manager `before` (None: Spark's default), a stop,
    * then batches 3-4 under `after` on the same checkpoint. */
  private def run(store: StoreType, before: Option[String], after: Option[String]): Outcome = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = SamsaStream(Seq("nodes.status"), "g", "nodes", store = store)
    val keys = Seq(key, "spark.sql.streaming.stateStore.providerClass", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val ckpt = Files.createTempDirectory(s"ckpt-compat-$store")
    val changelog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[StateEntry])]()
    val collect: (DataFrame, Long) => Unit =
      (df, id) => changelog.add(id -> df.as[StateEntry].collect().toSeq.sortBy(_.key))
    def manager(m: Option[String]): Unit = m.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    def runFrom(replay: Seq[Seq[KeyedRecord]], fresh: Seq[Seq[KeyedRecord]]): Unit = {
      val input = MemoryStream[KeyedRecord]
      replay.foreach(input.addData(_))
      val q = stream.materialize(stream.recordsFrom(input.toDF())).toDF()
        .writeStream.foreachBatch(collect).outputMode("update")
        .option("checkpointLocation", ckpt.toString).start()
      try fresh.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      stream.configure(spark)
      manager(before)
      runFrom(Nil, batches.take(2))
      manager(after)
      runFrom(batches.take(2), batches.drop(2))
      val files = layout(ckpt)
      Outcome(changelog.asScala.toSeq,
        StateStores.fullScan(spark, store, ckpt.toString).map { case (k, (v, _)) => k -> v },
        lookups.map(k => k -> stream.query(spark, ckpt.toString, k)).toMap,
        files)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (store <- Seq(StoreType.RocksDB, StoreType.Default))
    test(s"checkpoints move between the default manager and CheckpointFiles: $store") {
      val twin = run(store, None, None)
      assert(twin.changelog.map(_._1) == Seq(0L, 1L, 2L, 3L))
      assert(twin.found == Map("n1" -> Some("v4"), "n2" -> Some("v4"), "n3" -> Some("v2"),
        "n4" -> None, "n5" -> None, "n6" -> Some("v1"), "n7" -> Some("v3"), "n8" -> None, "n9" -> None))
      assert(twin.state == twin.found.collect { case (k, Some(v)) => k -> v })
      assert(twin.layout.exists(_.endsWith(".crc")), twin.layout)
      for ((before, after) <- Seq((None, ours), (ours, None), (ours, ours))) {
        val moved = run(store, before, after)
        val label = s"${before.isDefined} -> ${after.isDefined}"
        assert(moved.changelog == twin.changelog, label)
        assert(moved.state == twin.state, label)
        assert(moved.found == twin.found, label)
        assert(moved.layout == twin.layout,
          s"$label: only ours ${moved.layout -- twin.layout}, only the twin's ${twin.layout -- moved.layout}")
      }
    }
}
