package graft.io

import graft.SparkSpec
import graft.api.{SamsaStream, StoreType}
import graft.streaming.KeyedRecord
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** [[CheckpointFiles]] keeps the checkpoint file manager contract on a
  * local path, sends only `file:` paths to the `FileSystem` manager, and
  * a change detector's micro-batches on it start no `readlink` process. */
class CheckpointFilesSpec extends SparkSpec {

  private val key = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager Spark's state stores and logs get for `dir`. */
  private def manager(dir: java.nio.file.Path): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set(key, SamsaStream.stateEngine(StoreType.RocksDB)(key))
    CheckpointFileManager.create(new Path(dir.toUri), conf)
  }

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session's manager for a local checkpoint is the FileSystem one") {
    val dir = Files.createTempDirectory("ckpt-files")
    val m = manager(dir)
    assert(m.isInstanceOf[CheckpointFiles])
    assert(m.asInstanceOf[CheckpointFiles].delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(m.isLocal)
    assert(spark.conf.get(key) == classOf[CheckpointFiles].getName)
  }

  test("createAtomic without overwrite refuses an existing file") {
    val dir = Files.createTempDirectory("ckpt-files")
    val m = manager(dir)
    val p = new Path(new Path(dir.toUri), "0")
    write(m, p, "first", overwrite = false)
    // the offsets and commits logs' guard against a second writer
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(m, p) == "first")
    // the refused write's temp file and its .crc are gone
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet == Set("0", ".0.crc"))
  }

  test("createAtomic with overwrite replaces an existing file and its .crc") {
    val dir = Files.createTempDirectory("ckpt-files")
    val m = manager(dir)
    val p = new Path(new Path(dir.toUri), "0")
    write(m, p, "first", overwrite = false)
    write(m, p, "second, longer", overwrite = true)
    // the read checks the content against the .crc sidecar
    assert(read(m, p) == "second, longer")
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet == Set("0", ".0.crc"))
  }

  test("cancel leaves no temp file and no target") {
    val dir = Files.createTempDirectory("ckpt-files")
    val m = manager(dir)
    val out = m.createAtomic(new Path(new Path(dir.toUri), "1"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(Files.list(dir).count() == 0, Files.list(dir).iterator().asScala.toList)
  }

  test("only file: paths go to the FileSystem manager") {
    val conf = new Configuration()
    assert(CheckpointFiles.local(new Path("file:/tmp/ckpt"), conf))
    assert(CheckpointFiles.local(new Path("/tmp/ckpt"), conf))
    assert(CheckpointFiles.local(new Path("relative/ckpt"), conf))
    for (remote <- Seq("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt", "abfs://c@a.dfs.core.windows.net/ckpt",
        "gs://bucket/ckpt", "viewfs://cluster/ckpt"))
      assert(!CheckpointFiles.local(new Path(remote), conf), remote)
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!CheckpointFiles.local(new Path("/tmp/ckpt"), hdfsDefault))
    assert(CheckpointFiles.local(new Path("file:/tmp/ckpt"), hdfsDefault))
    val dir = new Path(Files.createTempDirectory("ckpt-files").toUri)
    assert(new CheckpointFiles(dir, conf).delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  private def rec(k: String, v: String, t: Long) = KeyedRecord(k, v, "t", 0, new Timestamp(t))

  /** Runs `batches` through a 3-partition RocksDB change detector on
    * `ckpt`, after `replay`, the batches an earlier run of it committed;
    * `during` wraps every batch after the first. */
  private def detect(ckpt: String, batches: Seq[Seq[KeyedRecord]],
      replay: Seq[Seq[KeyedRecord]] = Nil, during: (=> Unit) => Unit = b => b): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = SamsaStream(Seq("t"), "g", "tbl", store = StoreType.RocksDB)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val input = MemoryStream[KeyedRecord]
    replay.foreach(input.addData(_))
    def run(b: Seq[KeyedRecord], q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      input.addData(b)
      q.processAllAvailable()
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      stream.configure(spark)
      val q = stream.detectChanges(stream.recordsFrom(input.toDF())).toDF()
        .writeStream.format("noop").option("checkpointLocation", ckpt).start()
      try {
        run(batches.head, q)
        during(batches.tail.foreach(run(_, q)))
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  test("three micro-batches of a RocksDB change detector start no readlink process") {
    val ckpt = Files.createTempDirectory("ckpt-forks").toString
    val batches = (0 until 4).map(b => (0 until 200).map(i => rec(s"k${i % 50}", s"v${(i + b) % 3}", b * 1000L + i)))
    val events = Files.createTempFile("forks", ".jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    detect(ckpt, batches, during = { body =>
      recording.start()
      try {
        body
        // proves the recording sees a process start when one happens
        new ProcessBuilder("true").start().waitFor()
      } finally recording.stop()
    })
    recording.dump(events)
    recording.close()
    val commands = RecordingFile.readAllEvents(events).asScala.map(_.getString("command")).toSeq
    val program = commands.map(_.trim.split("\\s+").head)
    assert(program.contains("true"), commands)
    assert(!program.exists(_.endsWith("readlink")), commands.filter(_.contains("readlink")))
    info(s"chmod processes over 3 micro-batches: ${program.count(_.endsWith("chmod"))}")
  }

  test("a flipped byte in a committed changelog fails the restart loudly") {
    val ckpt = Files.createTempDirectory("ckpt-flip").toString
    val batches = Seq(
      (0 until 50).map(i => rec(s"k$i", "a", i)),
      (0 until 50).map(i => rec(s"k$i", "b", 1000L + i)))
    detect(ckpt, batches)
    val changelogs = Files.walk(Paths.get(ckpt, "state")).iterator().asScala
      .filter(_.getFileName.toString == "2.changelog").toSeq
    assert(changelogs.size == 3, changelogs)
    val target = changelogs.maxBy(Files.size(_))
    val bytes = Files.readAllBytes(target)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x40).toByte
    Files.write(target, bytes)
    val e = intercept[StreamingQueryException] {
      detect(ckpt, Seq((0 until 50).map(i => rec(s"k$i", "c", 2000L + i))), replay = batches)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain.exists(_.toLowerCase.contains("checksum")), chain.mkString("\n"))
  }
}
