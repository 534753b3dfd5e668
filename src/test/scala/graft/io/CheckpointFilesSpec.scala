package graft.io

import graft.SparkSpec
import graft.api.{SamsaStream, StoreType}
import graft.streaming.KeyedRecord
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** [[CheckpointFiles]] keeps the checkpoint file manager contract on a
  * local path, sends only `file:` paths to the `FileSystem` manager, and
  * sets permissions without a process: a change detector's micro-batches,
  * and a restart and a lookup, start no `readlink` or `chmod` process. */
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

  private val stream = SamsaStream(Seq("t"), "g", "tbl", store = StoreType.RocksDB)

  /** Runs `batches` through a 3-partition RocksDB change detector (or,
    * with `materialize`, a latest-wins store) on `ckpt`, after `replay`,
    * the batches an earlier run of it committed; `during` wraps every
    * batch after the first. */
  private def detect(ckpt: String, batches: Seq[Seq[KeyedRecord]],
      replay: Seq[Seq[KeyedRecord]] = Nil, during: (=> Unit) => Unit = b => b,
      materialize: Boolean = false): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
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
      val records = stream.recordsFrom(input.toDF())
      val out = if (materialize) stream.materialize(records).toDF() else stream.detectChanges(records).toDF()
      val q = out.writeStream.format("noop").outputMode(if (materialize) "update" else "append")
        .option("checkpointLocation", ckpt).start()
      try {
        run(batches.head, q)
        during(batches.tail.foreach(run(_, q)))
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  /** The program of every process this JVM starts while `body` runs. A
    * process started at the end proves the recording sees one. */
  private def processes(body: => Unit): Seq[String] = {
    val events = Files.createTempFile("forks", ".jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      body
      new ProcessBuilder("true").start().waitFor()
    } finally recording.stop()
    recording.dump(events)
    recording.close()
    val program = RecordingFile.readAllEvents(events).asScala
      .map(_.getString("command").trim.split("\\s+").head).toSeq
    Files.delete(events)
    assert(program.contains("true"), program)
    program.diff(Seq("true"))
  }

  private def forks(program: Seq[String], name: String): Seq[String] = program.filter(_.endsWith(name))

  test("three micro-batches of a RocksDB change detector start no readlink process") {
    val ckpt = Files.createTempDirectory("ckpt-forks").toString
    val batches = (0 until 4).map(b => (0 until 200).map(i => rec(s"k${i % 50}", s"v${(i + b) % 3}", b * 1000L + i)))
    var program = Seq.empty[String]
    detect(ckpt, batches, during = body => program = processes(body))
    assert(forks(program, "readlink").isEmpty, program)
    assert(forks(program, "chmod").isEmpty, program)
    info(s"rm processes over 3 micro-batches: ${forks(program, "rm").size}")
  }

  test("a restart and one lookup start no chmod or readlink process") {
    val ckpt = Files.createTempDirectory("ckpt-forks").toString
    val batches = Seq(
      (0 until 50).map(i => rec(s"k$i", "a", i)),
      (0 until 50).map(i => rec(s"k$i", "b", 1000L + i)))
    detect(ckpt, batches, materialize = true)
    val program = processes {
      detect(ckpt, Seq((0 until 50).map(i => rec(s"k$i", "c", 2000L + i))), replay = batches, materialize = true)
      assert(stream.query(spark, ckpt, "k7") == Some("c"))
    }
    assert(forks(program, "readlink").isEmpty, program)
    assert(forks(program, "chmod").isEmpty, program)
    info(s"rm processes over one restart and one lookup: ${forks(program, "rm").size}")
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def perm(octal: String): FsPermission = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("the NIO setPermission sets the mode Hadoop's chmod sets, on files and directories") {
    val (hadoop, nio) = (raw(new RawLocalFileSystem), raw(new CheckpointFiles.RawLocalFs))
    val dir = Files.createTempDirectory("perm")
    for (octal <- Seq("644", "600", "755", "1777", "1750"); isDir <- Seq(false, true)) {
      val Seq(a, b) = Seq("hadoop", "nio").map { n =>
        val p = dir.resolve(s"$n-$octal-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
      }
      hadoop.setPermission(new Path(a.toUri), perm(octal))
      nio.setPermission(new Path(b.toUri), perm(octal))
      assert(mode(b) == mode(a), s"$octal, directory: $isDir")
      assert(mode(b) == Integer.parseInt(octal, 8), s"$octal, directory: $isDir")
    }
  }

  test("the NIO setPermission on a missing path throws FileNotFoundException") {
    val nio = raw(new CheckpointFiles.RawLocalFs)
    val missing = new Path(Files.createTempDirectory("perm").resolve("missing").toUri)
    intercept[FileNotFoundException](nio.setPermission(missing, perm("644")))
  }

  test("the state engine's settings resolve file: paths to the process-free file system, uncached") {
    val conf = new Configuration()
    SamsaStream.stateEngine(StoreType.RocksDB).foreach { case (k, v) => conf.set(k, v) }
    val dir = new Path(Files.createTempDirectory("ckpt-files").toUri)
    val fs = dir.getFileSystem(conf)
    assert(fs.isInstanceOf[CheckpointFiles.LocalFs], fs.getClass)
    assert(fs ne dir.getFileSystem(conf))
    // created files and directories get the requested mode
    val sub = new Path(dir, "a/b")
    assert(fs.mkdirs(sub, perm("750")))
    assert(mode(java.nio.file.Paths.get(sub.toUri)) == Integer.parseInt("750", 8))
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
