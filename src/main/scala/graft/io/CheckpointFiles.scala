package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}

/** Spark's checkpoint file manager for `path`, picked by its scheme:
  * Hadoop's `FileSystem` API for `file:` paths, `FileContext` (Spark's
  * default) for every other scheme, whose atomic rename-with-overwrite
  * HDFS needs. Named by `spark.sql.streaming.checkpointFileManagerClass`
  * (see [[graft.api.SamsaStream.stateEngine]]), which is session-wide,
  * hence the choice per path.
  *
  * On a local path without `libhadoop`, the `FileContext` rename resolves
  * each path through `FileUtil.readLink`, one `readlink` process per
  * path: 64 forks per micro-batch of a 3-partition RocksDB query. The
  * `FileSystem` rename is one `File.renameTo`, with the same
  * exists-check for a rename that must not overwrite; Hadoop's `.crc`
  * sidecars and Spark's checkpoint checksum files are written as before.
  * The `FileSystem` is [[CheckpointFiles.LocalFs]], whatever the
  * classpath registers for `file:` (see [[CheckpointFiles.Local]]).
  *
  * The delegates are built directly: `CheckpointFileManager.create`
  * would construct this class again. */
final class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (CheckpointFiles.local(path, conf)) new CheckpointFiles.Local(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {

  /** Whether `path` is on the local file system: its scheme, or the
    * default file system's when it has none, is `file`. */
  def local(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Hadoop's raw local file system, setting permissions through NIO.
    * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a
    * `chmod` process, and `create` and `mkdirs` call it for every file
    * and directory they make: 856 of the 926 processes a 6-second
    * `store_restore` perfbench run started (seed 1). A fork costs about 4 ms from a
    * JVM with a 2 GB heap, the NIO call 0.004-0.012 ms (200 calls each
    * on a 4-vCPU VM). The mode is set whole through
    * the `unix:mode` attribute, so the sticky, setuid and setgid bits
    * land as `chmod` would set them (`setPosixFilePermissions` carries
    * only the nine rwx bits). A JDK without the `unix` attribute view
    * keeps Hadoop's `chmod`. */
  class RawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      try Files.setAttribute(file, "unix:mode", Integer.valueOf(permission.toShort & 0xfff))
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  /** The checksummed local file system over [[RawLocalFs]]: Hadoop's
    * `LocalFileSystem`, forking no `chmod`. The class that
    * [[graft.api.SamsaStream.stateEngine]] names as `fs.file.impl`, so the
    * state stores' own file copies and Spark's checkpoint directories use
    * it too. */
  class LocalFs extends LocalFileSystem(new RawLocalFs)

  /** Spark's `FileSystem` manager on [[LocalFs]]. Spark's distribution
    * also registers Hive's `ProxyLocalFileSystem` for `file:`, and it can
    * be the one `Path.getFileSystem` returns; its rename refuses an
    * existing target, so an overwriting `createAtomic` (the state stores'
    * changelog, delta and snapshot files) would keep the old file and
    * report success. The instance is this manager's own: the file system
    * cache is keyed by scheme, not by class.
    *
    * A rename refused because the target exists (a non-overwriting
    * `createAtomic`: the offsets and commits logs' guard against a
    * second writer) deletes the temp file and its `.crc` before the
    * refusal propagates; Spark's output stream leaves both behind. */
  private[io] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFs
      local.initialize(java.net.URI.create("file:///"), conf)
      local
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      try super.renameTempFile(src, dst, overwriteIfPossible)
      catch {
        case e: FileAlreadyExistsException =>
          fs.delete(src, false)
          throw e
      }
  }
}
