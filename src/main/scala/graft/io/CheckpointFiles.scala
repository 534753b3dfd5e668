package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

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
  * The `FileSystem` is Hadoop's own `LocalFileSystem`, whatever the
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

  /** Spark's `FileSystem` manager on Hadoop's own `LocalFileSystem`.
    * Spark's distribution also registers Hive's `ProxyLocalFileSystem` for
    * `file:`, and it can be the one `Path.getFileSystem` returns; its
    * rename refuses an existing target, so an overwriting `createAtomic`
    * (the state stores' changelog, delta and snapshot files) would keep
    * the old file and report success. The instance is this manager's own:
    * the file system cache is keyed by scheme, not by class.
    *
    * A rename refused because the target exists (a non-overwriting
    * `createAtomic`: the offsets and commits logs' guard against a
    * second writer) deletes the temp file and its `.crc` before the
    * refusal propagates; Spark's output stream leaves both behind. */
  private[io] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem()
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
