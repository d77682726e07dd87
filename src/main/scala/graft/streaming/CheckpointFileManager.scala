package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager => SparkCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager [[Streams.start]] names for every graft
  * streaming query. A `file:` path goes to Spark's FileSystem-based
  * manager; every other scheme gets Spark's own choice (FileContext-based,
  * falling back to FileSystem-based). Both write the same files, `.crc`
  * checksums included. On a local disk the FileContext manager's rename
  * calls `RawLocalFileSystem.getFileLinkStatus`, which forks a `readlink`
  * process per call: 16 forks per trigger for the offset- and commit-log
  * entries, about a third of a warm 100-row trigger's wall time.
  */
class CheckpointFileManager(path: Path, conf: Configuration)
    extends SparkCheckpointFileManager {

  private[graft] val delegate: SparkCheckpointFileManager =
    if (CheckpointFileManager.isFileScheme(path, conf))
      new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      val sparkChoice = new Configuration(conf)
      sparkChoice.unset(CheckpointFileManager.ClassKey)
      SparkCheckpointFileManager.create(path, sparkChoice)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : SparkCheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFileManager {
  /** Spark's session conf key naming the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `path`, resolved against the default file system, is local. */
  private[graft] def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
