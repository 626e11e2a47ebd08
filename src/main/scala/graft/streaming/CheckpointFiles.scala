package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.Tables

/** The checkpoint file manager of every graft session, named in
  * [[graft.Tables.sessionConfigs]]. Spark builds each streaming
  * checkpoint writer through it: the offset and commit logs and the
  * state store files.
  *
  * On a local (`file`) path it delegates to Spark's FileSystem-based
  * manager, which writes a temp file and renames it over the target with
  * one `rename(2)`. Spark's default, the FileContext-based manager,
  * reaches the same rename through `RawLocalFileSystem.getFileLinkStatus`;
  * without Hadoop's native library that forks `readlink` processes for
  * the source and the destination of every rename. Every other
  * scheme gets what Spark picks when no manager is named: HDFS's
  * `FileSystem.rename` does not overwrite, so the FileContext manager
  * stays there.
  */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    // A path without a scheme is on the default filesystem.
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      val unnamed = new Configuration(conf)
      unnamed.unset(Tables.checkpointFileManagerKey)
      CheckpointFileManager.create(path, unnamed)
    }
  }

  override def createAtomic(
      path: Path,
      overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
