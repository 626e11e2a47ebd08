package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.Tables

/** The checkpoint file manager of every graft session, named in
  * [[graft.Tables.sessionConfigs]]. Spark builds each streaming
  * checkpoint writer through it: the offset and commit logs and the
  * state store files.
  *
  * On a local (`file`) path it delegates to Spark's FileSystem-based
  * manager over its own [[LocalModesFileSystem]]. Without Hadoop's native
  * library, the local filesystem forks a process in two places on every
  * checkpoint file, and this manager avoids both:
  *  - `readlink`: Spark's default, the FileContext-based manager, reaches
  *    its rename through `RawLocalFileSystem.getFileLinkStatus`, which
  *    forks `readlink` for the source and the destination of every
  *    rename. The FileSystem-based manager renames with one `rename(2)`.
  *  - `chmod`: `RawLocalFileSystem` sets the mode of every file and
  *    directory it creates (the `.crc` files too) by forking `chmod`.
  *    [[LocalModesFileSystem]] sets it in-process.
  *
  * Unchanged: the `.crc` files are written and verified, Spark's state
  * file checksums stay, and each file is still written to a temp file
  * and renamed into place. Every other scheme gets what Spark picks when
  * no manager is named: HDFS's `FileSystem.rename` does not overwrite,
  * so the FileContext manager stays there.
  */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    // A path without a scheme is on the default filesystem.
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, CheckpointFiles.localModes(conf))
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

object CheckpointFiles {

  /** A copy of `conf` whose `file` scheme is a new, uncached
    * [[LocalModesFileSystem]]. Hadoop's JVM-wide filesystem cache keys on
    * scheme, authority and user, not on the conf, so a cached instance
    * would be whichever class first filled the cache; the manager built
    * over this conf gets its own, once.
    */
  private[graft] def localModes(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.setClass("fs.file.impl", classOf[LocalModesFileSystem], classOf[FileSystem])
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}

/** Hadoop's checksummed local filesystem over [[InProcessModes]]. */
class LocalModesFileSystem extends LocalFileSystem(new InProcessModes)

/** The raw local filesystem, but it sets a file's mode with
  * `Files.setPosixFilePermissions` instead of forking `chmod` (Hadoop's
  * way without its native library). The sticky bit has no
  * `PosixFilePermission`, and a filesystem without POSIX modes rejects
  * the call; both go to Hadoop's own implementation.
  */
class InProcessModes extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner rwx, group rwx, others rwx: the
      // bits 0400 down to 0001, in that order.
      val bits = permission.toShort
      val modes = PosixFilePermission.values.filter(m => (bits & (0x100 >> m.ordinal)) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(modes: _*))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
