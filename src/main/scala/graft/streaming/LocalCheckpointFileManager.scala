package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint file manager that starts no process for `file:` paths.
  * Without `libhadoop`, Hadoop's local filesystem forks a `chmod` per
  * created file and dir, and Spark's default `FileContext` manager two
  * `readlink` per rename. A `file:` path gets Spark's rename-based
  * [[FileSystemBasedCheckpointFileManager]] (`File.renameTo`) over a
  * `LocalFileSystem` that sets the same mode bits through `java.nio`;
  * files, `.crc` sidecars and write-temp-then-rename atomicity stay as
  * they are. Any other scheme gets Spark's default manager. */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override val fs: FileSystem = LocalCheckpointFileManager.localFs(conf)
      }
    else { // Spark's own choice: its factory without this class configured
      val default = new Configuration(conf)
      default.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, default)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean) = delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = delegate.open(p)
  def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  private[graft] val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
  private def localFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem {
      override def setPermission(p: Path, perm: FsPermission): Unit = // the rwx bits `chmod` sets
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
          new FsPermission((perm.toShort & 0x1ff).toShort).toString))
    })
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
}
