package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for local-disk streaming checkpoints that
  * starts no OS process per file.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` runs
  * `chmod` in a shell on every file create (`setPermission`) and the
  * default `FileContextBasedCheckpointFileManager` runs `readlink` on
  * every rename (`getFileLinkStatus`). Each state-store commit writes a
  * delta file and a checksum sidecar, each a temp write plus a rename,
  * so on the stock path those forks dominate a stream-stream join's
  * executor time.
  *
  * This manager is Spark's `FileSystemBasedCheckpointFileManager`
  * (rename through `FileSystem.rename`, i.e. `File.renameTo`, atomic on
  * a POSIX disk) over a private copy of the Hadoop conf that binds
  * `file://` to [[LocalCheckpointFileManager.NoForkLocalFileSystem]]:
  * still a `ChecksumFileSystem`, so `.crc` sidecars are written and
  * verified on read, and Spark still wraps it in its own
  * `ChecksumCheckpointFileManager` when checkpoint checksums are on.
  * The copy disables the `file://` FileSystem cache, so the JVM-wide
  * cached local file system is never replaced. Non-local paths are
  * rejected: the atomic-rename argument holds only on a local disk. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends FileSystemBasedCheckpointFileManager(path,
    LocalCheckpointFileManager.localConf(path, hadoopConf))

object LocalCheckpointFileManager {

  /** A copy of `hadoopConf` whose `file://` file system forks nothing;
    * throws for a path whose scheme is not `file`. */
  private def localConf(path: Path, hadoopConf: Configuration): Configuration = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFileManager needs a local (file://) checkpoint path, got $path")
    val conf = new Configuration(hadoopConf)
    conf.setClass("fs.file.impl", classOf[NoForkLocalFileSystem], classOf[FileSystem])
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** The stock checksummed local file system over [[NoForkRawLocalFileSystem]]. */
  class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

  /** `RawLocalFileSystem` whose `setPermission` sets the nine rwx bits
    * through NIO instead of a `chmod` process. Any other bit (sticky,
    * setuid) goes to the stock implementation. */
  private[streaming] class NoForkRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
  }
}
