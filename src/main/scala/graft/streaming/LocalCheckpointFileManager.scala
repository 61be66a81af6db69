package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint file manager that keeps local checkpoint I/O in the JVM.
  *
  * Spark's default manager goes through Hadoop's `FileContext`. On a local
  * path without libhadoop, that forks a `chmod` for every file it creates
  * (`RawLocalFileSystem.setPermission`) and two `readlink`s for every
  * rename (`FileContext.rename` → `getFileLinkStatus`). Offset-log,
  * commit-log and state-store files are written on every micro-batch, so
  * these forks sit on every trigger's critical path.
  *
  * Local paths (`file:`, or no scheme under a `file:` default filesystem)
  * use Spark's `FileSystemBasedCheckpointFileManager` over a checksummed
  * Hadoop `LocalFileSystem` whose raw filesystem sets permissions through
  * `java.nio`, and whose rename is `File.renameTo`. What stays as before:
  * writes are atomic (temp file, then rename); `overwriteIfPossible=false`
  * on an existing file throws Hadoop's `FileAlreadyExistsException`; the
  * `.crc` sidecars and the 0644 mode (0666 under the 022 umask) are
  * unchanged, so checkpoints written by either manager resume under the
  * other. Reads verify the `.crc` sidecar and fail with `ChecksumException`
  * on a corrupted file. Spark's state-file checksums still apply, since
  * Spark wraps whichever base manager is configured.
  *
  * Any other scheme gets exactly what Spark would create without this
  * class configured. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalPath(path, hadoopConf))
      new NioLocalCheckpointFileManager(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The conf through which Spark picks its checkpoint file manager
    * (`CheckpointFileManager.create` reads it from the Hadoop conf, which
    * every session conf is copied into). */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make the session's streaming queries use this manager, unless a
    * manager is already configured: a user-set key always wins. Takes
    * effect for queries started afterwards. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private[streaming] def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}

/** Spark's filesystem-based manager over a fork-free `LocalFileSystem`. */
private final class NioLocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  override protected val fs: FileSystem = {
    val local = new LocalFileSystem(new NioRawLocalFileSystem)
    local.initialize(URI.create("file:///"), conf)
    local
  }
}

/** `RawLocalFileSystem` that sets permissions with `java.nio` instead of
  * forking `chmod` (which it does whenever libhadoop is not loaded). The
  * symbolic form (`rw-r--r--`) maps one to one unless the sticky bit is set. */
private final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
