package graft.streaming

import java.nio.file.{Files => NioFiles}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every `Sessions.local` session registers
  * (`spark.sql.streaming.checkpointFileManagerClass`), so the offset and
  * commit logs, the state-store deltas and checksums, and the file sink
  * manifest of every query are written through it.
  *
  * Why it exists: without the native Hadoop library, Hadoop's local
  * filesystem sets a permission by forking `chmod` (and reads one by
  * forking `stat`). Spark's default manager (`FileContext` over
  * `ChecksumFs`) pays about 20 child processes and ~37 ms per committed
  * file that way on a 4-core Linux host, against ~0.2 ms for the same
  * write and rename done directly — and a stream trigger commits about 11
  * such files (offsets, commits, 4 state deltas, 4 state checksums, the
  * sink manifest), which made checkpointing the largest fixed cost of a
  * paced micro-batch.
  *
  * For `file:` paths this is Spark's own `FileSystemBasedCheckpointFileManager`
  * over a private `LocalFileSystem` (not Hadoop's shared cached one) whose
  * raw layer sets permissions through `java.nio` ([[NioRawLocalFileSystem]]). Everything
  * else stays in Hadoop/Spark code: temp-file-then-rename commits, the
  * no-overwrite check, the `.crc` sidecars, Spark's state-file checksums,
  * the permissions and the umask. The no-overwrite check is
  * exists-then-rename rather than FileContext's atomic rename, which is
  * exact for the single writer a query's checkpoint has. Any other scheme
  * gets `FileContextBasedCheckpointFileManager`, Spark's default. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends CheckpointFileManager {

  private val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new NioCheckpointFileManager(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(p: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** The Spark conf that selects a checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}

/** Spark's `FileSystemBasedCheckpointFileManager` over its own checksummed
  * `LocalFileSystem` (`.crc` sidecars) on [[NioRawLocalFileSystem]], never
  * the cached instance the rest of the process shares. */
private class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  override protected val fs: FileSystem = {
    val local = new LocalFileSystem(new NioRawLocalFileSystem)
    local.initialize(java.net.URI.create("file:///"), hadoopConf)
    local
  }
}

/** `RawLocalFileSystem` whose `setPermission` is a `java.nio` call instead
  * of a forked `chmod`. A sticky bit, which NIO cannot express, goes to
  * Hadoop's own path. */
private class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else NioFiles.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
