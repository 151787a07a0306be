package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every streaming query of the engine:
  * the driver's offset, commit and metadata logs and the executors'
  * RocksDB changelog and snapshot files. [[graft.GraftSession.stateStore]]
  * names it as the session's checkpoint file manager class, which Spark
  * reads from the Hadoop conf that carries the session's SQL confs.
  *
  * It picks one of Spark's two managers once, from the file system of
  * `path`:
  *  - local ([[isLocal]]): Spark's `FileSystemBasedCheckpointFileManager`
  *    over Hadoop's own `LocalFileSystem`. Its atomic write renames
  *    through `ChecksumFileSystem.rename`, that is rename(2), which
  *    replaces the target atomically on POSIX and moves the `.crc` with
  *    the file. Spark's default `FileContextBasedCheckpointFileManager`
  *    renames a local file through `ChecksumFs`, which resolves links by
  *    forking a `readlink` process per path: several processes per file
  *    written, that is per log entry and per state-store commit.
  *  - anything else: Spark's default, unchanged. `FileSystem.rename` on
  *    HDFS does not replace an existing file, and the file-system manager
  *    then silently keeps the old file where the caller asked for an
  *    overwrite (a re-run batch's changelog); `FileContext` replaces it.
  *
  * The local manager gets a `LocalFileSystem` of its own
  * ([[CheckpointFiles.LocalFiles]]), not the cached instance `file:`
  * resolves to: that may be a subclass with the HDFS rename rule. Hive's
  * `ProxyLocalFileSystem`, which `hive-exec` registers for `file:` beside
  * Spark, refuses to rename onto an existing file. Its own instance also
  * sets file modes in this process: Hadoop's, without its native library,
  * forks a `chmod` for every file and `.crc` it creates and every
  * directory it makes.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path.getFileSystem(hadoopConf)))
      new FileSystemBasedCheckpointFileManager(path, CheckpointFiles.plainLocal(hadoopConf))
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = delegate.list(path, filter)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {

  /** Whether `fs` is the local file system (or a subclass of it). */
  def isLocal(fs: FileSystem): Boolean = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem => true
    case _ => false
  }

  /** Hadoop's `LocalFileSystem` (checksums, rename(2)) over [[RawFiles]]. */
  final class LocalFiles extends LocalFileSystem(new RawFiles)

  /** Hadoop's `RawLocalFileSystem` that sets a file's mode through
    * java.nio instead of a forked `chmod`. The fork is not only a process
    * per file: Hadoop's `Shell` drops an interrupt that reaches it while it
    * joins its reader thread, so a `StreamingQuery.stop()` whose interrupt
    * lands in a checkpoint write goes unnoticed by the query's thread and
    * waits for the whole next micro-batch. java.nio sets no
    * sticky bit, so a mode with one keeps Hadoop's path. */
  final class RawFiles extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** The rwx bits of `mode` (owner, group, others: the enum's order). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val all = PosixFilePermission.values
    all.indices.filter(i => (mode & (1 << (8 - i))) != 0).map(all(_)).toSet.asJava
  }

  /** `conf` with `file:` bound to a new, uncached [[LocalFiles]]. It
    * holds no resources, so nothing closes it. */
  private def plainLocal(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.setClass("fs.file.impl", classOf[LocalFiles], classOf[FileSystem])
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}
