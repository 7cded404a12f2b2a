package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem,
  UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint file manager that writes local checkpoints
  * without forking a process per file.
  *
  * Why: without libhadoop (`NativeCodeLoader.isNativeCodeLoaded` false),
  * Hadoop's local file system sets the mode of every file and directory
  * it creates by forking `chmod`, and the FileContext API that Spark's
  * default manager uses also forks `readlink` on every rename. A
  * streaming query writes its offset log, its commit log, its sink
  * metadata and its state-store deltas on every micro-batch, so those
  * forks sit on the critical path of every batch.
  *
  * What: for a path whose `FileSystem` is a `LocalFileSystem`, this
  * delegates to Spark's own `FileSystemBasedCheckpointFileManager`, with
  * its file system replaced by a checksummed `LocalFileSystem` over
  * [[CheckpointFiles.NioPermissions]], which sets modes through
  * `java.nio` instead of `chmod`. The FileSystem API renames with
  * `File.renameTo`, so no `readlink` fork happens either. Kept as
  * before: the Hadoop `.crc` sidecar of every file (verified on read),
  * Spark 4.1's checkpoint checksums (the state stores wrap whatever
  * manager this is in their `ChecksumCheckpointFileManager`),
  * rename-on-close atomicity (write a temp file, rename it on close,
  * delete it on `cancel`), no-clobber create (`FileAlreadyExistsException`
  * at close when `overwriteIfPossible` is false and the file exists),
  * and the same file names and modes (644 files, 755 directories under
  * the default umask). Any other file system gets exactly the manager
  * Spark would build: `FileContextBasedCheckpointFileManager`, or
  * `FileSystemBasedCheckpointFileManager` when FileContext does not
  * support the scheme.
  *
  * How it is installed: Spark instantiates the class named by
  * `spark.sql.streaming.checkpointFileManagerClass` (read from the conf
  * of the session that starts the query) through its `(Path,
  * Configuration)` constructor. Graft's checkpointed sinks
  * (`Sinks.parquetAppend`, `Sinks.vectorIngest`) set that key to this
  * class only when the session has no value for it; set the key yourself
  * to choose another manager. The key stays set, so once a graft sink
  * has been built on a session, every later streaming query of that
  * session uses this manager, also one not built through `Sinks`. */
final class CheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    path.getFileSystem(conf) match {
      case _: LocalFileSystem =>
        // checksummed like the cached file:/// instance, but its own
        val local = new LocalFileSystem(new CheckpointFiles.NioPermissions)
        local.initialize(URI.create("file:///"), conf)
        new FileSystemBasedCheckpointFileManager(path, conf) {
          override protected val fs: FileSystem = local
        }
      case _ =>
        // what CheckpointFileManager.create builds when the key is unset;
        // calling it here would read the key again and recurse
        try new FileContextBasedCheckpointFileManager(path, conf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, conf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {

  /** The session conf key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `RawLocalFileSystem` that sets permissions through `java.nio`
    * instead of forking `chmod`. Modes with setuid, setgid or sticky bits
    * (anything above 0777) go to Hadoop's own implementation. */
  private[streaming] final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (mode > 511) super.setPermission(p, permission) // 511 = 0777
      else {
        // PosixFilePermission's order is OWNER_READ ... OTHERS_EXECUTE,
        // i.e. mode bit 8 down to bit 0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values
          .filter(b => (mode & (1 << (8 - b.ordinal))) != 0)
          .foreach(perms.add)
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
