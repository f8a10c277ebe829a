package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of every stream run: [[StreamingOps.runTuned]]
  * names it as `spark.sql.streaming.checkpointFileManagerClass`, so the
  * offset and commit logs, the source log and the state-store files all go
  * through it.
  *
  * Spark's default manager renames through `FileContext`, which on a local
  * root forks a `readlink` per rename; and without libhadoop, Hadoop's raw
  * local FS forks a `chmod` per create and mkdirs. For a `file:` root this
  * manager is Spark's FileSystem-based one (its rename is `FileSystem.rename`,
  * no readlink) over a checksummed local FS whose permission call stays in
  * the JVM: the same `.crc` files, temp-file-then-rename writes and modes,
  * with no process started. Any other scheme keeps Spark's FileContext-based
  * manager and its atomic rename.
  */
final class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val fm: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path, conf)) new FileSystemBasedCheckpointFileManager(path, conf) {
      override protected val fs: FileSystem = CheckpointFiles.localFs(conf)
    }
    else new FileContextBasedCheckpointFileManager(path, conf)

  def createAtomic(p: Path, overwriteIfPossible: Boolean) = fm.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = fm.open(p)
  def list(p: Path, filter: PathFilter) = fm.list(p, filter)
  def mkdirs(p: Path): Unit = fm.mkdirs(p)
  def exists(p: Path) = fm.exists(p)
  def delete(p: Path): Unit = fm.delete(p)
  def isLocal = fm.isLocal
  def createCheckpointDirectory() = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object CheckpointFiles {
  /** Whether `path` resolves to the local filesystem: its own scheme, or the
    * default filesystem's when it has none. */
  private[graft] def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A checksummed local FS, as `FileSystem.getLocal` returns, whose raw
    * layer sets permissions without forking. Not cached: it holds nothing
    * to close. */
  private[graft] def localFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new NoForkRawLocalFileSystem)
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Hadoop's raw local FS with `setPermission` through java.nio: the same 9
    * mode bits `chmod` would set. A sticky bit, which nio cannot set, still
    * goes to Hadoop's own call. */
  private final class NoForkRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(
        pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
  }
}
