package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** The engine's streaming checkpoint manager, installed through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` (GraftSession).
  *
  * Every offset-log, commit-log and state-store commit is a small-file
  * create + rename. Without `libhadoop`, Hadoop's local filesystem runs a
  * child process for each `chmod` (create, mkdirs) and `readlink`
  * (`FileContext.rename`): about 96 per micro-batch of a windowed
  * aggregate, which made checkpointing most of the trigger's fixed cost.
  * For `file:` paths (Hadoop's LocalFileSystem) the writes go through
  * java.nio instead ([[NioCheckpointWrites]]); reads, listing and
  * deletes stay with Spark's FileSystem-based manager, which spawns
  * nothing. Any other filesystem gets exactly what
  * `CheckpointFileManager.create` would pick.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val fs = path.getFileSystem(hadoopConf)
    val m = fs match {
      case _: LocalFileSystem => new NioCheckpointWrites(path, hadoopConf)
      case _ =>
        val spark = new Configuration(hadoopConf)
        spark.unset(LocalCheckpointFileManager.ConfKey)
        CheckpointFileManager.create(path, spark)
    }
    LocalCheckpointFileManager.logChoice(
      path.makeQualified(fs.getUri, fs.getWorkingDirectory), m)
    m
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's key, read by `CheckpointFileManager.create`. */
  val ConfKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val logged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val Layout = Set("offsets", "commits", "sources", "state")

  /** One line per checkpoint root (the parent of the nearest offsets,
    * commits, sources or state directory), not one per store. */
  private def logChoice(p: Path, m: CheckpointFileManager): Unit = {
    val root = Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
      .find(a => Layout(a.getName)).map(_.getParent).getOrElse(p)
    val how = m match {
      case _: NioCheckpointWrites => "java.nio writes, Hadoop local reads"
      case other => s"${other.getClass.getSimpleName} (Spark's default)"
    }
    if (logged.add(s"$root $how")) log.info(s"checkpoint root $root: $how")
  }
}

/** Spark's FileSystem-based manager with the two write primitives of
  * its rename-based output stream replaced, so close/cancel stay Spark's.
  * The temp file is a plain FileOutputStream; an overwriting commit is an
  * atomic rename; a no-overwrite commit is a hard link, which fails
  * atomically when the destination exists (the metadata logs rely on
  * that to detect a second writer). */
private[graft] final class NioCheckpointWrites(
    path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def file(p: Path): File = fs.asInstanceOf[LocalFileSystem].pathToFile(p)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = file(p)
    Files.createDirectories(f.getParentFile.toPath)
    new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f)), null)
  }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit = {
    val (s, d) = (file(src).toPath, file(dst).toPath)
    if (overwriteIfPossible) {
      // a file first written by Spark's default manager has a Hadoop
      // checksum sidecar; left beside new bytes it fails the next read.
      // Dropped before the rename, so no reader sees new bytes + old sum.
      Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    } else {
      try Files.createLink(d, s)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(s)
          throw new FileAlreadyExistsException(s"$dst already exists")
      }
      Files.delete(s)
    }
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(file(p).toPath)

  override def createCheckpointDirectory(): Path = {
    val q = fs.makeQualified(path)
    mkdirs(q)
    q
  }
}
