package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.util.UUID
import scala.util.control.NonFatal

/** Checkpoint file manager that writes `file:` checkpoints with the
  * JDK's file API instead of Hadoop's local filesystem.
  *
  * Without libhadoop, Hadoop's local filesystem sets the permissions of
  * every file and directory it creates by starting a `chmod`/`stat`
  * subprocess. Spark's default manager pays that on every offset-log,
  * commit-log, file-source-log, sink-log and state-store file, i.e.
  * several times per micro-batch on the critical path. Here an atomic
  * write goes to a hidden temp file in the target directory, is fsynced,
  * and is published by rename (overwrite) or by hard link (no
  * overwrite: an existing target fails the link atomically, as
  * Hadoop's rename without OVERWRITE does). Reads, listing, existence
  * checks and deletes stay on Hadoop's `FileSystem`, which starts no
  * processes for them and still verifies the `.crc` sidecars that
  * checkpoints written by Spark's manager carry. Every other scheme is
  * served by the manager Spark would pick without this class.
  *
  * Selected through `spark.sql.streaming.checkpointFileManagerClass`
  * (see [[graft.GraftSession]]); Spark instantiates it reflectively
  * with this constructor for each log and state store.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val fm: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new JdkWrites(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {

  /** Spark's key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's `FileSystem`-based manager with the writing operations
    * (atomic create, mkdirs) replaced by the JDK's.
    */
  private final class JdkWrites(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    private def local(p: Path): JPath =
      new File(fs.makeQualified(p).toUri.getPath).toPath

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      val dir = Files.createDirectories(target.getParent)
      val name = target.getFileName.toString
      val tmp = dir.resolve(s".$name.${UUID.randomUUID}.tmp")
      new AtomicFile(tmp, target, dir.resolve(s".$name.crc"),
        overwriteIfPossible, new FileOutputStream(tmp.toFile))
    }

    override def mkdirs(p: Path): Unit = {
      Files.createDirectories(local(p))
      ()
    }

    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(path)
      Files.createDirectories(local(q))
      q
    }
  }

  /** Bytes go to `tmp`; `close()` fsyncs and publishes them at
    * `target`, `cancel()` drops them. Either way `tmp` is gone after.
    * java.io, not a `FileChannel`: stopping a query interrupts its
    * thread, and an interrupt closes a channel under a write in flight.
    */
  private final class AtomicFile(tmp: JPath, target: JPath, crc: JPath,
      overwrite: Boolean, file: FileOutputStream)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(file, 1 << 16)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          try {
            flush()
            file.getFD.sync()
          } finally underlyingStream.close()
          // A `.crc` that Hadoop wrote for older bytes at `target` would
          // fail every checksummed read of the new ones.
          Files.deleteIfExists(crc)
          if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, tmp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
                  .initCause(e)
            }
        } finally Files.deleteIfExists(tmp)
        ()
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close()
        catch { case NonFatal(_) => }
        finally Files.deleteIfExists(tmp)
        ()
      }
    }
  }
}
