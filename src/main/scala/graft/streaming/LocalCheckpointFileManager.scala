package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager whose atomic writes to `file:` paths go through
  * java.nio instead of Hadoop's local filesystem.
  *
  * Without the native Hadoop library, every permission read or write on a
  * `file:` path forks a shell (~4 ms each), so Spark's default
  * `FileContextBasedCheckpointFileManager.createAtomic` spends 50-60 ms per
  * small log file. Every micro-batch writes at least three (source, offset
  * and commit logs); the temp write + rename here takes under half a
  * millisecond. DESIGN.md "Checkpoint write path" has the measurements.
  *
  * Semantics kept from the default:
  *  - the bytes go to a hidden temp sibling that `close()` publishes;
  *    `cancel()` or any failure on the way removes it;
  *  - `overwriteIfPossible = true` publishes by atomic rename;
  *  - `overwriteIfPossible = false` publishes by hard link, which fails
  *    atomically with Hadoop's `FileAlreadyExistsException` when the target
  *    exists (HDFSMetadataLog reports that as a concurrent writer) and
  *    leaves the existing file untouched;
  *  - no fsync, as in the default on a local filesystem.
  *
  * Spark's default leaves a `.<name>.crc` beside each file, which Hadoop's
  * checksummed reader checks; a stale one is deleted before new bytes are
  * published so a stream can switch between the two managers.
  *
  * Reads, listings, existence checks, deletes and mkdirs go to Spark's
  * `FileSystemBasedCheckpointFileManager`; any other scheme (HDFS, S3, ...)
  * goes wholly to Spark's default manager. Enabled for a session through
  * `spark.sql.streaming.checkpointFileManagerClass` (see GraftSession).
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val localFs: Option[FileSystem] = {
    val scheme =
      Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") Some(path.getFileSystem(hadoopConf)) else None
  }

  private val delegate: CheckpointFileManager =
    if (localFs.isDefined) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's own choice for this path: create() with the key unset
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFs match {
      case Some(fs) =>
        val target = Paths.get(fs.makeQualified(path).toUri)
        val name = target.getFileName.toString
        val temp = target.resolveSibling(s".$name.${UUID.randomUUID}.tmp")
        new LocalCheckpointFileManager.AtomicStream(temp, target, overwriteIfPossible)
      case None => delegate.createAtomic(path, overwriteIfPossible)
    }

  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = delegate.list(path, filter)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private final class AtomicStream(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {

    private var terminated = false

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        // the bytes are being discarded: a failed flush of them is moot
        try underlyingStream.close() catch { case _: IOException => () }
        finally Files.deleteIfExists(temp)
      }
    }

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          publish()
        } catch {
          case e: Throwable =>
            try Files.deleteIfExists(temp) catch { case s: IOException => e.addSuppressed(s) }
            throw e
        }
      }
    }

    private def publish(): Unit = {
      val crc = target.resolveSibling(s".${target.getFileName}.crc")
      if (overwrite) {
        Files.deleteIfExists(crc)
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        if (Files.exists(target)) throw alreadyExists
        Files.deleteIfExists(crc)
        try Files.createLink(target, temp)
        catch { case e: java.nio.file.FileAlreadyExistsException => throw alreadyExists.initCause(e) }
        Files.delete(temp)
      }
    }

    private def alreadyExists = new FileAlreadyExistsException(s"$target already exists")
  }
}
