package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.sources.Staging

/** A Spark `CheckpointFileManager` that does its `file:` work through
  * `java.nio`. Without Hadoop's native library, Hadoop's local file system
  * sets every permission by running a `chmod` child process, so Spark's
  * default manager spends tens of milliseconds on each tiny checkpoint
  * file (offset, commit and source logs, state-store deltas and
  * snapshots); here no call starts a process. Each file gets the name and
  * the bytes Spark's default manager gives it. Only Hadoop's hidden `.crc`
  * side files are not written, and a stale one is removed when its file
  * is replaced or deleted, so either manager resumes the other's
  * checkpoint. Like Hadoop's local file system, nothing is fsynced.
  *
  * Any other scheme goes to Spark's `FileContextBasedCheckpointFileManager`.
  * Spark instantiates this class by name, once per checkpoint root, when
  * `spark.sql.streaming.checkpointFileManagerClass` names it
  * ([[StreamConf.CheckpointFiles]], which [[Replay.drain]] holds). */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocal(path, conf)) new LocalCheckpointFiles.Nio(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {

  /** True when `p` is on the local file system: a `file:` path, or a path
    * without a scheme while the default file system is `file:`. */
  private[streaming] def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** The checksum side file Hadoop's local file system keeps for `f`. */
  private def crc(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** The `file:` half, for the checkpoint root `root`. */
  private final class Nio(root: Path, conf: Configuration) extends CheckpointFileManager {

    /** Writes a hidden temp file next to the target; `close` renames it
      * into place. Without `overwriteIfPossible` the temp file is
      * hard-linked to the target instead, which fails atomically when the
      * target exists and leaves its bytes as they were. */
    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicFile(target, tmp, overwriteIfPossible,
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    }

    override def open(p: Path): FSDataInputStream = {
      val ch =
        try FileChannel.open(local(p), StandardOpenOption.READ)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), 65536))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val entries =
        try Files.list(local(p))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
      try entries.iterator.asScala.map(f => new Path(p, f.getFileName.toString))
        .filter(filter.accept).map { child =>
          val f = local(child)
          new FileStatus(Files.size(f), Files.isDirectory(f), 1, 0L,
            Files.getLastModifiedTime(f).toMillis, child)
        }.toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = { Files.createDirectories(local(p)); () }
    override def exists(p: Path): Boolean = Files.exists(local(p))
    override def delete(p: Path): Unit = {
      Staging.rmTree(local(p).toFile)
      Files.deleteIfExists(crc(local(p)))
      ()
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = root.makeQualified(FileSystem.getDefaultUri(conf),
        new Path(Paths.get("").toAbsolutePath.toString))
      mkdirs(qualified)
      qualified
    }
  }

  private final class AtomicFile(
      target: JPath, tmp: JPath, overwrite: Boolean, raw: OutputStream)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(raw, 65536)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite)
            Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          Files.deleteIfExists(crc(target))
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try raw.close() catch { case NonFatal(_) => }
        finally Files.deleteIfExists(tmp)
      }
    }
  }

  /** A seekable read of one local file. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = ByteBuffer.allocate(1)
      if (ch.read(one) <= 0) -1 else one.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = ch.close()
  }
}
