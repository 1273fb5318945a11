package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption, Path => NioPath}
import java.util.{Comparator, UUID}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's `CheckpointFileManager` for `file:` checkpoints, on
  * `java.nio` alone. Spark's default manager goes through Hadoop's
  * `LocalFs`, which without native `libhadoop` launches a process for
  * every checkpoint file: `readlink` from the `getFileLinkStatus` in
  * each rename, `chmod` from `setPermission` on each create. A stream
  * writes an offset-log and a commit-log entry per trigger, plus a
  * state-store delta (and checksum) file per state partition, so those
  * launches, not the computation, set the trigger's fixed cost.
  *
  * `createAtomic` writes a temp sibling and publishes it on close: with
  * `Files.move(ATOMIC_MOVE)` when overwriting, with `Files.createLink`
  * otherwise, so an existing target fails atomically with Hadoop's
  * `FileAlreadyExistsException` (what `HDFSMetadataLog` expects) and is
  * left as it was. The temp file is removed either way. The no-overwrite
  * path needs hard links, which every POSIX local file system has; set
  * `spark.sql.streaming.checkpointFileManagerClass` explicitly to opt
  * out. Files are Spark's own format, so a checkpoint moves freely
  * between this manager and the default one.
  *
  * Any other scheme (hdfs:, s3a:, ...) delegates to the manager Spark
  * would have picked without this class.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val fm: CheckpointFileManager =
    if (isLocalFile(path, hadoopConf)) new NioCheckpointFileManager(path)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {

  /** The session conf Spark reads to pick a checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val BlockSize = 32L << 20 // Hadoop's fs.local.block.size default
  private val BufferSize = 64 << 10

  private def isLocalFile(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def local(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private final class NioCheckpointFileManager(root: Path) extends CheckpointFileManager {

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Option(target.getParent).foreach(Files.createDirectories(_))
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(p, target, temp, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = {
      val ch = try FileChannel.open(local(p), StandardOpenOption.READ)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), BufferSize))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
      if (!Files.isDirectory(dir)) status(p, dir).filter(s => filter.accept(s.getPath)).toArray
      else Using.resource(Files.newDirectoryStream(dir)) { entries =>
        entries.asScala.flatMap { e =>
          val child = new Path(p, e.getFileName.toString)
          if (filter.accept(child)) status(child, e) else None
        }.toArray
      }
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val target = local(p)
      try {
        if (!Files.isDirectory(target, LinkOption.NOFOLLOW_LINKS)) Files.deleteIfExists(target)
        else Using.resource(Files.walk(target)) {
          _.sorted(Comparator.reverseOrder[NioPath]()).forEach(f => Files.deleteIfExists(f))
        }
      } catch { case _: NoSuchFileException => () } // deleted concurrently
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val dir = local(root).toAbsolutePath
      Files.createDirectories(dir)
      new Path("file", null, dir.toString)
    }

    /** None when the file vanished between listing and stat. */
    private def status(p: Path, f: NioPath): Option[FileStatus] =
      try {
        val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, BlockSize,
          a.lastModifiedTime.toMillis, p))
      } catch { case _: NoSuchFileException => None }
  }

  /** Writes `temp`; `close` publishes it as `target`, `cancel` drops it. */
  private final class AtomicOutput(p: Path, target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
        BufferSize)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, temp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$p already exists") }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }

  /** A positioned, seekable read over a file channel, for
    * `BufferedFSInputStream` to buffer (as Hadoop's raw local stream is).
    */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    private val one = new Array[Byte](1)
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len), position)
    override def available(): Int =
      math.min(Int.MaxValue.toLong, math.max(0L, ch.size - ch.position)).toInt
    override def close(): Unit = ch.close()
  }
}
