package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The `java.nio` checkpoint file manager: atomic publish, no temp
  * leftovers, Hadoop's exception on a no-overwrite collision.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir(f: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-cfm")
    try f(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("no-overwrite createAtomic onto an existing file fails and keeps the target") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "first", overwrite = false)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel() // what HDFSMetadataLog does next: a no-op
      assert(read(fm, p) == "first")
      assert(names(dir) == Set("0"))
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "1.delta")
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      assert(names(dir).exists(_.endsWith(".tmp")), "the write goes to a temp sibling")
      out.cancel()
      out.close() // after cancel: a no-op, nothing published
      assert(!fm.exists(p))
      assert(names(dir).isEmpty)
    }
  }

  test("overwrite replaces the target atomically") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "2.delta")
      write(fm, p, "old", overwrite = true)
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("new".getBytes(UTF_8))
      assert(read(fm, p) == "old", "the target is untouched until close")
      out.close()
      assert(read(fm, p) == "new")
      assert(names(dir) == Set("2.delta"))
    }
  }

  test("list, seek, delete and the checkpoint directory match Spark's default manager") {
    withDir { dir =>
      val root = new Path(dir.toUri.toString, "cp")
      val fm = manager(dir.resolve("cp"))
      val spark = new FileContextBasedCheckpointFileManager(root, new Configuration())
      assert(fm.createCheckpointDirectory() == spark.createCheckpointDirectory())
      assert(fm.isLocal)
      write(fm, new Path(root, "a"), "0123456789", overwrite = false)
      fm.mkdirs(new Path(root, "sub/deeper"))
      write(fm, new Path(root, "sub/b"), "x", overwrite = true)
      def listing(m: CheckpointFileManager) =
        m.list(root).map(s => (s.getPath.getName, s.isDirectory, s.getLen)).toSet
      assert(listing(fm) == listing(spark))
      assert(fm.list(root, (p: Path) => p.getName == "a").map(_.getPath.getName).toSeq == Seq("a"))
      val in = fm.open(new Path(root, "a"))
      try {
        in.seek(6)
        assert(in.read() == '6')
        val buf = new Array[Byte](3)
        in.readFully(2L, buf)
        assert(new String(buf, UTF_8) == "234")
      } finally in.close()
      intercept[java.io.FileNotFoundException](fm.open(new Path(root, "missing")))
      intercept[java.io.FileNotFoundException](fm.list(new Path(root, "missing")))
      fm.delete(new Path(root, "sub"))
      fm.delete(new Path(root, "missing"))
      assert(!fm.exists(new Path(root, "sub")))
      assert(names(dir.resolve("cp")) == Set("a"))
    }
  }

  test("other schemes delegate to Spark's default manager") {
    val conf = new Configuration()
    // as under a session that names this class: the delegate must not
    // construct it again
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    conf.set("fs.nonlocal.impl", classOf[NonLocalFileSystem].getName)
    conf.setBoolean("fs.nonlocal.impl.disable.cache", true)
    val fm = new LocalCheckpointFileManager(new Path("nonlocal:///checkpoint"), conf)
    // no FileContext for the scheme, so Spark falls back to its
    // FileSystem-based manager, which reports a non-local file system
    assert(!fm.isLocal)
  }
}

/** A file system under a scheme other than `file:`, for delegation. */
class NonLocalFileSystem extends FilterFileSystem(new RawLocalFileSystem)
