package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.runtime.LocalCheckpointFileManager

/** The local disk under a `fake:` scheme that has no `FileContext`
  * binding: a non-`file:` filesystem that needs no network.
  */
class FakeSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("fake:///")
  override def getScheme: String = "fake"
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    FakeSchemeFileSystem.mkdirsCalls.incrementAndGet()
    super.mkdirs(p, permission)
  }
}

object FakeSchemeFileSystem {
  val mkdirsCalls = new AtomicInteger(0)
}

/** `LocalCheckpointFileManager`: java.nio atomic writes on `file:` paths,
  * Spark's default manager for everything else.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()
  conf.set("fs.fake.impl", classOf[FakeSchemeFileSystem].getName)
  conf.setBoolean("fs.fake.impl.disable.cache", true)

  private def withDir(f: NioPath => Unit): Unit = f(tempDir("graft-ckpt-fm"))

  private def hpath(p: NioPath): Path = new Path(p.toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      out.write(text.getBytes(UTF_8))
      out.close()
    } catch {
      case e: Throwable =>
        out.cancel()
        throw e
    }
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a local write lands atomically with no .crc or temp sibling left") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      write(fm, hpath(dir.resolve("0")), "v1\n{}", overwrite = false)
      assert(names(dir) == Set("0"), "no Hadoop ChecksumFs .crc and no temp file")
      assert(read(fm, hpath(dir.resolve("0"))) == "v1\n{}")
    }
  }

  test("no-clobber: an existing entry raises Hadoop's FileAlreadyExistsException and survives") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      val p = hpath(dir.resolve("0"))
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(read(fm, p) == "first")
      assert(names(dir) == Set("0"), "the failed write's temp file is removed")
    }
  }

  test("overwrite replaces the file and drops the stale .crc of Spark's default manager") {
    withDir { dir =>
      val p = hpath(dir.resolve("1.delta"))
      val sparkDefault = new FileContextBasedCheckpointFileManager(hpath(dir), conf)
      write(sparkDefault, p, "old", overwrite = false)
      assert(names(dir) == Set("1.delta", ".1.delta.crc"))
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      write(fm, p, "new and longer content", overwrite = true)
      assert(names(dir) == Set("1.delta"))
      assert(read(fm, p) == "new and longer content")
      // Hadoop's LocalFileSystem verifies a .crc sibling on read: a stale
      // one would fail this with a ChecksumException
      assert(read(new FileSystemBasedCheckpointFileManager(hpath(dir), conf), p) == "new and longer content")
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      val out = fm.createAtomic(hpath(dir.resolve("2")), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a cancelled stream's close is a no-op
      assert(names(dir).isEmpty)
    }
  }

  test("a path that is not file: goes to Spark's default manager") {
    withDir { dir =>
      val root = new Path(s"fake://${dir.toUri.getPath}")
      val fm = new LocalCheckpointFileManager(root, conf)
      val out = fm.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
      assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
      out.write("delegated".getBytes(UTF_8))
      out.close()
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "delegated")
      assert(read(fm, new Path(root, "0")) == "delegated")
    }
  }

  test("mkdirs on a local path creates nested directories and is idempotent") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      val nested = dir.resolve("state").resolve("0").resolve("3")
      fm.mkdirs(hpath(nested))
      assert(Files.isDirectory(nested))
      Files.write(nested.resolve("1.delta"), "kept".getBytes(UTF_8))
      fm.mkdirs(hpath(nested))
      fm.mkdirs(hpath(dir.resolve("state")))
      assert(new String(Files.readAllBytes(nested.resolve("1.delta")), UTF_8) == "kept")
    }
  }

  test("mkdirs on an existing file fails and leaves the file") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      val file = dir.resolve("offsets")
      Files.write(file, "a file".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](fm.mkdirs(hpath(file)))
      assert(Files.isRegularFile(file) && new String(Files.readAllBytes(file), UTF_8) == "a file")
    }
  }

  test("mkdirs on a path that is not file: goes to Spark's default manager") {
    withDir { dir =>
      val root = new Path(s"fake://${dir.toUri.getPath}")
      val fm = new LocalCheckpointFileManager(root, conf)
      val before = FakeSchemeFileSystem.mkdirsCalls.get()
      fm.mkdirs(new Path(root, "commits/x"))
      assert(FakeSchemeFileSystem.mkdirsCalls.get() > before, "the fake: filesystem's mkdirs was not called")
      assert(Files.isDirectory(dir.resolve("commits").resolve("x")))
    }
  }

  test("createCheckpointDirectory on a local path creates it and returns Spark's qualified path") {
    withDir { dir =>
      // a `file:` URI and the bare path a user passes as checkpointLocation
      val a = dir.resolve("a").resolve("ckpt")
      val b = dir.resolve("b").resolve("ckpt")
      Seq(a -> hpath(a), b -> new Path(b.toString)).foreach { case (local, p) =>
        val made = new LocalCheckpointFileManager(p, conf).createCheckpointDirectory()
        assert(Files.isDirectory(local))
        assert(made == new FileContextBasedCheckpointFileManager(p, conf).createCheckpointDirectory())
      }
    }
  }
}
