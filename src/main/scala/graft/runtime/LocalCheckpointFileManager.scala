package graft.runtime

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.{FileAlreadyExistsException => NioFileAlreadyExistsException}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A Spark [[CheckpointFileManager]] that writes atomic files on a local
  * `file:` path with java.nio and hands everything else to Spark's default
  * manager (`FileContextBasedCheckpointFileManager`, or
  * `FileSystemBasedCheckpointFileManager` where the scheme has no
  * `FileContext`). HDFS, S3 and every read, list and delete behave as
  * with Spark's default.
  *
  * Why: every micro-batch writes one offset-log and one commit-log entry
  * through `createAtomic`. Without native-hadoop, Hadoop's local
  * filesystem starts a child process for each `chmod` of the file and its
  * `.crc` and each `readlink` of the rename, about 40 ms per entry; java.nio
  * writes the same entry in well under 1 ms.
  *
  * `createAtomic` on a `file:` path writes a hidden temp sibling
  * (`.<name>.<uuid>.tmp`, the name Spark's managers use) and, on `close`:
  *  - with `overwriteIfPossible`, deletes a stale `.<name>.crc` (left by
  *    Hadoop's checksummed local filesystem when it last wrote the file;
  *    a read through Hadoop's `LocalFileSystem` would fail its checksum),
  *    then renames the temp file over the target atomically;
  *  - without it, hard-links the target to the temp file, which fails if
  *    the target exists, and throws Hadoop's `FileAlreadyExistsException`
  *    then, as `HDFSMetadataLog` expects when two queries share one
  *    checkpoint. On a filesystem without hard links it falls back to
  *    Hadoop's own check-then-rename.
  * `cancel` deletes the temp file. Like Hadoop's local filesystem, no
  * write is fsynced. `mkdirs` and `createCheckpointDirectory` on a `file:`
  * path are java.nio's `createDirectories`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private val delegate: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf) }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (p.toUri.getScheme != "file") delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = Paths.get(p.toUri.getPath)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      val crc = target.resolveSibling(s".${target.getFileName}.crc")
      val file = new BufferedOutputStream(Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))
      new CancellableFSDataOutputStream(file) {
        private var terminated = false

        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try {
              file.close()
              if (overwriteIfPossible) {
                Files.deleteIfExists(crc)
                Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
              } else {
                try Files.createLink(target, temp)
                catch {
                  // no hard links here: Hadoop's own check-then-rename
                  case e: FileSystemException if !e.isInstanceOf[NioFileAlreadyExistsException] =>
                    Files.move(temp, target)
                }
                Files.deleteIfExists(crc)
              }
            } catch {
              case e: NioFileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists").initCause(e)
            } finally Files.deleteIfExists(temp)
          }
        }

        override def cancel(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try file.close()
            finally Files.deleteIfExists(temp)
          }
        }
      }
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  /** On a `file:` path, java.nio: Hadoop's local `mkdirs` starts a `chmod`
    * child process per directory it creates.
    */
  override def mkdirs(p: Path): Unit =
    if (p.toUri.getScheme != "file") delegate.mkdirs(p)
    else
      try { Files.createDirectories(Paths.get(p.toUri.getPath)); () }
      catch {
        case e: NioFileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$p exists and is not a directory").initCause(e)
      }
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  /** On a `file:` path (the default filesystem's, when `path` has no
    * scheme), java.nio, returning `path` qualified as Spark's manager
    * qualifies it.
    */
  override def createCheckpointDirectory(): Path =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) != "file")
      delegate.createCheckpointDirectory()
    else {
      val qualified = FileContext.getLocalFSFileContext(hadoopConf).makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  override def close(): Unit = delegate.close()
}
