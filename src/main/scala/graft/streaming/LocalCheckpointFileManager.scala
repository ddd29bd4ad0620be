package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files (offsets and commits logs, state-store
  * delta and snapshot files, RocksDB uploads, query metadata) written
  * with java.nio on `file:` paths.
  *
  * Hadoop's local filesystem forks a shell for every file Spark's default
  * manager publishes: `readlink` from `FileContext.rename`'s symlink
  * check and `chmod` from each create and mkdirs. On a live view those
  * forks were most of each batch's state-commit and WAL time. Here the
  * same atomic-publish contract holds without them: the file is written
  * to a temp file next to its target, then published with an atomic move
  * (overwrite) or a hard link, which fails when the target exists (no
  * overwrite; `HDFSMetadataLog`'s concurrent-writer detection still sees
  * Hadoop's `FileAlreadyExistsException`). A stale `.crc` sidecar left by
  * the default manager is deleted before publish; files written here have
  * none, and `ChecksumFs` reads them unverified. Reads, listings and
  * deletes stay Spark's.
  *
  * Every other scheme gets what `CheckpointFileManager.create` builds
  * without this class configured: the FileContext-based manager, or the
  * FileSystem-based one when the scheme has no `AbstractFileSystem`.
  * Installed by `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val fm: CheckpointFileManager =
    try new LocalCheckpointFileManager.NioPublish(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
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

  /** Spark's FileContext-based manager, with the temp-file write, the
    * publish and directory creation done by java.nio on `file:` paths
    * (its `createAtomic` writes through `createTempFile` and publishes
    * through `renameTempFile`). */
  private final class NioPublish(path: Path, hadoopConf: Configuration)
      extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

    private def localFile(p: Path): Option[JPath] = {
      val uri = fc.makeQualified(p).toUri
      if (uri.getScheme == "file") Some(Paths.get(uri)) else None
    }

    override def createTempFile(p: Path): FSDataOutputStream = localFile(p) match {
      case Some(file) =>
        Files.createDirectories(file.getParent)
        new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file), 1 << 16), null)
      case None => super.createTempFile(p)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      (localFile(src), localFile(dst)) match {
        case (Some(from), Some(to)) =>
          Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
          if (overwriteIfPossible) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
          else if (link(from, to, src, dst)) Files.delete(from)
          else super.renameTempFile(src, dst, overwriteIfPossible)
        case _ => super.renameTempFile(src, dst, overwriteIfPossible)
      }

    /** Publish `from` at `to` unless `to` exists; false when the
      * filesystem refuses hard links. */
    private def link(from: JPath, to: JPath, src: Path, dst: Path): Boolean =
      try { Files.createLink(to, from); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(from)
          throw new FileAlreadyExistsException(
            s"Failed to rename $src to $dst as destination already exists")
        case _: UnsupportedOperationException | _: FileSystemException => false
      }

    override def mkdirs(p: Path): Unit = localFile(p) match {
      case Some(dir) => Files.createDirectories(dir)
      case None => super.mkdirs(p)
    }

    override def createCheckpointDirectory(): Path = localFile(path) match {
      case Some(dir) => Files.createDirectories(dir); fc.makeQualified(path)
      case None => super.createCheckpointDirectory()
    }
  }
}
