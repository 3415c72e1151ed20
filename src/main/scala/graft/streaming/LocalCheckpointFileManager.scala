package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{FileSystemException, Files, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's `FileContext` checkpoint manager with its two rename hooks done
  * through `java.nio` for `file:` paths, installed through
  * `spark.sql.streaming.checkpointFileManagerClass` by
  * `GraftExtensions.localSession` and [[StreamingIndicators.sinkToStore]].
  *
  * Without the native `libhadoop`, Hadoop's local filesystem forks a
  * `chmod` process on every file create and `readlink`s on every rename.
  * A micro-batch makes about a dozen atomic checkpoint writes (offset,
  * commit and sink logs, state deltas and their checksum files), so those
  * forks were most of its fixed commit cost. Here a create is `open(2)`
  * plus `chmod(2)` to the mode Hadoop would give, an overwriting rename is
  * `rename(2)`, and a non-overwriting one is `link(2)` then `unlink(2)` of
  * the temp file: atomic, and it never replaces an existing file, which
  * `HDFSMetadataLog` relies on to detect a second writer. A rename that
  * finds the target taken also deletes the temp file, which Spark's
  * manager leaves behind.
  *
  * These files get no Hadoop `.crc` side file (Hadoop reads a file without
  * one unverified). A replaced file's stale one is deleted, or Hadoop's
  * `FileSystem` API would fail the new content against it. State-store
  * files keep Spark's own checksum files, written and verified by the
  * `ChecksumCheckpointFileManager` that wraps this class.
  *
  * Everything else is Spark's: other schemes, `createAtomic`'s temp file
  * beside the target and `cancel`, reads, listing and deletes.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** Hadoop's default file mode under this context's umask. */
  private val fileMode = PosixFilePermissions.fromString(
    FsPermission.getFileDefault.applyUMask(fc.getUMask).toString)

  private def local(p: Path): Option[java.nio.file.Path] = {
    val q = fc.makeQualified(p)
    if (q.toUri.getScheme == "file") Some(Paths.get(q.toUri)) else None
  }

  /** Hadoop's checksum file beside `f`: stale once `f` is replaced here. */
  private def crcOf(f: java.nio.file.Path): java.nio.file.Path =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** Hadoop's exception types for what `java.nio` reports. */
  private def asHadoop[T](dst: Path)(io: => T): T =
    try io catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"$dst already exists")
    }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => asHadoop(p) {
      val out = Files.newOutputStream(f)
      Files.setPosixFilePermissions(f, fileMode)
      new FSDataOutputStream(new BufferedOutputStream(out), null)
    }
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) if overwriteIfPossible => asHadoop(dst) {
        Files.deleteIfExists(crcOf(d))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      }
      case (Some(s), Some(d)) => asHadoop(dst) {
        val linked =
          try { Files.createLink(d, s); true }
          catch {
            // the temp file is the caller's no more: `close` has ended the stream
            case e: java.nio.file.FileAlreadyExistsException => Files.delete(s); throw e
            // a filesystem without hard links: Hadoop's rename, nothing moved yet
            case _: UnsupportedOperationException => false
            case e: FileSystemException if !e.isInstanceOf[NoSuchFileException] => false
          }
        if (linked) {
          Files.delete(s)
          Files.deleteIfExists(crcOf(d))
        } else super.renameTempFile(src, dst, false)
      }
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}

object LocalCheckpointFileManager {
  /** Spark's key for the checkpoint manager class (an internal conf). */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
