package graft.io

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoint writer that writes local files through java.nio.
  *
  * Without a native `libhadoop`, Hadoop's local file system forks `chmod`
  * and `ls` for every file it creates or renames, so the stock manager's
  * `createAtomic` costs about 30 ms, paid by every offset, commit, metadata
  * log and state-store file of every trigger. Here a `file:` path (or a
  * scheme-less one on a local default FS) is written to its temp file and
  * renamed with java.nio; any other scheme takes the inherited Hadoop path.
  * Registered for every query by `GraftSession.tune`.
  *
  * The stock contracts hold: without overwrite the rename is a hard link,
  * which fails atomically if the target exists (Hadoop's
  * `FileAlreadyExistsException`, target untouched, temp removed — what
  * `HDFSMetadataLog` relies on to detect a concurrent writer); with
  * overwrite it is an atomic move. After either, a `.<name>.crc` left by an
  * older checksummed write is deleted, since a stale one fails the
  * checksummed read after a restart.
  */
class NioCheckpointFiles(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {

  private def local(p: Path): Option[java.nio.file.Path] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (overwriteIfPossible) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        else {
          try Files.createLink(d, s)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.delete(s)
        }
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }
}
