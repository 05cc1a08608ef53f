package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for the gates' local checkpoint dirs.
  *
  * On a local file system without libhadoop, Hadoop sets permissions by
  * forking a shell `chmod` on every file create and directory made, and
  * Spark's default FileContext-based manager forks a `readlink` per
  * rename. A gate run wrote a few hundred checkpoint files (offset and
  * commit logs, file-source logs, state deltas and their checksums), so
  * those forks were most of its fixed cost. Here the calls that fork or
  * misbehave go through `java.nio.file.Files`:
  *  - `createTempFile` and `mkdirs`: files and dirs get the process umask's
  *    default modes, as Hadoop's do, and no Hadoop `.crc` sidecar;
  *  - `renameTempFile`: an overwriting rename is one atomic `rename(2)`.
  *    Hadoop's `FileSystem.rename` refuses an existing target on the
  *    `file:` file system Hive registers, so Spark's plain file-system
  *    manager would keep the old file and leave the temp file behind.
  *
  * The atomic write protocol (temp file, then rename on close, delete on
  * cancel) is Spark's; reads, listing, existence checks and delete stay on
  * Hadoop's local file system, none of which forks. Spark still wraps this
  * manager in its checksum manager when checkpoint checksums are on.
  *
  * Only `file:` paths are accepted; a remote checkpoint keeps Spark's
  * default manager.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(LocalCheckpointFiles.requireLocal(path, conf), conf) {

  private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    try {
      if (overwriteIfPossible) Files.move(local(src), local(dst), StandardCopyOption.ATOMIC_MOVE)
      else Files.move(local(src), local(dst))
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"Failed to rename $src to $dst: destination exists")
    }
}

object LocalCheckpointFiles {
  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file", s"LocalCheckpointFiles manages local checkpoints only, not $path")
    path
  }
}
