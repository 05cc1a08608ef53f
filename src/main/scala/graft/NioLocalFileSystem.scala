package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of graft sessions ([[Sessions.local]]): Hadoop's
  * checksummed local file system, except that modes are set through
  * `java.nio.file`. Without libhadoop, Hadoop sets the mode of every file
  * and dir it creates by forking a shell `chmod`. It extends
  * [[LocalFileSystem]] because `FileSystem.getLocal` casts to that class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** The sticky bit has no `PosixFilePermission`, so a mode carrying it
    * keeps Hadoop's own path rather than losing the bit. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }
}
