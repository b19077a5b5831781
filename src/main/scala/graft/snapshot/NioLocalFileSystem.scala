package graft.snapshot

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local file system, with permissions set in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * for every directory, data file and `.crc` it creates, and a fork from a
  * multi-GB JVM costs milliseconds. Here the nine rwx bits go through
  * `Files.setPosixFilePermissions` instead, which leaves the same modes;
  * any other permission (the sticky bit) still goes to `super`.
  *
  * Selected per write with `fs.file.impl` (see `Snapshot`), so it applies
  * only to `file:` paths.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** `PosixFilePermission.values` runs OWNER_READ … OTHERS_EXECUTE, i.e.
    * from mode bit 8 down to bit 0.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }
}
