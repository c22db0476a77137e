package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** Hadoop's checksummed `file:` FileSystem with one change: permissions
  * are set through `java.nio`, not a `chmod` child process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` for
  * every file, `.crc` file and directory it creates (~3 ms each on a
  * 4-core x86 machine, against ~0.02 ms through
  * `Files.setPosixFilePermissions`); a Parquet write of a
  * few files starts a few dozen such processes. The raw layer here sets
  * the same nine rwx bits itself. A mode with the sticky bit, a platform
  * with libhadoop loaded, Windows, or a file store without POSIX
  * attributes all take Hadoop's own path. Creation, the umask, `.crc`
  * files and every other call are Hadoop's, unchanged.
  *
  * Installed as `fs.file.impl` by [[LocalSession.Settings]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  private val Rwx = 0x1ff // 0777

  /** The raw layer: [[RawLocalFileSystem]] with a process-free `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~Rwx) != 0 || NativeIO.isAvailable || Shell.WINDOWS)
        super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists owner, group, others by r, w, x: the
        // mode's bits from 0400 down to 0001
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
