package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The checksummed `file://` filesystem with one change: permissions are
  * set in-process. Without libhadoop, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and every `create` and `mkdirs` calls it (a file and its
  * `.crc` sidecar: two forks per file). Everything else — checksums, the
  * `.crc` sidecars, rename, listing — is the stock `LocalFileSystem`.
  * Registered as `fs.file.impl` by `GraftSession`. */
class ForkFreeLocalFs extends LocalFileSystem(new ForkFreeLocalFs.Raw)

object ForkFreeLocalFs {

  // owner rwx, group rwx, others rwx: mode bits 8 down to 0
  private val modeBits = PosixFilePermission.values

  /** Sets the same mode bits through NIO. Hadoop's own path is kept where
    * it is no fork or where NIO cannot express the request: libhadoop
    * loaded, a sticky bit, or a file store without POSIX attributes. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        modeBits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) perms.add(modeBits(i)))
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
