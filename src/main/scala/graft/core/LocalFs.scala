package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file systems with their per-call child processes
  * replaced by in-process calls. Without the `libhadoop` native library
  * `RawLocalFileSystem.setPermission` forks `chmod` for every directory
  * and file it creates with a permission, and `getFileLinkStatus` (every
  * FileContext rename) forks `readlink`. Everything else — `.crc`
  * checksums, atomic renames, the commit protocol — is Hadoop's own.
  * [[GraftSession.builder]] installs these for the `file:` scheme only.
  */
object LocalFs {

  /** chmod(2) clears a directory's set-user/group-ID bits, where Hadoop's
    * forked `chmod` with a numeric mode keeps them. */
  private val SetIdBits = 0x0c00 // 06000

  /** `RawLocalFileSystem` whose chmod and symlink probe do not fork. */
  class Raw extends RawLocalFileSystem {
    /** The same chmod(2) through NIO; Hadoop's path for what NIO cannot
      * express (a sticky or set-ID bit, a non-POSIX store). */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val done = !permission.getStickyBit && (try {
        (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetIdBits) == 0 && {
          // without the sticky bit FsPermission prints "rwxr-x---"
          Files.setPosixFilePermissions(f,
            PosixFilePermissions.fromString(permission.toString))
          true
        }
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
      if (!done) super.setPermission(p, permission)
    }

    /** Hadoop answers a path that is not a symlink with its
      * `getFileStatus`; only a real symlink needs its `readlink`. */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: Hadoop's checksummed local FS over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` (the FileContext view) over [[Raw]]. */
  class RawContextFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("deprecated in Hadoop's AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[Raw]]. */
  class ContextFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContextFs(uri, conf))
}
