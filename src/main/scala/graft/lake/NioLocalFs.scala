package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem minus a forked process per metadata op.
  * Without libhadoop, stock `RawLocalFileSystem` runs `chmod` for every
  * file, `.crc` file and directory level it creates, and `readlink` on
  * both sides of every `FileContext` rename. This does the same through
  * `java.nio`; checksums and create/rename/delete stay Hadoop's own.
  * [[graft.Session.build]] installs it for the `file` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The mode bits stock `chmod` sets. POSIX attributes cannot carry a
    * sticky bit, so that, and a non-POSIX store, go through `super`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE are declared from bit 8 down to bit 0
      PosixFilePermission.values.foreach(b => if ((mode & (1 << (8 - b.ordinal))) != 0) bits.add(b))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** Stock forks `readlink` first and, finding no link, returns `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed wrapper, as stock `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw layer, as Hadoop's `local.RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the OS validates local names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (streaming checkpoint logs), as
  * Hadoop's `local.LocalFs`, which also ignores the URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
