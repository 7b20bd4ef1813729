package pipeline.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem without a child process per file.
 *
 * Without `libhadoop`, the stock `RawLocalFileSystem` sets the mode of every
 * file, `.crc` file and directory it creates by running `chmod`, and its
 * `getFileLinkStatus` (every `FileContext` rename: streaming checkpoints, the
 * state store) runs `readlink`. This subclass does both in-process and keeps
 * everything else: checksums, the commit protocol and the mode bits.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits via NIO (`toString` is then `rwxr-x---` form); a mode
    * with the sticky bit, the only one above them, takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** The stock code returns `getFileStatus(p)` once `readlink` of
    * `new File(p.toString)` comes back empty, i.e. when that is no symlink;
    * symlinks keep the stock path. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(new File(p.toString).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over the raw
  * filesystem above, so `.crc` files are written and verified as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` twin of `org.apache.hadoop.fs.local.RawLocalFs`, with its
  * overrides. */
private[io] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: twin of `org.apache.hadoop.fs.local.LocalFs`.
  * `AbstractFileSystem` instantiates it by its (URI, Configuration)
  * constructor; like the stock class it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
