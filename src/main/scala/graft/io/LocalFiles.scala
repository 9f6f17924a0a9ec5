package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two process-forking operations done
  * in the JVM.
  *
  * Without the native `libhadoop`, Hadoop 3.4's `RawLocalFileSystem` runs
  * `chmod` for every `setPermission` (each create and mkdir with a
  * permission) and `readlink` for every `getFileLinkStatus` (each
  * `FileContext` rename). A streaming micro-batch commits its offset log,
  * commit log and state-store files through exactly those calls, so one
  * append forked about 280 processes. Here:
  *
  * - `setPermission` with only the nine rwx bits goes to
  *   `Files.setPosixFilePermissions`; a higher bit (sticky) still takes
  *   Hadoop's path.
  * - `getFileLinkStatus` of a path that is not a symbolic link is its
  *   `getFileStatus`, which is what Hadoop's own path returns there; a
  *   symbolic link still takes Hadoop's path.
  *
  * Everything else is Hadoop's. [[graft.Sessions.builder]] installs
  * [[LocalFiles]] as `fs.file.impl` and [[LocalFilesFs]] as
  * `fs.AbstractFileSystem.file.impl`; no other scheme is touched.
  */
class RawLocalFiles extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: [[RawLocalFiles]] under Hadoop's `.crc` checksum layer,
  * as `LocalFileSystem` puts it over `RawLocalFileSystem`. */
class LocalFiles extends LocalFileSystem(new RawLocalFiles)

/** `fs.AbstractFileSystem.file.impl`, the layer `FileContext` (and so
  * Spark's default checkpoint file manager) goes through: Hadoop's
  * `LocalFs` with [[RawLocalFiles]] in place of the `RawLocalFileSystem`
  * its `RawLocalFs` hard-codes. Hadoop constructs it reflectively with
  * `(URI, Configuration)`; the URI is always `file:///`. */
class LocalFilesFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFilesFs.Raw(conf))

object LocalFilesFs {

  /** Hadoop's `RawLocalFs` over [[RawLocalFiles]]. */
  private[io] class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new RawLocalFiles, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("Hadoop's own override is deprecated", "3.4")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
