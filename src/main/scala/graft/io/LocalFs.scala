package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system for the `file` scheme without shell forks.
  *
  * Without Hadoop's native library the stock [[RawLocalFileSystem]] starts a
  * child process in two hot calls: `chmod` in `setPermission`, which every
  * create and mkdir that carries a permission reaches (checkpoint temp files,
  * `.crc` files, parquet committer output, snapshots), and `readlink` in
  * `getFileLinkStatus`, which every `FileContext` rename reaches twice (each
  * checkpoint log entry). This subclass answers both from `java.nio.file`:
  *
  *   - `setPermission` sets the same 9 permission bits with
  *     `Files.setPosixFilePermissions` (the caller has already applied the
  *     umask, as for the stock `chmod`); a permission with the sticky bit, or
  *     a file system without a POSIX attribute view, goes to the stock code;
  *   - `getFileLinkStatus` of a path that is not a symbolic link is its
  *     `getFileStatus`, which is what the stock code returns for it after
  *     its `readlink`; a symbolic link goes to the stock code.
  *
  * Everything else, checksums and `.crc` files included, is the stock code.
  * [[graft.Tables.configure]] registers [[ForkFreeLocalFileSystem]] as
  * `fs.file.impl` and [[ForkFreeLocalFs]] as `fs.AbstractFileSystem.file.impl`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.bits(permission.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission lists owner, group, others, each read, write, execute:
  // the order of the 9 bits from the highest down
  private val order = attribute.PosixFilePermission.values

  private def bits(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for (i <- 0 until 9 if (mode & (1 << (8 - i))) != 0) set.add(order(i))
    set
  }
}

/** The checksummed `FileSystem` for `file://` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side: Hadoop's `RawLocalFs` over the fork-free raw file
  * system (its constructors are package-private, so its four overrides are
  * repeated here). */
private[io] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksums over the raw `FileContext` file system)
  * over [[ForkFreeRawLocalFs]]. Hadoop builds it by reflection from the
  * scheme's URI, which is always `file:///` here, as for `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))
