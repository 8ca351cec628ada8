package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-operation forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` in a child
  * process inside every `create` and `mkdirs` (`setPermission`) and
  * `readlink` on every `getFileLinkStatus`; `FileContext.rename`, which
  * Spark's streaming offset, commit and metadata logs use, calls the
  * latter four times. One fork costs 3-6 ms against ~0.02 ms for the
  * `java.nio` call doing the same thing. Both overrides keep Hadoop's
  * own path for what `java.nio` does not cover the same way: sticky
  * bits, non-POSIX filesystems and real symlinks. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE,
      // i.e. the mode bits 0400 … 0001
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (x <- PosixFilePermission.values
           if (permission.toShort & (0x100 >> x.ordinal)) != 0) perms.add(x)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** Not a link: Hadoop's answer is `getFileStatus`, which also throws
    * its `FileNotFoundException` for a missing path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem over [[NoForkRawLocalFileSystem]]
  * (`fs.file.impl`). `rename` refuses an existing file destination, as
  * HDFS does and as Hive's `ProxyLocalFileSystem` does: with hive-exec
  * on the classpath, that is the class Hadoop's service loader picks
  * for `file:` when `fs.file.impl` is unset. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `FileContext` binding of [[NoForkRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs`, whose constructors are package-private, with its
  * overrides copied. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` binding
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`, which
  * also ignores the URI that `AbstractFileSystem` constructs it with. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
