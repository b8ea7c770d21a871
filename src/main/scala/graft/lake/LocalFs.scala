package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local file system without a process per call.
  *
  * Without libhadoop, the stock `RawLocalFileSystem` sets permissions by
  * running `chmod` (every `create`, for the file and its `.crc`, and every
  * `mkdirs`), and its link status runs `readlink` (three times in every
  * FileContext rename, which is how Spark commits streaming checkpoints).
  * A fork costs milliseconds against microseconds for a status read, and
  * lake commits and micro-batches make hundreds of these calls. This
  * subclass sets the same POSIX bits through NIO and answers link status
  * from `getFileStatus` unless the path is a symbolic link; every other
  * case (native IO present, a sticky or set-id bit, no POSIX view, a real
  * link) takes the stock call. [[graft.GraftSession]] installs it for `file:`.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if (NativeIO.isAvailable || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // 0x1ff is octal 0777; the enum runs OWNER_READ (0400 = 0x100) down
      // to OTHERS_EXECUTE (0001), so constant i is bit 0x100 >> i
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed) over [[ForklessRawLocalFileSystem]]:
  * the `fs.file.impl` the session installs.
  */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** FileContext's raw local file system over [[ForklessRawLocalFileSystem]]:
  * Hadoop's `RawLocalFs`, whose constructors fix the stock raw file system.
  */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** FileContext's checksummed local file system (Hadoop's `LocalFs`) over
  * [[ForklessRawLocalFs]]: the `fs.AbstractFileSystem.file.impl` the
  * session installs.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
