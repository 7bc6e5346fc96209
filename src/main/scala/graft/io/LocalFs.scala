package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without shell forks.
  *
  * Without `libhadoop` (Spark ships none) the stock class forks `chmod`
  * for every file and directory it creates with a permission, and forks
  * `readlink` for every `getFileLinkStatus` — which `FileContext.rename`
  * calls on its target. State-store delta files, checkpoint logs and
  * committer output all go through both. These two overrides do the same
  * work in-process with `java.nio`; everything else, checksums included,
  * is the stock code path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod through NIO. Modes with bits NIO cannot set (sticky) keep
    * the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(mode))
  }

  /** The stock method forks `readlink` and, for anything that is not a
    * link, returns `getFileStatus`; only real links take that path here. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object ForkFreeRawLocalFileSystem {
  /** The rwx bits of a 9-bit mode. `PosixFilePermission` declares them
    * from owner-read (0400) down to others-execute (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p))
    s
  }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (`.crc`
  * sidecars) over the fork-free raw file system. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (`FileContext`): the stock `LocalFs`
  * — a `ChecksumFs` over a `RawLocalFs` — with the fork-free raw file
  * system underneath. Like `LocalFs`, it always binds `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Mirrors `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors
  * are package-private. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem method", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // like RawLocalFileSystem: leave name validation to the OS
  override def isValidName(src: String): Boolean = true
}
