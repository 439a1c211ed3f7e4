package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two process-forking calls done
  * in the JVM. Without `libhadoop.so`, stock `RawLocalFileSystem` runs
  * `chmod` for every created file and directory, and `readlink` for every
  * `getFileLinkStatus` (four per FileContext rename-with-overwrite, i.e.
  * per checkpoint file). Everything else is Hadoop's own code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through java.nio; a sticky-bit mode, which NIO cannot set,
    * keeps Hadoop's path. The bits come from `toShort`: subclasses such as
    * FileContext's `FsCreateModes` do not print as `rwxr-x---`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(permission.toShort))

  /** A path that is not a symlink has its `getFileStatus` as link status
    * (what Hadoop returns after `readlink` answers nothing, and also what
    * it throws for a missing path); real symlinks keep Hadoop's path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // declared OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last
  private val bits = PosixFilePermission.values

  /** The nine permission bits of a POSIX `mode` as a NIO set. */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(bits(i)))
    set
  }
}

/** The checksummed `file:` FileSystem (`fs.file.impl`), as Hadoop's
  * `LocalFileSystem` but over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem behind FileContext
  * (`fs.AbstractFileSystem.file.impl`), which Spark's checkpoint logs write
  * through. Mirrors Hadoop's `LocalFs`, whose constructors are
  * package-private; like it, it serves `file:///` whatever `uri` it is
  * instantiated for.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
