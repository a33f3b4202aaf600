package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local (`file:`) filesystem without a process per file
  * operation.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem` runs
  * `/bin/chmod` for every file and directory it creates (data files,
  * `.crc` sidecars, `_temporary` dirs, task and job commits), and
  * `readlink` on every `getFileLinkStatus`, which FileContext renames
  * (streaming checkpoints) call twice. This class does both in the JVM
  * and hands every case it does not cover to the stock code.
  *
  * `src/main/resources/core-site.xml` binds `fs.file.impl` to
  * [[InProcessLocalFileSystem]] and `fs.AbstractFileSystem.file.impl`
  * to [[InProcessLocalFs]], so every Hadoop `Configuration` in the JVM
  * resolves `file:` to them.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The stock `chmod` with the same mode, through java.nio. Sticky,
    * setuid and setgid bits, and file stores without POSIX attributes,
    * go to the stock command.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0
      PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  /** Stock Hadoop returns `getFileStatus(f)` whenever `readlink` prints
    * nothing, i.e. for anything but a symlink (a missing path throws
    * `FileNotFoundException` from there). Only real symlinks still go
    * to the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`.crc` sidecars written and
  * verified as by stock `LocalFileSystem`) over
  * [[InProcessRawLocalFileSystem]].
  */
class InProcessLocalFileSystem
    extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The raw FileContext binding: Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over [[InProcessRawLocalFileSystem]].
  */
class InProcessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // Local filesystems differ in what names they accept; the OS decides.
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext binding for `file:`, as Hadoop's `LocalFs`.
  * FileContext constructs it reflectively with `(URI, Configuration)`;
  * like `LocalFs`, it always serves `file:///`.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))
