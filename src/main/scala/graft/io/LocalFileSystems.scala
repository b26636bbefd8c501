package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file://` file system with an in-process
  * `setPermission` and `getFileLinkStatus`.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * starts one `chmod` child process per call, and Hadoop calls it for
  * every file and directory it creates. Every parquet write, every
  * [[graft.plans.Publish]] staging tree and every checkpoint file pays
  * a process launch. This class sets the same rwx bits with
  * `Files.setPosixFilePermissions` instead, and keeps Hadoop's call
  * only where that cannot: a file store without a POSIX view, or a mode
  * with the sticky, setuid or setgid bit.
  *
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends
  * of every checkpoint commit, starts a `readlink` process on the
  * path's string form; a path that is not a symbolic link makes it
  * return `getFileStatus`. This class checks for the link in-process
  * and leaves only real links to Hadoop.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!PosixRawLocalFileSystem.chmod(pathToFile(p), permission))
      super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object PosixRawLocalFileSystem {

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: mode bits 8 down to 0
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 1 << (8 - i)) }

  /** Set the rwx bits of `permission` on `f` in-process; false, having
    * done nothing, when that cannot express the mode. */
  def chmod(f: File, permission: FsPermission): Boolean = {
    val mode = permission.toShort & 0xfff
    val path = f.toPath
    if ((mode & ~0x1ff) != 0 ||
        Files.getFileAttributeView(path, classOf[PosixFileAttributeView]) == null) false
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      Bits.foreach { case (p, bit) => if ((mode & bit) != 0) perms.add(p) }
      Files.setPosixFilePermissions(path, perms)
      true
    }
  }
}

/** The `file://` [[org.apache.hadoop.fs.FileSystem]] graft sessions use
  * (`fs.file.impl`): Hadoop's checksummed `LocalFileSystem`, `.crc`
  * siblings included, over a [[PosixRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The `file://` `AbstractFileSystem` behind `FileContext`
  * (`fs.AbstractFileSystem.file.impl`), which Structured Streaming
  * writes its checkpoints through: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with [[PosixRawLocalFileSystem]] underneath. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new PosixRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over a [[PosixRawLocalFileSystem]]. */
class PosixRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new PosixRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
