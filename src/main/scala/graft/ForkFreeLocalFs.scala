package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without per-file subprocesses. Without
  * libhadoop, [[RawLocalFileSystem]] runs `chmod` for every file and
  * directory it creates and `readlink` for every link-status probe
  * (about four per FileContext rename). These two overrides do the
  * same through NIO; modes beyond `0777` and real symlinks still take
  * the parent's path. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[ForkFreeLocalFileSystem]] as a FileContext file system, set as
  * `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed)
  * over its `RawLocalFs`, with the raw delegate swapped. Hadoop builds
  * it through the (URI, Configuration) constructor and, like `LocalFs`,
  * it ignores the URI. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  private class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
