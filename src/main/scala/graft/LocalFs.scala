package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its shell forks. Without
  * `libhadoop`, `RawLocalFileSystem` runs `chmod` for every permission
  * it sets (each create and mkdir) and `readlink` for every link status
  * (eight per `FileContext.rename`). Both are done here through
  * java.nio; a sticky bit, which java.nio cannot set, and a real
  * symlink still go through the stock code, so results are the same. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (the checksummed `FileSystem` API) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `LocalFs` (the checksummed `FileContext` API) over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]], with `RawLocalFs`'s own overrides. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
