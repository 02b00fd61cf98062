package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without process spawning.
  *
  * Without Hadoop's native library (`NativeIO`), the stock
  * `RawLocalFileSystem` runs a shell command for two calls:
  *  - `chmod` in `setPermission`, which every `create` with a
  *    permission and every `mkdir` calls;
  *  - `readlink` in `getFileLinkStatus`, which `FileContext.rename`
  *    calls on its source.
  * Every Structured Streaming offset, commit and source log entry and
  * every state-store delta file is one create plus one rename, so each
  * file cost two forks (a Structured Streaming `walCommit`, one such
  * file, took 40–75 ms on a busy 4-core box; 2 ms without them).
  *
  * This subclass does both through `java.nio` instead. Files, `.crc`
  * sidecars and permissions on disk are what the stock class writes;
  * the sticky bit, a filesystem without POSIX attributes and real
  * symbolic links still take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // sticky bit
    else {
      // PosixFilePermission lists OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
      }
    }
  }

  /** Not a symbolic link: the stock path's `readlink` prints nothing
    * and it returns `getFileStatus(f)`, so return that directly.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `file:` FileSystem over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `file:`
  * FileContext filesystem over [[NioRawLocalFileSystem]]. Spark's
  * default checkpoint manager for `file:` goes through FileContext,
  * and the stock `RawLocalFs` always builds a stock
  * `RawLocalFileSystem`, so `fs.file.impl` alone does not reach it.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** The stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
