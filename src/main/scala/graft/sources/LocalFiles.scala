package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's raw `file:` filesystem: Hadoop's `RawLocalFileSystem`
  * with its process launches replaced by java.nio calls. Without the
  * native Hadoop library the stock class runs `chmod` for every directory
  * and file it creates, `ls -ld` for the first permission, owner or group
  * read of a status, and `readlink` for every link probe of a FileContext
  * rename. Permission bits, `FileStatus` fields and exceptions stay
  * Hadoop's: where NIO cannot say the same thing, or fails, the stock path
  * runs. `core-site.xml` registers it for `file:` through
  * [[NioLocalFileSystem]] and [[NioLocalFs]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` through NIO. NIO cannot set the sticky bit, and `chmod 0755`
    * keeps a directory's set-id bits that NIO would clear, so those two
    * cases take Hadoop's path, as does any error or a filesystem without
    * the `unix` attribute view. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val done = !permission.getStickyBit && (try {
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0 && {
        Files.setPosixFilePermissions(path, posix(permission.toShort))
        true
      }
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (!done) super.setPermission(p, permission)
  }

  /** Hadoop's link probe runs `readlink` on the path; only a real
    * symbolic link needs it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus = lazyStatus(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(lazyStatus)

  /** A plain `FileStatus` already carries its permission, owner and group;
    * the stock local status loads them on first use, and so does ours. */
  private def lazyStatus(s: FileStatus): FileStatus =
    if (s.getClass == classOf[FileStatus]) s else new NioFileStatus(s, pathToFile(s.getPath))
}

/** A local status whose permission, owner and group load on first use, as
  * the stock status's do, but from one `stat` instead of `ls -ld` (of the
  * file itself, so a link reads its target, as `ls -ld` of the canonical
  * path does). Where NIO fails, they come from the stock status `stock`. */
private[sources] final class NioFileStatus(stock: FileStatus, file: java.io.File)
    extends FileStatus(stock.getLen, stock.isDirectory, stock.getReplication,
      stock.getBlockSize, stock.getModificationTime, stock.getAccessTime,
      null, null, null, null, stock.getPath) {
  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }

  /** An empty owner means not loaded yet: the stock status's test. */
  private def load(): Unit = synchronized {
    if (super.getOwner.isEmpty) try {
      val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
      setPermission(new FsPermission(
        (a.get("mode").asInstanceOf[Int] & NioRawLocalFileSystem.PermissionBits).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch { case _: IOException | _: UnsupportedOperationException =>
      setPermission(stock.getPermission)
      setOwner(stock.getOwner)
      setGroup(stock.getGroup)
    }
  }
}

object NioRawLocalFileSystem {
  private[sources] val PermissionBits = 0x3ff // 01777: rwx for all three, and sticky
  private val SpecialBits = 0xe00    // 07000: set-uid, set-gid, sticky

  /** The rwx bits of a mode; PosixFilePermission's order is 0400 down to 01. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], for the FileSystem API (tap, table and
  * committer writes). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]], for the FileContext API (streaming
  * checkpoint logs). Hadoop constructs it with (URI, Configuration); like
  * `LocalFs` it serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructor fixes the raw filesystem. */
private[sources] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
