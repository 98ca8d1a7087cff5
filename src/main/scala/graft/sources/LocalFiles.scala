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

  override def getFileStatus(f: Path): FileStatus = loaded(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(loaded)

  /** The stock status reads permission, owner and group from `ls -ld` on
    * first use (of the canonical path, so a link reads its target); this
    * one reads the same three from one `stat`. A plain `FileStatus`
    * already carries them. */
  private def loaded(s: FileStatus): FileStatus =
    if (s.getClass == classOf[FileStatus]) s
    else try {
      val a = Files.readAttributes(pathToFile(s.getPath).toPath, "unix:mode,owner,group")
      new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
        s.getModificationTime, s.getAccessTime,
        new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName, null, s.getPath)
    } catch { case _: IOException | _: UnsupportedOperationException => s }
}

object NioRawLocalFileSystem {
  private val PermissionBits = 0x3ff // 01777: rwx for all three, and sticky
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
