package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem, registered by [[graft.GraftSession]]
  * for both Hadoop APIs: [[LocalFileSystem]] (`fs.file.impl`, the
  * FileSystem API of sinks and snapshots) and [[LocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, the FileContext API of Spark's
  * stream checkpoint manager).
  *
  * Without `libhadoop`, Hadoop's local filesystem starts a subprocess for
  * three calls: `chmod` in `setPermission` (every create and mkdir),
  * `readlink` in `getFileLinkStatus` (every FileContext status and
  * rename) and `ls -ld` when a status's permission or owner is read.
  * A `write_stream` pass started about 3,000 of them. [[RawLocal]]
  * answers those three from `java.nio.file` and leaves everything else —
  * the `.crc` checksum layering above it included — to Hadoop. Other
  * schemes are untouched. */
object LocalFs {

  /** The rwx bits of `mode` (from `toShort`: a create mode's `toString`
    * is not `rwx` text). PosixFilePermission lists OWNER_READ …
    * OTHERS_EXECUTE, the high mode bit first. */
  private[sources] def posixPerms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }

  /** `body`, or None where NIO cannot answer — an I/O error (a missing
    * path included) or no such attribute view — so the caller falls back
    * to Hadoop's own path and its exact behaviour. */
  private[sources] def nio[T](body: => T): Option[T] =
    try Some(body) catch {
      case _: IOException | _: UnsupportedOperationException => None
    }

  /** One `lstat`: the `unix` view is the `posix` one plus `mode`, which
    * keeps the sticky bit that `ls -ld` shows and PosixFilePermission
    * cannot. */
  private[sources] val Attrs =
    "unix:mode,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink,owner,group"
}

/** Hadoop's checksummed LocalFileSystem over [[RawLocal]]. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocal)

/** Hadoop's `local.LocalFs` (ChecksumFs over a delegate to the raw
  * filesystem), over [[RawLocal]]; like Hadoop's, it ignores `uri`. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(conf))

/** Hadoop's `local.RawLocalFs`, whose constructors are package-private,
  * with the same overrides, delegating to [[RawLocal]]. */
private[sources] class RawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawLocal,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** RawLocalFileSystem with `setPermission`, `getFileStatus`,
  * `getFileLinkStatus` and `listStatus` of a plain file answered without
  * a subprocess. What NIO cannot express goes to `super`: a sticky bit
  * (chmod), a symlink (its own `ls -ld` mode and `readlink` target), an
  * I/O error or a filesystem without the `unix` attribute view. */
class RawLocal extends RawLocalFileSystem {
  import LocalFs._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val done = !permission.getStickyBit && nio(Files.setPosixFilePermissions(
      pathToFile(p).toPath, posixPerms(permission.toShort))).isDefined
    if (!done) super.setPermission(p, permission)
  }

  /** The FileStatus Hadoop builds (`DeprecatedRawLocalFileStatus`, with
    * its lazily loaded `ls -ld` permission, owner and group), from one
    * attribute read. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    nio(Files.readAttributes(file.toPath, Attrs, LinkOption.NOFOLLOW_LINKS))
      .filter(a => !a.get("isSymbolicLink").asInstanceOf[Boolean])
      .fold(super.getFileStatus(f)) { a =>
        def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
        new FileStatus(a.get("size").asInstanceOf[Long],
          a.get("isDirectory").asInstanceOf[Boolean], 1,
          getDefaultBlockSize(f), millis("lastModifiedTime"),
          millis("lastAccessTime"),
          new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
          a.get("owner").asInstanceOf[UserPrincipal].getName,
          a.get("group").asInstanceOf[GroupPrincipal].getName,
          new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** A directory's children already go through [[getFileStatus]]; a
    * plain file would get Hadoop's status directly. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)
}
