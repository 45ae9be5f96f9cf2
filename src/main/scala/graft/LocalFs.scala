package graft

import java.io.{FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException, Paths, Path => NioPath}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFileAttributeView, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with its
  * checksum layer, doing permission, owner and status work through
  * `java.nio.file`.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem` starts
  * a shell process for every `setPermission` (`chmod`, run by every create
  * and mkdir that carries a permission), every `setOwner` (`chown`), every
  * lazy permission or owner read of a status (`ls -ld`) and every link
  * status (`readlink`, run twice per `FileContext.rename`). Checkpoint
  * files, state-store deltas and committed output all pay it: a
  * `CheckpointFileManager.createAtomic` started 10 processes.
  *
  * [[install]] points a Hadoop conf's `file:` scheme at these classes for
  * both APIs: `FileSystem` ([[NioLocalFileSystem]]) and `FileContext`
  * ([[NioLocalFs]], which the streaming checkpoint and state-store
  * managers use). `GraftExtensions` calls it on the SparkContext's conf
  * when a session is built. The `FileSystem` cache is keyed by scheme and
  * user, not by conf: an install after the first `file:` filesystem is
  * cached leaves the cached stock instance in place.
  */
object LocalFs {

  /** Install on `conf`, where the JDK exposes the `unix` attribute view
    * (the full mode word, owner and group in one read); elsewhere the stock
    * classes stay.
    */
  def install(conf: Configuration): Unit =
    if (FileSystems.getDefault.supportedFileAttributeViews.contains("unix")) {
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    }

  // rwxrwxrwx, high bit first: the declaration order of PosixFilePermission
  private val permissionBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 0x100 >> i) }

  private[graft] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    permissionBits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }
}

/** `RawLocalFileSystem` with permission, owner and status work through NIO.
  * Reads, writes, renames and deletes are the stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // a sticky bit has no PosixFilePermission: the stock chmod sets it
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else nio(p)(Files.setPosixFilePermissions(_, LocalFs.posixPermissions(mode)))
  }

  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    if (username == null && groupname == null)
      throw new IOException("username == null && groupname == null")
    nio(p) { f =>
      val view = Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
      val lookup = f.getFileSystem.getUserPrincipalLookupService
      if (username != null) view.setOwner(lookup.lookupPrincipalByName(username))
      if (groupname != null) view.setGroup(lookup.lookupPrincipalByGroupName(groupname))
    }
  }

  override def getFileStatus(p: Path): FileStatus = status(p, follow = true)

  /** The link's own status (`NOFOLLOW_LINKS`), its target qualified as
    * `FileSystem.getFileLinkStatus` requires.
    */
  override def getFileLinkStatus(p: Path): FileStatus = {
    val s = status(p, follow = false)
    if (s.isSymlink) s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, s.getPath, s.getSymlink))
    s
  }

  override def getLinkTarget(p: Path): Path =
    nio(p)(f => new Path(Files.readSymbolicLink(f).toString))

  /** The stock listing builds each entry with [[getFileStatus]], so entries
    * load permission, owner and group lazily; only a non-directory needs
    * routing here (the stock code builds that one itself).
    */
  override def listStatus(p: Path): Array[FileStatus] =
    if (pathToFile(p).isDirectory) super.listStatus(p) else Array(getFileStatus(p))

  private def status(p: Path, follow: Boolean): FileStatus = {
    val file = pathToFile(p)
    val opts = if (follow) Array.empty[LinkOption] else Array(LinkOption.NOFOLLOW_LINKS)
    val attrs = nio(p)(Files.readAttributes(_, classOf[BasicFileAttributes], opts: _*))
    val target =
      if (attrs.isSymbolicLink) nio(p)(f => new Path(Files.readSymbolicLink(f).toString)) else null
    new NioFileStatus(file.getPath, follow, attrs, getDefaultBlockSize(p), target,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  private def nio[T](p: Path)(body: NioPath => T): T =
    try body(pathToFile(p).toPath)
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
}

/** A status whose length, kind and times come from one stat, and whose
  * permission, owner and group load on first read, as the stock lazy
  * status does, in one more stat instead of an `ls -ld` process. A file
  * deleted before that read keeps `FileStatus`'s defaults.
  */
private final class NioFileStatus(local: String, follow: Boolean, attrs: BasicFileAttributes,
    blockSize: Long, symlink: Path, path: Path)
  extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize, attrs.lastModifiedTime.toMillis,
    attrs.lastAccessTime.toMillis, null, null, null, symlink, path) {

  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      val opts = if (follow) Seq.empty[LinkOption] else Seq(LinkOption.NOFOLLOW_LINKS)
      try {
        val a = Files.readAttributes(Paths.get(local), "unix:mode,owner,group", opts: _*)
        // the permission and sticky bits, as `ls -ld` reports them
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch {
        case _: NoSuchFileException =>
        case e: IOException => throw new UncheckedIOException(e)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** `LocalFileSystem` (the `.crc` checksum layer) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw local filesystem over [[NioRawLocalFileSystem]],
  * with the stock `RawLocalFs`'s port, server defaults and name rule.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true // the OS validates
}

/** `FileContext`'s `file:` filesystem: the checksum layer over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
