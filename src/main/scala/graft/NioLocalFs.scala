package graft

import java.io.{File, FileNotFoundException, UncheckedIOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with permissions and link status through
  * `java.nio.file`. Without libhadoop, `RawLocalFileSystem` starts a
  * child process for each of these: `chmod` after every file or
  * directory it creates, `ls -ld` when a status's permission or owner
  * is read, `readlink` for every link status (a streaming checkpoint's
  * atomic write asks for several). Here they are one system call
  * each: the `unix` attribute view reads and sets the whole mode,
  * sticky bit included, and resolves owner and group names. Data,
  * `.crc` checksums, renames and listings stay the superclass's
  * (a directory listing builds each entry through `getFileStatus`);
  * what has no NIO override (`setOwner`, `createSymlink`) still runs
  * the superclass's command. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    new NioLocalFileStatus(file, attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** A link's status carries its target's length, times and permission
    * under the link's own path, and no directory flag; a dangling link
    * has an empty status; anything else is `getFileStatus`. */
  private def linkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** A local file's status: length, type and times from one `stat`;
  * permission, owner and group loaded on first use, as the superclass
  * does, because listings rarely read them and name lookups cost. */
private final class NioLocalFileStatus(file: File, attrs: BasicFileAttributes,
    blockSize: Long, path: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis, null, null, null, path) {

  private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      try {
        val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
        // rwx for user, group and other, plus the sticky bit (octal 1777)
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch {
        case _: NoSuchFileException => // deleted since: defaults, as the superclass
        case e: java.io.IOException => throw new UncheckedIOException(e)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. Extends `LocalFileSystem`, so
  * `FileSystem.getLocal` callers keep working. Without this setting
  * the classpath's service files give `file:` to Hive's
  * `ProxyLocalFileSystem`, a `LocalFileSystem` whose one change is
  * that a rename onto an existing file fails (HDFS's rule, where the
  * JVM's rename would replace it); that rule is kept. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side, which the
  * state store and the streaming offset and commit logs write through.
  * Hadoop's `LocalFs` with [[NioRawLocalFileSystem]] underneath. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs` (whose constructors are package-private). */
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
