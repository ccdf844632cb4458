package graft.lake

import java.io.{File, FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.collection.mutable.ArrayBuffer

/** The filesystem behind [[LakeClient.local]]: Hadoop's raw local
  * filesystem with its metadata I/O done through `java.nio`.
  *
  * Without the native libhadoop, `RawLocalFileSystem` starts a `chmod`
  * process for every file or directory it creates and an `ls -ld` the
  * first time a status's owner, group or permission is read. Each spawn
  * costs milliseconds, ten times the rest of a lake call. Here:
  *  - permission and owner changes go through the `unix:mode` and
  *    `posix:owner`/`posix:group` attribute views (`unix:mode`, unlike the
  *    POSIX permission set, keeps the sticky bit);
  *  - a status is one `readAttributes`. Owner, group and permission load
  *    on first access, as Hadoop's own local status does; loading them
  *    eagerly would resolve an owner name for every listed child;
  *  - a listing reads one directory stream and stats each child once,
  *    building the child's `Path` from the parent's qualified URI instead
  *    of parsing it twice.
  *
  * Data streams, rename and delete are the raw filesystem's own.
  */
final class NioLocalFileSystem extends RawLocalFileSystem {
  import NioLocalFileSystem.LazyStatus

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** Refuses a name the JVM's file-name encoding cannot represent (any
    * non-ASCII name under an ASCII locale): `java.io.File` would write it
    * under another name, with `?` for each unmappable character. */
  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    f.toPath // InvalidPathException, an IllegalArgumentException
    f
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    if (username == null && groupname == null)
      throw new IOException("username == null && groupname == null")
    val file = pathToFile(p).toPath
    val principals = file.getFileSystem.getUserPrincipalLookupService
    if (username != null)
      Files.setAttribute(file, "posix:owner", principals.lookupPrincipalByName(username))
    if (groupname != null)
      Files.setAttribute(file, "posix:group", principals.lookupPrincipalByGroupName(groupname))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch {
        // like RawLocalFileSystem, whose File.exists is false for any
        // path it cannot stat
        case e: FileSystemException =>
          throw new FileNotFoundException(s"File $f does not exist").initCause(e)
      }
    status(attrs, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = getFileStatus(f)
    if (!dir.isDirectory) return Array(dir)
    val base = dir.getPath.toUri
    val prefix = base.getPath.stripSuffix("/") + "/"
    val out = ArrayBuffer.empty[FileStatus]
    val children = Files.newDirectoryStream(pathToFile(f).toPath)
    try {
      val it = children.iterator()
      while (it.hasNext) {
        val child = it.next()
        // the multi-argument URI constructor quotes the name ('%', '#',
        // spaces) exactly as Hadoop's Path constructors do
        val path = new Path(new URI(base.getScheme, base.getAuthority,
          prefix + child.getFileName.toString, null, null))
        try out += status(Files.readAttributes(child, classOf[BasicFileAttributes]), path)
        catch { case _: NoSuchFileException => } // removed since the directory was read
      }
    } finally children.close()
    out.toArray
  }

  private def status(a: BasicFileAttributes, path: Path): FileStatus =
    new LazyStatus(a.size, a.isDirectory, blockSize,
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, path)
}

object NioLocalFileSystem {
  /** A status whose owner, group and permission are read on first access,
    * with one `unix` attribute read. Like Hadoop's
    * `DeprecatedRawLocalFileStatus`, it keeps no handle to the filesystem
    * and finds the file again from its path. */
  private final class LazyStatus(length: Long, isDir: Boolean, blockSize: Long,
                                 mtime: Long, atime: Long, path: Path)
      extends FileStatus(length, isDir, 1, blockSize, mtime, atime, null, null, null, path) {
    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a =
          try Files.readAttributes(Paths.get(getPath.toUri.getPath), "unix:mode,owner,group")
          catch { case e: IOException => throw new UncheckedIOException(e) }
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
