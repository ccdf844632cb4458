package graft.lake

import java.io.{File, FileNotFoundException, IOException, OutputStream, UncheckedIOException}
import java.net.URI
import java.nio.ByteBuffer
import java.nio.file.{FileSystemException, Files, NoSuchFileException, NotDirectoryException, Paths}
import java.nio.file.LinkOption.NOFOLLOW_LINKS
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserDefinedFileAttributeView, UserPrincipal}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem, RemoteIterator, XAttrSetFlag}
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
  *  - a listing reads one directory stream, building each child's `Path`
  *    from the parent's qualified URI instead of parsing it twice.
  *    `listStatus` then stats every child; `listStatusIterator` leaves a
  *    child unstatted until its status is first asked for an attribute,
  *    so a caller that only reads names (a listing page skipping to its
  *    cursor) pays no stat for them. A child gone before that first read
  *    throws an `UncheckedIOException` caused by a `FileNotFoundException`
  *    ([[NioLocalFileSystem.Vanished]]); `listStatus` leaves it out.
  *
  * `user.` extended attributes go through the `UserDefinedFileAttributeView`
  * and live and die with the inode, as ADLS keeps `x-ms-properties` with
  * the path: an overwriting create unlinks the old file (Raw's `O_TRUNC`
  * reopen keeps its attributes), and a rename always moves the inode,
  * where Raw copies to a new one whenever `rename(2)` refuses. Data
  * streams and delete are the raw filesystem's own.
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

  override def getFileStatus(f: Path): FileStatus = stat(f)

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    val file = pathToFile(f).toPath
    if (!append && Files.isRegularFile(file, NOFOLLOW_LINKS)) Files.deleteIfExists(file)
    super.createOutputStreamWithMode(f, append, permission)
  }

  /** Lands `src` where `RawLocalFileSystem.rename` does: at `dst`, or at
    * `dst/<name>` when `rename(2)` refuses because `dst` is a directory,
    * after creating `dst`'s missing parents. A missing source throws
    * `FileNotFoundException`. */
  override def rename(src: Path, dst: Path): Boolean = {
    val from = pathToFile(src).toPath
    val to = pathToFile(dst).toPath
    try Files.move(from, to, ATOMIC_MOVE) // rename(2), as File.renameTo
    catch {
      case e: FileSystemException =>
        if (Files.notExists(from, NOFOLLOW_LINKS)) throw notFound(src, e)
        // Raw's FileUtil.copy refuses an existing landing spot; so does a
        // move without REPLACE_EXISTING
        if (Files.isDirectory(to)) Files.move(from, to.resolve(from.getFileName))
        else if (Files.notExists(to)) { Files.createDirectories(to.getParent); Files.move(from, to) }
        else throw e
    }
    true
  }

  /** Sets a `user.` attribute. A value the filesystem cannot hold fails
    * with an `IOException` naming the path and the value's size. */
  override def setXAttr(path: Path, name: String, value: Array[Byte],
                        flag: EnumSet[XAttrSetFlag]): Unit = {
    val (view, attr) = userXAttr(path, name)
    try {
      if (!flag.containsAll(EnumSet.allOf(classOf[XAttrSetFlag])))
        XAttrSetFlag.validate(name, view.list().contains(attr), flag)
      view.write(attr, ByteBuffer.wrap(value))
    } catch {
      case e: NoSuchFileException => throw notFound(path, e)
      case e: FileSystemException =>
        throw new IOException(s"$path: cannot set $name to ${value.length} bytes: ${e.getReason}", e)
    }
  }

  /** Reads a `user.` attribute with one read of up to Linux's 64 KiB
    * `XATTR_SIZE_MAX`; null if the path has none by that name, as ABFS
    * answers. */
  override def getXAttr(path: Path, name: String): Array[Byte] = {
    val (view, attr) = userXAttr(path, name)
    try {
      val buf = ByteBuffer.allocate(1 << 16)
      java.util.Arrays.copyOf(buf.array, view.read(attr, buf))
    } catch {
      case e: NoSuchFileException => throw notFound(path, e)
      // the JDK reports an absent attribute as a bare FileSystemException,
      // as it does any other failure: only the listing tells them apart
      case _: FileSystemException if !view.list().contains(attr) => null
    }
  }

  private def userXAttr(path: Path, name: String): (UserDefinedFileAttributeView, String) = {
    if (!name.startsWith("user."))
      throw new IllegalArgumentException(s"only user. extended attributes are supported: $name")
    (Files.getFileAttributeView(pathToFile(path).toPath, classOf[UserDefinedFileAttributeView]),
      name.stripPrefix("user."))
  }

  private def notFound(f: Path, cause: Exception): Throwable =
    new FileNotFoundException(s"File $f does not exist").initCause(cause)

  /** Reads every child's attributes; a child removed since the directory
    * was read is left out. */
  override def listStatus(f: Path): Array[FileStatus] =
    children(f).filter(_.exists).toArray[FileStatus]

  /** The children as [[listStatus]] finds them, each child's attributes
    * read when its status is first asked for one. */
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    val it = children(f).iterator
    new RemoteIterator[FileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): FileStatus = it.next()
    }
  }

  private def stat(f: Path): LazyStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch {
        // like RawLocalFileSystem, whose File.exists is false for any
        // path it cannot stat
        case e: FileSystemException => throw notFound(f, e)
      }
    new LazyStatus(qualified(file), blockSize, file.toPath, attrs)
  }

  /** Reads `f`'s directory stream once: one status per child, none of
    * them statted yet. A file lists as its own status. */
  private def children(f: Path): ArrayBuffer[LazyStatus] = {
    val file = pathToFile(f)
    val stream =
      try Files.newDirectoryStream(file.toPath)
      catch {
        case _: NotDirectoryException => return ArrayBuffer(stat(f))
        case e: NoSuchFileException => throw notFound(f, e)
      }
    val base = qualified(file).toUri
    val prefix = base.getPath.stripSuffix("/") + "/"
    val out = ArrayBuffer.empty[LazyStatus]
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val child = it.next()
        // the multi-argument URI constructor quotes the name ('%', '#',
        // spaces) exactly as Hadoop's Path constructors do
        val path = new Path(new URI(base.getScheme, base.getAuthority,
          prefix + child.getFileName.toString, null, null))
        out += new LazyStatus(path, blockSize, child, null)
      }
    } finally stream.close()
    out
  }

  private def qualified(file: File): Path =
    new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)
}

object NioLocalFileSystem {
  /** Matches what a listed status throws when its file is gone before its
    * attributes were read. */
  private[lake] object Vanished {
    def unapply(e: UncheckedIOException): Boolean = e.getCause.isInstanceOf[FileNotFoundException]
  }

  /** A status whose attributes are read from the file on first access:
    * the basic ones (length, type, times) with one `readAttributes`
    * unless they were known when it was made, owner, group and permission
    * with one `unix` attribute read. Like Hadoop's
    * `DeprecatedRawLocalFileStatus`, it keeps no handle to the filesystem:
    * it reads the directory entry it was listed from, or, once
    * serialized, finds the file again from its path. If the file is gone
    * by the first basic read, that read throws an `UncheckedIOException`
    * whose cause is a `FileNotFoundException`. */
  private final class LazyStatus(path: Path, blockSize: Long,
                                 @transient private val entry: java.nio.file.Path,
                                 known: BasicFileAttributes)
      extends FileStatus(0, false, 1, blockSize, 0, 0, null, null, null, path) {
    private var length, mtime, atime = 0L
    private var dir = false
    @volatile private var statted = false
    @volatile private var loaded = false
    if (known != null) basics(known)

    private def file = if (entry != null) entry else Paths.get(getPath.toUri.getPath)

    private def basics(a: BasicFileAttributes): Unit = {
      length = a.size
      dir = a.isDirectory
      mtime = a.lastModifiedTime.toMillis
      atime = a.lastAccessTime.toMillis
      statted = true
    }

    private def stat(): Unit = if (!statted) basics(
      try Files.readAttributes(file, classOf[BasicFileAttributes])
      catch {
        case e: NoSuchFileException =>
          val gone = new FileNotFoundException(s"File $getPath does not exist")
          gone.initCause(e)
          throw new UncheckedIOException(gone)
        case e: IOException => throw new UncheckedIOException(e)
      })

    /** Reads the basic attributes; false if the file is gone. */
    def exists: Boolean =
      try { stat(); true }
      catch { case Vanished() => false }

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a =
          try Files.readAttributes(file, "unix:mode,owner,group")
          catch { case e: IOException => throw new UncheckedIOException(e) }
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getLen: Long = { stat(); length }
    override def isDirectory: Boolean = { stat(); dir }
    override def getModificationTime: Long = { stat(); mtime }
    override def getAccessTime: Long = { stat(); atime }
    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
