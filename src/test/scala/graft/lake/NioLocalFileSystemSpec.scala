package graft.lake

import java.io.{FileNotFoundException, IOException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.{FileTime, UserDefinedFileAttributeView}
import java.util.EnumSet
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.XAttrSetFlag.{CREATE, REPLACE}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** When the local lake filesystem reads a listed child's attributes:
  * `listStatus` reads them all up front, `listStatusIterator` on first
  * use, and a listing page leaves out a child gone in between. Its `user.`
  * extended attributes, and how create, append and rename keep or drop
  * them. */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var rootDir: java.nio.file.Path = _
  private var client: LakeClient = _

  override def beforeAll(): Unit = {
    rootDir = Files.createTempDirectory("niofs")
    client = LakeClient.local(rootDir.toString)
  }

  override def afterAll(): Unit = FileUtils.deleteDirectory(rootDir.toFile)

  private def lakePath(rel: String): Path = new Path(client.accountRoot, rel)

  private def basics(st: FileStatus): (String, Long, Boolean, Long) =
    (st.getPath.getName, st.getLen, st.isDirectory, st.getModificationTime)

  /** Writes `rel` with `size` bytes and a modification time of `mtime` s. */
  private def write(rel: String, size: Int, mtime: Long): Unit = {
    val f = rootDir.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, Array.fill[Byte](size)(1))
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtime * 1000))
  }

  test("statuses from listStatus keep their attributes after their file is deleted") {
    write("eager/a.bin", 5, 1000)
    write("eager/sub/b.bin", 7, 2000)
    val listed = client.fs.listStatus(lakePath("eager")).sortBy(_.getPath.getName)
    val before = listed.map(basics).toSeq
    assert(before.map(b => (b._1, b._3)) == Seq("a.bin" -> false, "sub" -> true))
    assert(before.head._2 == 5 && before.head._4 == 1000000)
    FileUtils.deleteDirectory(rootDir.resolve("eager").toFile)
    assert(listed.map(basics).toSeq == before)
  }

  test("statuses from listStatusIterator match getFileStatus") {
    write("lazy/a.bin", 3, 1000)
    write("lazy/b.bin", 0, 2000)
    write("lazy/c d%.bin", 11, 3000)
    write("lazy/sub/x.bin", 1, 4000)
    val it = client.fs.listStatusIterator(lakePath("lazy"))
    val listed = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(listed.map(_.getPath.getName).sorted == Seq("a.bin", "b.bin", "c d%.bin", "sub"))
    listed.foreach(st => assert(basics(st) == basics(client.fs.getFileStatus(st.getPath))))
    // a file lists as its own status; a missing path is not found
    val file = client.fs.listStatusIterator(lakePath("lazy/a.bin")).next()
    assert(basics(file) == ("a.bin", 3L, false, 1000000L))
    intercept[FileNotFoundException] { client.fs.listStatusIterator(lakePath("lazy/none")) }
  }

  test("listed statuses survive Java serialization, read or not") {
    write("ser/a.bin", 4, 1000)
    def roundTrip(st: FileStatus): FileStatus = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(st)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[FileStatus]
    }
    val expected = ("a.bin", 4L, false, 1000000L)
    assert(basics(roundTrip(client.fs.listStatusIterator(lakePath("ser")).next())) == expected)
    assert(basics(roundTrip(client.fs.listStatus(lakePath("ser")).head)) == expected)
    assert(basics(roundTrip(client.fs.getFileStatus(lakePath("ser/a.bin")))) == expected)
  }

  test("a child deleted before its attributes are read is left out of the page") {
    client.createFilesystem("gone")
    (0 until 10).foreach(i => client.uploadString("gone", s"f$i", "x"))
    client.uploadString("gone", "sub/y", "x")
    // deletes the given paths after the next listing has read its directory
    var victims = Seq.empty[String]
    val deleting = new FilterFileSystem(client.fs) {
      override def listStatusIterator(f: Path) = {
        val it = super.listStatusIterator(f)
        victims.foreach(v => FileUtils.forceDelete(rootDir.resolve(s"gone/$v").toFile))
        victims = Nil
        it
      }
    }
    val lake = new LakeClient(deleting, client.accountRoot)
    def names(page: LakeClient.PathPage) = page.entries.map(_.name.split('/').last)

    victims = Seq("f1")
    val first = lake.listPathsPage("gone", maxResults = 3)
    assert(names(first) == Seq("f0", "f2", "f3") && first.continuation.nonEmpty)
    val rest = lake.listPathsPage("gone", continuation = first.continuation)
    assert(names(rest) == (4 until 10).map(i => s"f$i") :+ "sub" :+ "y")
    assert(rest.continuation.isEmpty)

    victims = Seq("f5", "sub")
    val all = lake.listPathsPage("gone")
    assert(names(all) == Seq("f0", "f2", "f3", "f4", "f6", "f7", "f8", "f9"))
    assert(all.continuation.isEmpty)
    client.deleteFilesystem("gone")
  }

  private def fs = client.fs

  /** The bytes of `name` on `rel`, read with java.nio; None if absent. */
  private def xattr(rel: String, name: String): Option[String] = {
    val view = Files.getFileAttributeView(rootDir.resolve(rel), classOf[UserDefinedFileAttributeView])
    if (!view.list().contains(name)) None
    else {
      val buf = ByteBuffer.allocate(view.size(name))
      view.read(name, buf)
      Some(new String(buf.array, UTF_8))
    }
  }

  private def setXattr(rel: String, name: String, value: String): Unit =
    Files.getFileAttributeView(rootDir.resolve(rel), classOf[UserDefinedFileAttributeView])
      .write(name, ByteBuffer.wrap(value.getBytes(UTF_8)))

  private def inode(rel: String): AnyRef = Files.getAttribute(rootDir.resolve(rel), "unix:ino")

  test("xattrs: set then get round-trips on a file and a directory; an absent one reads null") {
    write("xa/f.bin", 3, 1000)
    for (rel <- Seq("xa/f.bin", "xa")) {
      assert(fs.getXAttr(lakePath(rel), "user.k") == null) // ABFS's answer
      fs.setXAttr(lakePath(rel), "user.k", "v1".getBytes(UTF_8))
      fs.setXAttr(lakePath(rel), "user.k", "v=2,é".getBytes(UTF_8))
      assert(new String(fs.getXAttr(lakePath(rel), "user.k"), UTF_8) == "v=2,é")
      assert(xattr(rel, "k").contains("v=2,é"))
      assert(fs.getXAttr(lakePath(rel), "user.other") == null)
      fs.setXAttr(lakePath(rel), "user.empty", Array.emptyByteArray)
      assert(fs.getXAttr(lakePath(rel), "user.empty").isEmpty)
      // CREATE alone refuses an existing name, REPLACE alone an absent one
      intercept[IOException] { fs.setXAttr(lakePath(rel), "user.k", Array[Byte](1), EnumSet.of(CREATE)) }
      intercept[IOException] { fs.setXAttr(lakePath(rel), "user.new", Array[Byte](1), EnumSet.of(REPLACE)) }
      fs.setXAttr(lakePath(rel), "user.new", "n".getBytes(UTF_8), EnumSet.of(CREATE))
      fs.setXAttr(lakePath(rel), "user.new", "r".getBytes(UTF_8), EnumSet.of(REPLACE))
      assert(xattr(rel, "k").contains("v=2,é") && xattr(rel, "new").contains("r"))
    }
  }

  test("xattrs: a missing path raises FileNotFoundException for get and set") {
    intercept[FileNotFoundException] { fs.getXAttr(lakePath("xm/none"), "user.k") }
    intercept[FileNotFoundException] { fs.setXAttr(lakePath("xm/none"), "user.k", Array[Byte](1)) }
    assert(!Files.exists(rootDir.resolve("xm")))
  }

  test("xattrs: an overwriting create drops them, append keeps them") {
    write("xc/f.bin", 3, 1000)
    setXattr("xc/f.bin", "k", "v")
    val out = fs.append(lakePath("xc/f.bin"))
    out.write(Array[Byte](2, 3))
    out.close()
    assert(xattr("xc/f.bin", "k").contains("v") && Files.size(rootDir.resolve("xc/f.bin")) == 5)
    fs.create(lakePath("xc/f.bin"), true).close()
    assert(xattr("xc/f.bin", "k").isEmpty && Files.size(rootDir.resolve("xc/f.bin")) == 0)
  }

  test("xattrs: a name outside user. is refused") {
    write("xn/f.bin", 1, 1000)
    for (name <- Seq("trusted.k", "k", "security.k"))
      intercept[IllegalArgumentException] { fs.setXAttr(lakePath("xn/f.bin"), name, Array[Byte](1)) }
    intercept[IllegalArgumentException] { fs.getXAttr(lakePath("xn/f.bin"), "system.k") }
  }

  test("xattrs: a value too large for the filesystem fails naming the path and its size") {
    write("xl/f.bin", 1, 1000)
    // above Linux's 64 KiB XATTR_SIZE_MAX, so no filesystem takes it
    val e = intercept[IOException] { fs.setXAttr(lakePath("xl/f.bin"), "user.k", new Array[Byte](70000)) }
    assert(e.getMessage.contains("xl/f.bin") && e.getMessage.contains("70000"))
    assert(!e.isInstanceOf[FileNotFoundException] && xattr("xl/f.bin", "k").isEmpty)
  }

  // (shape, directories, files, source, destination, where the source lands)
  private val RenameShapes = Seq(
    ("file -> new name", Nil, Seq("a"), "a", "b", "b"),
    ("file -> existing file, replacing it", Nil, Seq("a", "b"), "a", "b", "b"),
    ("file -> existing directory, landing inside it", Seq("d"), Seq("a"), "a", "d", "d/a"),
    ("directory -> new name", Seq("s"), Seq("s/c"), "s", "t", "t"),
    ("directory -> empty directory, replacing it", Seq("s", "e"), Seq("s/c"), "s", "e", "e"),
    ("directory -> non-empty directory, landing inside it", Seq("s", "n"), Seq("s/c", "n/x"), "s", "n", "n/s"),
    ("file -> path under a missing parent, creating it", Nil, Seq("a"), "a", "m/n/b", "m/n/b"))

  test("rename lands each shape where RawLocalFileSystem does, keeping its inode and xattrs") {
    val raw = new RawLocalFileSystem
    raw.initialize(java.net.URI.create("file:///"), new Configuration())
    for (((shape, dirs, files, src, dst, landing), i) <- RenameShapes.zipWithIndex;
         (name, f) <- Seq("raw" -> raw, "nio" -> fs)) withClue(s"$name, $shape:") {
      val base = s"mv$i$name"
      dirs.foreach(d => Files.createDirectories(rootDir.resolve(s"$base/$d")))
      files.foreach(p => write(s"$base/$p", p.length, 1000))
      setXattr(s"$base/$src", "k", s"$shape")
      val ino = inode(s"$base/$src")
      assert(f.rename(lakePath(s"$base/$src"), lakePath(s"$base/$dst")))
      assert(!Files.exists(rootDir.resolve(s"$base/$src")))
      assert(Files.exists(rootDir.resolve(s"$base/$landing")))
      if (dirs.contains(src)) assert(Files.exists(rootDir.resolve(s"$base/$landing/c")))
      if (f eq fs) {
        assert(inode(s"$base/$landing") == ino)
        assert(xattr(s"$base/$landing", "k").contains(shape))
      }
    }
    for (f <- Seq(raw, fs))
      intercept[FileNotFoundException] { f.rename(lakePath("mv-ghost"), lakePath("mv-any")) }
    raw.close()
  }
}
