package graft.lake

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.FileTime
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** When the local lake filesystem reads a listed child's attributes:
  * `listStatus` reads them all up front, `listStatusIterator` on first
  * use, and a listing page leaves out a child gone in between. */
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
}
