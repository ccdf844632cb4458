package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, XAttrSetFlag}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.collection.mutable
import LakeClient.PathPage

/** Semantic tests for the 16 lake operations (SURVEY.md §5.2): real
  * assertions (exists/contents/rename-moves), the reference's edge rules
  * (leading `/`, 404→empty listing, recursive-delete flag), and a
  * ScalaCheck chunked-write round-trip targeting the class of bug at
  * reference client.py:582 (flush-at-0). */
class LakeClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var rootDir: java.nio.file.Path = _
  private var client: LakeClient = _

  override def beforeAll(): Unit = {
    rootDir = Files.createTempDirectory("lake")
    client = LakeClient.local(rootDir.toString)
  }

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(rootDir.toFile)

  test("create/list/delete filesystem lifecycle") {
    client.createFilesystem("fs1")
    client.createFilesystem("fs2", Map("env" -> "test", "owner" -> "graft"))
    assert(client.listFilesystems().map(_.name.split('/').last).toSet == Set("fs1", "fs2"))
    assert(client.listFilesystems(prefix = Some("fs1")).map(_.name.split('/').last) == Seq("fs1"))
    assert(client.listFilesystems(maxResults = Some(1)).size == 1)
    assert(client.deleteFilesystem("fs1"))
    assert(client.listFilesystems().map(_.name.split('/').last) == Seq("fs2"))
    client.deleteFilesystem("fs2")
  }

  test("filesystem properties round-trip (fixes reference HEAD/json bug)") {
    client.createFilesystem("props", Map("a" -> "1", "b" -> "x=y,z"))
    assert(client.getFilesystemProperties("props") == Map("a" -> "1", "b" -> "x=y,z"))
    client.setFilesystemProperties("props", Map("c" -> "3"))
    assert(client.getFilesystemProperties("props") == Map("c" -> "3"))
    client.deleteFilesystem("props")
  }

  test("create file and directory paths; leading-slash tolerance") {
    client.createFilesystem("cp")
    client.createPath("cp", "/dir1", directory = true) // leading / tolerated
    client.createPath("cp", "dir1/file1.txt")
    val st = client.pathStatus("cp", "/dir1/file1.txt")
    assert(st.exists(s => !s.isDirectory && s.length == 0)) // zero-byte stage
    assert(client.pathStatus("cp", "dir1").exists(_.isDirectory))
    assert(client.pathStatus("cp", "nope").isEmpty)
    client.deleteFilesystem("cp")
  }

  test("path traversal is rejected: absolute escape, dot segments, empty fs name") {
    client.createFilesystem("tv")
    client.uploadString("tv", "ok.txt", "x")
    // single leading slash stays tolerated (client.py:221-222)
    assert(new String(client.readBytes("tv", "/ok.txt"), "UTF-8") == "x")
    // the REST reference sent these as literal URL segments; through
    // Hadoop Path resolution they would ESCAPE the account root
    intercept[IllegalArgumentException] { client.readBytes("tv", "//etc/passwd") }
    // a ':' before the first '/' parses as a URI scheme and Path
    // resolution returns the absolute child verbatim — the third shape
    intercept[IllegalArgumentException] { client.readBytes("tv", "file:/etc/passwd") }
    intercept[IllegalArgumentException] { client.deletePath("tv", "hdfs://host/x", recursive = true) }
    intercept[IllegalArgumentException] { client.deletePath("tv", "../tv2", recursive = true) }
    intercept[IllegalArgumentException] { client.createPath("tv", "a/../../b") }
    intercept[IllegalArgumentException] { client.setPathProperties("tv", "./ok.txt", Map("k" -> "v")) }
    intercept[IllegalArgumentException] { client.deleteFilesystem("..") }
    intercept[IllegalArgumentException] { client.deleteFilesystem("") }
    client.deleteFilesystem("tv")
  }

  test("setPathProperties on a missing path errors like the reference PATCH") {
    client.createFilesystem("mp")
    // properties set before the path exists would have nowhere to live:
    // the future directory must start with none
    intercept[IllegalArgumentException] {
      client.setPathProperties("mp", "future-dir", Map("k" -> "v"))
    }
    client.createPath("mp", "future-dir", directory = true)
    assert(client.getPathProperties("mp", "future-dir") == Map.empty)
    client.setPathProperties("mp", "future-dir", Map("k" -> "v"))
    assert(client.getPathProperties("mp", "future-dir") == Map("k" -> "v"))
    client.deleteFilesystem("mp")
  }

  test("upload rejects a non-positive chunkSize instead of hanging") {
    client.createFilesystem("cz")
    // read(buf) on a 0-length buffer returns 0 forever: the copy loop
    // would spin, not error
    intercept[IllegalArgumentException] {
      client.upload("cz", "f.bin",
        new java.io.ByteArrayInputStream(Array[Byte](1, 2, 3)), chunkSize = 0)
    }
    client.deleteFilesystem("cz")
  }

  test("upload, read, ranged read") {
    client.createFilesystem("data")
    val payload = "The quick brown fox jumps over the lazy dog"
    client.uploadString("data", "f.txt", payload)
    assert(new String(client.readBytes("data", "f.txt"), "UTF-8") == payload)
    assert(new String(client.readRange("data", "f.txt", 4, 5), "UTF-8") == "quick")
    // range past EOF returns the available suffix
    assert(new String(client.readRange("data", "f.txt", 40, 100), "UTF-8") == "dog")
    assert(client.readRange("data", "f.txt", 4, 0).isEmpty)
    // a negative range is refused by name, not by the array or the seek
    val negLength = intercept[IllegalArgumentException] { client.readRange("data", "f.txt", 0, -1) }
    assert(negLength.getMessage.contains("length"))
    val negOffset = intercept[IllegalArgumentException] { client.readRange("data", "f.txt", -1, 5) }
    assert(negOffset.getMessage.contains("offset"))
    // whole-object reads: empty, and larger than one upload chunk
    val rnd = new scala.util.Random(7)
    for (size <- Seq(0, 2 * client.ChunkSize + 17)) {
      val data = new Array[Byte](size); rnd.nextBytes(data)
      client.uploadBytes("data", "big.bin", data)
      assert(client.readBytes("data", "big.bin").sameElements(data))
      assert(client.readRange("data", "big.bin", size / 2, size).sameElements(data.drop(size / 2)))
    }
    client.deleteFilesystem("data")
  }

  test("append semantics (update_path action=append + flush-on-close)") {
    client.createFilesystem("app")
    client.uploadString("app", "log.txt", "line1\n")
    client.appendBytes("app", "log.txt", "line2\n".getBytes("UTF-8"))
    assert(new String(client.readBytes("app", "log.txt"), "UTF-8") == "line1\nline2\n")
    client.deleteFilesystem("app")
  }

  test("rename moves files and directories") {
    client.createFilesystem("mv")
    client.uploadString("mv", "a/x.txt", "content")
    assert(client.renamePath("mv", "a/x.txt", "a/y.txt"))
    assert(client.pathStatus("mv", "a/x.txt").isEmpty)
    assert(new String(client.readBytes("mv", "a/y.txt"), "UTF-8") == "content")
    // directory move
    assert(client.renamePath("mv", "a", "b"))
    assert(new String(client.readBytes("mv", "b/y.txt"), "UTF-8") == "content")
    // missing source → false (reference raises File not found, client.py:384)
    assert(!client.renamePath("mv", "ghost", "g2"))
    client.deleteFilesystem("mv")
  }

  test("delete_path honors the recursive flag") {
    client.createFilesystem("del")
    client.uploadString("del", "d/f.txt", "x")
    // non-recursive delete of non-empty dir must fail (reference DELETE
    // without recursive=true errors server-side)
    intercept[Exception] { client.deletePath("del", "d", recursive = false) }
    assert(client.deletePath("del", "d", recursive = true))
    assert(client.pathStatus("del", "d").isEmpty)
    client.deleteFilesystem("del")
  }

  test("list_path: recursive, non-recursive, maxResults, 404→empty") {
    client.createFilesystem("ls")
    client.uploadString("ls", "x/1.txt", "1")
    client.uploadString("ls", "x/y/2.txt", "22")
    client.uploadString("ls", "3.txt", "333")
    val rec = client.listPaths("ls")
    assert(rec.map(_.name.split('/').last).toSet == Set("x", "1.txt", "y", "2.txt", "3.txt"))
    val top = client.listPaths("ls", recursive = false)
    assert(top.map(_.name.split('/').last).toSet == Set("x", "3.txt"))
    assert(client.listPaths("ls", maxResults = 2).size == 2)
    // 404 → empty, reference client.py:523-524
    assert(client.listPaths("ls", "missing/dir") == Seq.empty)
    assert(client.listPaths("nosuchfs") == Seq.empty)
    // file lengths are real
    assert(rec.find(_.name.endsWith("3.txt")).get.length == 3)
    client.deleteFilesystem("ls")
  }

  test("path properties round-trip; lease is advisory") {
    client.createFilesystem("meta")
    client.uploadString("meta", "f.txt", "x")
    client.setPathProperties("meta", "f.txt", Map("k" -> "v"))
    assert(client.getPathProperties("meta", "f.txt") == Map("k" -> "v"))
    val id = client.leasePath("meta", "f.txt", "acquire")
    assert(id.nonEmpty)
    assert(client.leasePath("meta", "f.txt", "release", Some(id)) == id)
    intercept[IllegalArgumentException] { client.leasePath("meta", "f.txt", "bogus") }
    client.deleteFilesystem("meta")
  }

  test("acl/status degrade gracefully off-Azure") {
    client.createFilesystem("acl")
    client.uploadString("acl", "f.txt", "x")
    client.createPath("acl", "d", directory = true)
    val acl = client.aclStatus("acl", "f.txt")
    assert(acl.contains("permissions"))
    // owner, group and permission bits are the operating system's own
    for (path <- Seq("f.txt", "d")) {
      val posix = Files.readAttributes(rootDir.resolve(s"acl/$path"), classOf[PosixFileAttributes])
      val expected = Map("owner" -> posix.owner.getName, "group" -> posix.group.getName,
        "permissions" -> PosixFilePermissions.toString(posix.permissions))
      assert(client.aclStatus("acl", path) == expected)
      val st = client.pathStatus("acl", path).get
      assert(Map("owner" -> st.owner, "group" -> st.group, "permissions" -> st.permissions) == expected)
    }
    client.deleteFilesystem("acl")
  }

  test("setAccessControl round-trips permission bits; ACL spec degrades off-Azure") {
    client.createFilesystem("acl")
    client.uploadString("acl", "guarded.txt", "secret")
    // octal form
    val after = client.setAccessControl("acl", "guarded.txt", permission = Some("750"))
    assert(after("permissions") == "rwxr-x---")
    assert(client.aclStatus("acl", "guarded.txt")("permissions") == "rwxr-x---")
    // symbolic form
    client.setAccessControl("acl", "/guarded.txt", permission = Some("rw-r--r--"))
    assert(client.aclStatus("acl", "guarded.txt")("permissions") == "rw-r--r--")
    // ACL spec on a no-ACL filesystem degrades to its base-scope bits
    // (same off-Azure degrade as aclStatus's read side)
    val viaAcl = client.setAccessControl("acl", "guarded.txt",
      acl = Some("user::rwx,group::r--,other::---"))
    assert(viaAcl("permissions") == "rwxr-----")
    // the sticky bit survives the round trip
    client.createPath("acl", "shared", directory = true)
    client.setAccessControl("acl", "shared", permission = Some("1750"))
    assert(client.aclStatus("acl", "shared")("permissions") == "rwxr-x--T")
    assert(Files.getAttribute(rootDir.resolve("acl/shared"), "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1750", 8))
    // owner and group: set to the file's own, the change any user may make
    val posix = Files.readAttributes(rootDir.resolve("acl/guarded.txt"), classOf[PosixFileAttributes])
    val owned = client.setAccessControl("acl", "guarded.txt",
      owner = Some(posix.owner.getName), group = Some(posix.group.getName))
    assert(owned("owner") == posix.owner.getName && owned("group") == posix.group.getName)
    assert(client.setAccessControl("acl", "guarded.txt", group = Some(posix.group.getName))("group") ==
      posix.group.getName)
    // missing path fails loudly
    intercept[IllegalArgumentException] {
      client.setAccessControl("acl", "nope.txt", permission = Some("644"))
    }
    // REST contract: acl + permission are mutually exclusive on Azure,
    // and an all-None PATCH is an error, not a silent no-op
    intercept[IllegalArgumentException] {
      client.setAccessControl("acl", "guarded.txt",
        acl = Some("user::rwx,group::r--,other::---"), permission = Some("750"))
    }
    intercept[IllegalArgumentException] {
      client.setAccessControl("acl", "guarded.txt")
    }
    client.deleteFilesystem("acl")
  }

  test("sidecar props files are not listed as data paths") {
    // properties live in the path's extended attribute, so a listing
    // holds the data paths alone
    client.createFilesystem("hid")
    client.uploadString("hid", "f.txt", "x")
    client.setPathProperties("hid", "f.txt", Map("k" -> "v"))
    val names = client.listPaths("hid").map(_.name.split('/').last)
    assert(names == Seq("f.txt"))
    client.deleteFilesystem("hid")
  }

  test("listPathsPage: continuation token pages a >maxResults tree to completion") {
    client.createFilesystem("pg")
    // 3-level tree, 60+ entries, nested dirs interleaved with files
    for (i <- 0 until 20) client.uploadString("pg", f"a/f$i%02d.txt", "x")
    for (i <- 0 until 20) client.uploadString("pg", f"b/sub$i%02d/data.txt", "y")
    client.uploadString("pg", "top.txt", "z")
    val full = client.listPaths("pg", maxResults = Int.MaxValue)
    assert(full.size == 63) // 20 + (20 dirs + 20 files) + dirs a,b + top.txt

    // page with size 7: collect all pages via the cursor
    val pages = Iterator.iterate(
      client.listPathsPage("pg", maxResults = 7)) { p =>
        client.listPathsPage("pg", maxResults = 7, continuation = p.continuation)
      }
      .takeWhile(_.entries.nonEmpty)
      .take(20).toList
    val (complete, rest) = pages.span(_.continuation.isDefined)
    val all = (complete ++ rest.take(1)).flatMap(_.entries)
    // no entry lost, none duplicated, same set as the unpaged listing
    assert(all.map(_.name) == all.map(_.name).distinct)
    assert(all.map(_.name).toSet == full.map(_.name).toSet)
    assert(all.size == full.size)
    // last page reports no continuation
    assert(rest.head.continuation.isEmpty)

    // resumption order is deterministic: concatenated pages = one big page
    assert(all.map(_.name) == client.listPaths("pg", maxResults = 1000).map(_.name))
    client.deleteFilesystem("pg")
  }

  test("listPathsPage: bogus continuation token is rejected") {
    client.createFilesystem("tok")
    client.uploadString("tok", "f.txt", "x")
    intercept[IllegalArgumentException] {
      client.listPathsPage("tok", continuation = Some(
        java.util.Base64.getUrlEncoder.encodeToString("evil".getBytes("UTF-8"))))
    }
    client.deleteFilesystem("tok")
  }

  test("properties die with the path: delete then re-create starts clean") {
    client.createFilesystem("pd")
    client.uploadString("pd", "f.txt", "v1")
    client.setPathProperties("pd", "f.txt", Map("stale" -> "yes"))
    assert(client.deletePath("pd", "f.txt"))
    client.uploadString("pd", "f.txt", "v2")
    // ADLS semantics: a re-created path must NOT inherit the old properties
    assert(client.getPathProperties("pd", "f.txt") == Map.empty)
    client.deleteFilesystem("pd")
  }

  test("overwrite (no delete) also resets properties; poison keys rejected at write") {
    client.createFilesystem("po")
    client.uploadString("po", "f.txt", "v1")
    client.setPathProperties("po", "f.txt", Map("stale" -> "yes"))
    // direct overwrite — the same reset contract as delete+recreate
    client.uploadString("po", "f.txt", "v2")
    assert(client.getPathProperties("po", "f.txt") == Map.empty)
    client.createPath("po", "g.txt")
    client.setPathProperties("po", "g.txt", Map("stale" -> "yes"))
    client.createPath("po", "g.txt") // re-stage overwrites
    assert(client.getPathProperties("po", "g.txt") == Map.empty)
    // a ',' or '=' in a KEY would poison the stored line for every later
    // read — rejected at write time (values may contain anything)
    client.uploadString("po", "h.txt", "x")
    intercept[IllegalArgumentException] {
      client.setPathProperties("po", "h.txt", Map("a,b" -> "v"))
    }
    intercept[IllegalArgumentException] {
      client.setPathProperties("po", "h.txt", Map("a=b" -> "v"))
    }
    client.setPathProperties("po", "h.txt", Map("ok" -> "v=1,v=2")) // values fine
    assert(client.getPathProperties("po", "h.txt") == Map("ok" -> "v=1,v=2"))
    client.deleteFilesystem("po")
  }

  test("a directory with only properties still deletes non-recursively") {
    client.createFilesystem("dd")
    client.createPath("dd", "d", directory = true)
    client.setPathProperties("dd", "d", Map("k" -> "v"))
    // properties are no child of the directory: an empty directory with
    // properties must still delete with recursive=false
    assert(client.listPaths("dd", "d").isEmpty)
    assert(client.deletePath("dd", "d", recursive = false))
    assert(client.pathStatus("dd", "d").isEmpty)
    client.deleteFilesystem("dd")
  }

  test("properties travel with a renamed file; old name starts clean") {
    client.createFilesystem("pr")
    client.uploadString("pr", "a.txt", "x")
    client.setPathProperties("pr", "a.txt", Map("k" -> "v"))
    assert(client.renamePath("pr", "a.txt", "b.txt"))
    assert(client.getPathProperties("pr", "b.txt") == Map("k" -> "v"))
    client.uploadString("pr", "a.txt", "fresh")
    assert(client.getPathProperties("pr", "a.txt") == Map.empty)
    // directory properties also move with the dir
    client.createPath("pr", "d1", directory = true)
    client.setPathProperties("pr", "d1", Map("dk" -> "dv"))
    assert(client.renamePath("pr", "d1", "d2"))
    assert(client.getPathProperties("pr", "d2") == Map("dk" -> "dv"))
    // rename INTO an existing directory: POSIX semantics land the file at
    // dst/<name> — the properties must follow it there
    client.uploadString("pr", "c.txt", "x")
    client.setPathProperties("pr", "c.txt", Map("ck" -> "cv"))
    assert(client.renamePath("pr", "c.txt", "d2"))
    assert(client.getPathProperties("pr", "d2/c.txt") == Map("ck" -> "cv"))
    // the directory's own properties are untouched by the move-in
    assert(client.getPathProperties("pr", "d2") == Map("dk" -> "dv"))
    client.deleteFilesystem("pr")
  }

  test("rename onto a path with a stale sidecar does not inherit its properties") {
    client.createFilesystem("ro")
    // a propertied file deleted behind the client's back, where the
    // rename will land: its properties must be gone with it
    client.uploadString("ro", "b.txt", "old")
    client.setPathProperties("ro", "b.txt", Map("stale" -> "yes"))
    client.fs.delete(client.accountRoot.suffix("/ro/b.txt"), false) // not deletePath
    client.uploadString("ro", "a.txt", "new")
    assert(client.renamePath("ro", "a.txt", "b.txt"))
    // a.txt had no properties; the landed b.txt must not resurrect old ones
    assert(client.getPathProperties("ro", "b.txt") == Map.empty)
    client.deleteFilesystem("ro")
  }

  test("chunked upload round-trips arbitrary bytes x chunk sizes (reference bug client.py:582)") {
    client.createFilesystem("rt")
    val rnd = new scala.util.Random(42)
    // sizes straddle chunk boundaries: empty, 1, chunk-1, chunk, chunk+1, many
    for (size <- Seq(0, 1, 63, 64, 65, 1000, 4096, 10007); chunk <- Seq(1, 7, 64, 1024)) {
      val data = new Array[Byte](size); rnd.nextBytes(data)
      val written = client.upload("rt", "blob.bin", new java.io.ByteArrayInputStream(data), chunk)
      assert(written == size.toLong) // total length committed, not 0
      assert(client.readBytes("rt", "blob.bin").sameElements(data))
    }
    client.deleteFilesystem("rt")
  }

  test("upload from local file") {
    client.createFilesystem("lf")
    val tmp = Files.createTempFile("up", ".bin")
    Files.write(tmp, Array.fill[Byte](3000)(7))
    assert(client.uploadFile("lf", "up.bin", tmp.toFile) == 3000L)
    assert(client.readBytes("lf", "up.bin").length == 3000)
    Files.delete(tmp)
    client.deleteFilesystem("lf")
  }

  /** Entry names of a page, relative to the filesystem's root. */
  private def rel(filesystem: String, page: PathPage): Seq[String] =
    page.entries.map(_.name.stripPrefix(s"${client.accountRoot.toUri.getPath}/$filesystem/"))

  test("listPathsPage: a cursor from outside the listed directory places it once") {
    client.createFilesystem("cur")
    for (d <- Seq("a", "b", "c"); f <- Seq("1.txt", "2.txt")) client.uploadString("cur", s"$d/$f", "x")
    client.uploadString("cur", "b/sub/3.txt", "x")
    def tokenIn(dir: String) = client.listPathsPage("cur", dir, maxResults = 1).continuation
    val wholeB = Seq("b/1.txt", "b/2.txt", "b/sub", "b/sub/3.txt")
    // a token from a sibling that sorts before b: all of b follows it
    val fromA = client.listPathsPage("cur", "b", continuation = tokenIn("a"))
    assert(rel("cur", fromA) == wholeB && fromA.continuation.isEmpty)
    // a token from a sibling that sorts after b: all of b precedes it
    assert(client.listPathsPage("cur", "b", continuation = tokenIn("c")) == PathPage(Seq.empty, None))
    // a token naming an ancestor of b/sub: its whole subtree follows it
    val top = client.listPathsPage("cur", recursive = false, maxResults = 2)
    assert(rel("cur", top) == Seq("a", "b"))
    val underB = client.listPathsPage("cur", "b/sub", continuation = top.continuation)
    assert(rel("cur", underB) == Seq("b/sub/3.txt") && underB.continuation.isEmpty)
    val fsRoot = LakeClient.encodeCursor(s"${client.accountRoot.toUri.getPath}/cur")
    assert(rel("cur", client.listPathsPage("cur", "b", continuation = Some(fsRoot))) == wholeB)
    // resuming inside b keeps b's own pre-order
    val firstOfB = client.listPathsPage("cur", "b", maxResults = 3)
    assert(rel("cur", firstOfB) == wholeB.take(3))
    assert(rel("cur", client.listPathsPage("cur", "b", continuation = firstOfB.continuation)) ==
      wholeB.drop(3))
    client.deleteFilesystem("cur")
  }

  test("listPathsPage: a cursor file replaced by a directory is followed by its children") {
    client.createFilesystem("rep")
    Seq("k.txt", "m", "z.txt").foreach(f => client.uploadString("rep", f, "x"))
    val first = client.listPathsPage("rep", maxResults = 2)
    assert(rel("rep", first) == Seq("k.txt", "m"))
    assert(client.deletePath("rep", "m"))
    Seq("m/1.txt", "m/2.txt").foreach(f => client.uploadString("rep", f, "x"))
    val second = client.listPathsPage("rep", continuation = first.continuation)
    assert(rel("rep", second) == Seq("m/1.txt", "m/2.txt", "z.txt") && second.continuation.isEmpty)
    client.deleteFilesystem("rep")
  }

  test("listPathsPage on a file lists the file itself") {
    client.createFilesystem("one")
    client.uploadString("one", "a/f.txt", "abc")
    Seq("b/g.txt", "b/h.txt").foreach(f => client.uploadString("one", f, "x"))
    val page = client.listPathsPage("one", "a/f.txt")
    assert(rel("one", page) == Seq("a/f.txt") && page.continuation.isEmpty)
    assert(!page.entries.head.isDirectory && page.entries.head.length == 3)
    assert(client.listPathsPage("one", "a/f.txt", recursive = false) == page)
    // the file is its own last entry: resuming from it gives nothing
    val own = LakeClient.encodeCursor(page.entries.head.name)
    assert(client.listPathsPage("one", "a/f.txt", continuation = Some(own)) == PathPage(Seq.empty, None))
    // a token naming its directory precedes it, one from a later sibling follows it
    val dirA = LakeClient.encodeCursor(s"${client.accountRoot.toUri.getPath}/one/a")
    assert(client.listPathsPage("one", "a/f.txt", continuation = Some(dirA)) == page)
    val fromB = client.listPathsPage("one", "b", maxResults = 1).continuation
    assert(fromB.nonEmpty)
    assert(client.listPathsPage("one", "a/f.txt", continuation = fromB) == PathPage(Seq.empty, None))
    client.deleteFilesystem("one")
  }

  test("listFilesystems on a missing account root is empty") {
    val missing = LakeClient.local(rootDir.resolve("no-such-account").toString)
    assert(missing.listFilesystems() == Seq.empty)
    assert(missing.listPaths("fs") == Seq.empty)
  }

  /** Counts the listing, status, data and xattr calls a lake call makes. */
  private final class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    private def count[T](name: String)(call: => T): T = { calls(name) += 1; call }
    override def listStatusIterator(f: Path) = count("listStatusIterator")(super.listStatusIterator(f))
    override def listStatus(f: Path) = count("listStatus")(super.listStatus(f))
    override def getFileStatus(f: Path) = count("getFileStatus")(super.getFileStatus(f))
    override def exists(f: Path) = count("exists")(super.exists(f))
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long, progress: Progressable) =
      count("create")(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
    override def delete(f: Path, recursive: Boolean) = count("delete")(super.delete(f, recursive))
    override def rename(src: Path, dst: Path) = count("rename")(super.rename(src, dst))
    override def open(f: Path, bufferSize: Int) = count("open")(super.open(f, bufferSize))
    override def getXAttr(path: Path, name: String) = count("getXAttr")(super.getXAttr(path, name))
    override def setXAttr(path: Path, name: String, value: Array[Byte]): Unit =
      count("setXAttr")(super.setXAttr(path, name, value))
    override def setXAttr(path: Path, name: String, value: Array[Byte],
                          flag: java.util.EnumSet[XAttrSetFlag]): Unit =
      count("setXAttr")(super.setXAttr(path, name, value, flag))
  }

  test("each property, status, rename, delete, create and upload call is one or two filesystem calls") {
    client.createFilesystem("fence")
    client.uploadString("fence", "f.txt", "x")
    client.setPathProperties("fence", "f.txt", Map("k" -> "v"))
    val counting = new CountingFs(client.fs)
    val counted = new LakeClient(counting, client.accountRoot)
    def calls(body: => Any): Map[String, Int] = {
      counting.calls.clear()
      body
      counting.calls.toMap
    }
    assert(calls(counted.getPathProperties("fence", "f.txt")) == Map("getXAttr" -> 1))
    assert(calls(counted.getFilesystemProperties("fence")) == Map("getXAttr" -> 1))
    assert(calls(counted.setPathProperties("fence", "f.txt", Map("k" -> "w"))) == Map("setXAttr" -> 1))
    assert(calls(counted.pathStatus("fence", "f.txt")) == Map("getFileStatus" -> 1, "getXAttr" -> 1))
    assert(calls(assert(counted.renamePath("fence", "f.txt", "g.txt"))) == Map("rename" -> 1))
    assert(client.getPathProperties("fence", "g.txt") == Map("k" -> "w"))
    assert(calls(assert(counted.deletePath("fence", "g.txt"))) == Map("delete" -> 1))
    assert(calls(counted.createPath("fence", "h.txt")) == Map("create" -> 1))
    assert(calls(counted.uploadString("fence", "h.txt", "y")) == Map("create" -> 1))
    client.deleteFilesystem("fence")
  }

  test("setFilesystemProperties on a missing filesystem errors and writes nothing") {
    def accountRoot = rootDir.toFile.list().toSet
    val before = accountRoot
    intercept[IllegalArgumentException] { client.setFilesystemProperties("ghost", Map("k" -> "v")) }
    assert(accountRoot == before)
    assert(client.getFilesystemProperties("ghost") == Map.empty)
    assert(client.getPathProperties("ghost", "f.txt") == Map.empty)
    assert(client.pathStatus("ghost", "f.txt").isEmpty)
  }

  test("listPathsPage makes one listing call per directory it walks and no status call") {
    client.createFilesystem("calls")
    val flat = Files.createDirectories(rootDir.resolve("calls/flat"))
    (0 until 5010).foreach(i => Files.createFile(flat.resolve(f"f$i%05d")))
    val counting = new CountingFs(client.fs)
    val counted = new LakeClient(counting, client.accountRoot)
    val first = counted.listPathsPage("calls", "flat")
    assert(first.entries.size == 5000 && first.continuation.nonEmpty)
    counting.calls.clear()
    val second = counted.listPathsPage("calls", "flat", continuation = first.continuation)
    assert(rel("calls", second) == (5000 until 5010).map(i => f"flat/f$i%05d"))
    assert(second.continuation.isEmpty)
    assert(counting.calls == Map("listStatusIterator" -> 1))

    Seq("tree/d0/f", "tree/d1/e/f", "tree/d2/f").foreach(f => client.uploadString("calls", f, "x"))
    counting.calls.clear()
    val whole = counted.listPathsPage("calls", "tree")
    assert(rel("calls", whole) ==
      Seq("tree/d0", "tree/d0/f", "tree/d1", "tree/d1/e", "tree/d1/e/f", "tree/d2", "tree/d2/f"))
    assert(counting.calls == Map("listStatusIterator" -> 5)) // tree, d0, d1, d1/e, d2
    counting.calls.clear()
    val p1 = counted.listPathsPage("calls", "tree", maxResults = 3)
    assert(rel("calls", p1) == Seq("tree/d0", "tree/d0/f", "tree/d1"))
    assert(counting.calls == Map("listStatusIterator" -> 3)) // tree, d0, d1
    counting.calls.clear()
    val p2 = counted.listPathsPage("calls", "tree", maxResults = 3, continuation = p1.continuation)
    assert(rel("calls", p2) == Seq("tree/d1/e", "tree/d1/e/f", "tree/d2"))
    assert(counting.calls == Map("listStatusIterator" -> 4)) // tree, d1, d1/e, d2
    client.deleteFilesystem("calls")
  }
}
