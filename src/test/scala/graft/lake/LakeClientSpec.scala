package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

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
    // previously this wrote a FILE-style sidecar for the future
    // directory that the directory's reads never consult — silently
    // lost properties plus a hidden orphan
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
    // a ',' or '=' in a KEY would poison the sidecar for every later
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
    // the sidecar lives INSIDE the dir but is hidden from listings — a
    // visibly-empty directory must still delete with recursive=false
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
    // directory properties (sidecar inside) also move with the dir
    client.createPath("pr", "d1", directory = true)
    client.setPathProperties("pr", "d1", Map("dk" -> "dv"))
    assert(client.renamePath("pr", "d1", "d2"))
    assert(client.getPathProperties("pr", "d2") == Map("dk" -> "dv"))
    // rename INTO an existing directory: POSIX semantics land the file at
    // dst/<name> — the sidecar must follow the actual landing spot
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
    // leave an orphaned sidecar where the rename will land (the state a
    // rename-overwrite of a propertied file produces)
    client.uploadString("ro", "b.txt", "old")
    client.setPathProperties("ro", "b.txt", Map("stale" -> "yes"))
    client.fs.delete(client.accountRoot.suffix("/ro/b.txt"), false) // bytes only
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
}
