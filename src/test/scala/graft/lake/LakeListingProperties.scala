package graft.lake

import org.scalacheck.{Gen, Prop, Properties}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Paged-listing semantics UNDER MUTATION (the reference behavior a real
  * lake walker needs: the tree changes while you page — client.py's
  * `x-ms-continuation` walk with 404→empty mid-traversal,
  * client.py:523-524). The static-tree paging contract lives in
  * LakeClientSpec; these properties interleave random creates/deletes
  * BETWEEN pages and pin the documented guarantee:
  *
  *   every path that exists for the WHOLE walk is listed exactly once,
  *   and no path is ever listed twice — regardless of page size, of
  *   which files vanish mid-walk (including the continuation target
  *   itself), and of what appears behind or ahead of the cursor.
  *
  * Paths created or deleted MID-walk may or may not appear (they raced
  * the cursor — the same answer ADLS gives); the properties assert only
  * the no-duplicate half for them. */
object LakeListingProperties extends Properties("LakeListing") {

  private val Fs = "t"

  private def withTempLake[A](body: LakeClient => A): A = {
    val root = java.nio.file.Files.createTempDirectory("lakelist")
    try {
      val client = LakeClient.local(root.toString)
      client.createFilesystem(Fs)
      body(client)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  // files "d?/d?/f<i>?" — leaf names (f*) never collide with dir names
  // (d*), so a generated set can always be materialized. Names carry
  // characters a URI quotes (' ', '%', '#'), '%' sequences that would
  // decode to other characters if left unquoted, characters a URI keeps
  // ('+', '=') and non-ASCII ones. Never ':', which the client rejects.
  private val treeGen: Gen[List[String]] =
    Gen.choose(1, 8).flatMap { n =>
      Gen.sequence[List[String], String]((0 until n).map { i =>
        for {
          depth <- Gen.choose(0, 2)
          dirs <- Gen.listOfN(depth, Gen.oneOf("d0", "d 1", "d%2", "d#3", "d+é"))
          tail <- Gen.oneOf("", " x", "%", "%41", "#", "+", "=a", "é", "日本", "a b#c%2F")
        } yield (dirs :+ s"f$i$tail").mkString("/")
      })
    }

  // The JVM names files through its file-name encoding: under an ASCII
  // locale a non-ASCII name cannot reach the disk, and the local lake
  // refuses it rather than write it under another name.
  private val fileNames =
    java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
  private def writable(p: String): Boolean = fileNames.newEncoder().canEncode(p)

  /** Every path under the filesystem as java.nio reads the disk, sidecars
    * excluded, relative to the filesystem root. */
  private def onDisk(client: LakeClient): Set[String] = {
    val root = java.nio.file.Paths.get(client.accountRoot.toUri.getPath, Fs)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString)
      .filterNot(_.endsWith(LakeClient.PropsSuffix)).toSet
    finally walk.close()
  }

  // Left(newPath) = create a fresh file (disjoint zz/ namespace);
  // Right(i) = delete the i-th (mod size) initial file
  private val opsGen: Gen[List[Either[String, Int]]] =
    Gen.choose(0, 6).flatMap { n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.choose(0, 9).map(i => Left(s"zz/new$i"): Either[String, Int]),
        Gen.choose(0, 99).map(i => Right(i): Either[String, Int])))
    }

  property("every path surviving the whole walk is listed exactly once") =
    // NoShrink: ScalaCheck's List[String] shrinker degenerates paths to
    // "//" — outside the generator's domain (leaf/dir name discipline)
    Prop.forAllNoShrink(treeGen, opsGen, Gen.choose(1, 4)) { (generated, ops, pageSize) =>
      withTempLake { client =>
        val (files, unwritable) = generated.partition(writable)
        val notRefused = unwritable.filterNot(p =>
          Try(client.uploadString(Fs, p, "x")).failed.toOption
            .exists(_.isInstanceOf[IllegalArgumentException]))
        files.foreach(p => client.uploadString(Fs, p, "x"))
        val initial = client
          .listPaths(Fs, "", recursive = true, maxResults = Int.MaxValue)
          .map(_.name)
        // listed names decode to the names on disk, which are the
        // generated files and their directories
        val fsPrefix = client.accountRoot.toUri.getPath + s"/$Fs/"
        val expected = files.flatMap { f =>
          val parts = f.split('/')
          (1 to parts.length).map(parts.take(_).mkString("/"))
        }.toSet
        val listed = initial.map(_.stripPrefix(fsPrefix)).toSet
        val disk = onDisk(client)
        var deleted = Set.empty[String]
        val opIt = ops.iterator
        val seen = ArrayBuffer.empty[String]
        var cont: Option[String] = None
        var pages = 0
        var done = false
        while (!done && pages < 10000) {
          val page = client.listPathsPage(Fs, "", recursive = true,
            maxResults = pageSize, continuation = cont)
          seen ++= page.entries.map(_.name)
          cont = page.continuation
          pages += 1
          if (cont.isEmpty) done = true
          else if (opIt.hasNext) opIt.next() match {
            case Left(newPath) => client.uploadString(Fs, newPath, "y")
            case Right(_) if files.isEmpty =>
            case Right(i) =>
              val f = files(i % files.length)
              if (!deleted(f)) { client.deletePath(Fs, f); deleted += f }
          }
        }
        // deleting FILES never removes their (initial) parent dirs, so
        // the survivor set is exactly: initial entries minus the files
        // deleted mid-walk. Entry names are account-root-absolute
        // (FsEntry.name) while `deleted` holds filesystem-relative
        // paths — match on the "/<rel>" suffix (leaf names are unique
        // by construction, so the suffix is unambiguous).
        val survivors = initial.filterNot(n =>
          deleted.exists(f => n.endsWith("/" + f)))
        val counts = seen.groupBy(identity).view.mapValues(_.length).toMap
        val dup = counts.collect { case (p, c) if c > 1 => s"$p x$c" }
        val missed = survivors.filter(p => counts.getOrElse(p, 0) != 1)
        (Prop(notRefused.isEmpty) :| s"unwritable names not refused: ${notRefused.mkString(", ")}") &&
          (Prop(initial.size == listed.size && listed == expected && disk == expected) :|
            s"listed ${listed.mkString(", ")}; on disk ${disk.mkString(", ")}; " +
              s"expected ${expected.mkString(", ")}") &&
          (Prop(dup.isEmpty) :| s"duplicated entries: ${dup.mkString(", ")}") &&
          (Prop(missed.isEmpty) :|
            s"survivors not listed exactly once: ${missed.mkString(", ")}")
      }
    }

  property("mid-walk deletion of the listed directory 404s to an empty page") =
    Prop.forAll(Gen.choose(2, 6)) { n =>
      withTempLake { client =>
        (0 until n).foreach(i => client.uploadString(Fs, s"d/f$i", "x"))
        val first = client.listPathsPage(Fs, "d", recursive = true, maxResults = 1)
        client.deletePath(Fs, "d", recursive = true)
        val resumed = client.listPathsPage(Fs, "d", recursive = true,
          maxResults = 1, continuation = first.continuation)
        // the reference maps a vanished directory to {"paths": []}, not
        // an error (client.py:523-524) — resuming into it must too
        Prop(first.entries.nonEmpty && first.continuation.nonEmpty &&
          resumed.entries.isEmpty && resumed.continuation.isEmpty)
      }
    }
}
