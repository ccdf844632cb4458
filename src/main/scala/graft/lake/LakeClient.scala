package graft.lake

import java.io.{FileNotFoundException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Capability-parity facade over the reference's ADLS Gen2 REST client
  * (`/root/reference/azure/datalake/gen2/client.py`), re-expressed on the
  * Hadoop `FileSystem` API: `abfss://` in production (the ABFS driver owns
  * signing, retry, chunked upload and paging — reference client.py:44-178),
  * any Hadoop URI (`file://` in tests) otherwise.
  *
  * Operation mapping (SURVEY.md §2.1; reference lines cited per method):
  * filesystems are directories under an account root; paths are files or
  * directories; properties are a sidecar JSON map (portable where xattrs
  * are not); leases are advisory no-ops delegated to the ABFS driver +
  * output-commit protocol (SURVEY.md §7.4).
  *
  * Deliberate fixes vs the reference, preserved quirks documented inline:
  *  - `get_properties_filesystem` returned `response.json()` of a body-less
  *    HEAD (client.py:304, always wrong) — here properties round-trip.
  *  - `upload_data_to_path` flushed at position 0 (client.py:582,
  *    committing zero bytes) — here `OutputStream.close()` commits all.
  *  - leading-`/` tolerance on every path argument (client.py:221-222 et
  *    al.) is preserved.
  *  - `list_path` 404 → empty result, not error (client.py:523-524) —
  *    preserved.
  */
final class LakeClient(val fs: FileSystem, val accountRoot: Path) {
  import LakeClient._

  /** Reference upload chunk size, client.py:33. */
  val ChunkSize: Int = 1024000

  // -- path helpers -------------------------------------------------------

  /** Leading-`/` tolerance: client.py:221-222,244-245,... — plus the
    * traversal sanitation a filesystem FACADE needs that the REST
    * reference got for free: the reference sent names/paths as literal
    * URL segments (".." could never leave the account), but Hadoop's
    * Path resolution treats an absolute child as a NEW root and
    * normalizes dot segments, so "//etc/x" resolved to /etc/x and
    * deletePath("fs", "../sib", recursive) destroyed a SIBLING
    * filesystem. Reject both shapes loudly; single-leading-slash
    * tolerance is preserved. */
  private def norm(p: String): String = {
    val n = p.stripPrefix("/")
    require(!n.startsWith("/"),
      s"lake path '$p' is absolute after the tolerated leading slash — " +
        "it would escape the account root")
    require(n.split('/').forall(seg => seg != ".." && seg != "."),
      s"lake path '$p' contains dot segments — it would traverse outside " +
        "its filesystem")
    // third escape shape (r16 self-review): a ':' before the first '/'
    // parses as a URI SCHEME, and Path(parent, "file:/etc/x") resolves
    // to the scheme-qualified child verbatim — outside the account root
    require(!n.takeWhile(_ != '/').contains(':'),
      s"lake path '$p' starts with a scheme-like segment — it would " +
        "resolve as an absolute URI outside the account root")
    n
  }
  private def fsRoot(filesystem: String): Path = {
    val n = norm(filesystem)
    require(n.nonEmpty,
      "filesystem name must be non-empty (an empty name would address the " +
        "whole account root — deleteFilesystem(\"\") would destroy it)")
    new Path(accountRoot, n)
  }
  private[graft] def resolve(filesystem: String, path: String): Path =
    if (norm(path).isEmpty) fsRoot(filesystem)
    else new Path(fsRoot(filesystem), norm(path))

  // -- filesystem (container) lifecycle: reference #1-#5 ------------------

  /** create_filesystem — client.py:213-235. */
  def createFilesystem(filesystem: String, properties: Map[String, String] = Map.empty): Unit = {
    fs.mkdirs(fsRoot(filesystem))
    if (properties.nonEmpty) setFilesystemProperties(filesystem, properties)
  }

  /** delete_filesystem — client.py:237-260 (DELETE is recursive). */
  def deleteFilesystem(filesystem: String): Boolean =
    fs.delete(fsRoot(filesystem), true)

  /** list_filesystem — client.py:262-290; `prefix`/`maxResults` params. */
  def listFilesystems(prefix: Option[String] = None,
                      maxResults: Option[Int] = None): Seq[FsEntry] = {
    val all =
      if (!fs.exists(accountRoot)) Seq.empty
      else fs.listStatus(accountRoot).toSeq
        .filter(_.isDirectory)
        .map(FsEntry.of)
        .filter(e => prefix.forall(e.name.split('/').last.startsWith))
        .sortBy(_.name)
    maxResults.fold(all)(all.take)
  }

  /** get_properties_filesystem — client.py:292-306. The reference parses a
    * body-less HEAD as JSON (always raises); here properties round-trip
    * from the sidecar. */
  def getFilesystemProperties(filesystem: String): Map[String, String] =
    readProps(propsPath(fsRoot(filesystem)))

  /** set_properties_filesystem — client.py:308-325 (x-ms-properties). */
  def setFilesystemProperties(filesystem: String, properties: Map[String, String]): Unit =
    writeProps(propsPath(fsRoot(filesystem)), properties)

  // -- path lifecycle: reference #6-#11 -----------------------------------

  /** create_path — client.py:329-356; resource=file|directory. */
  def createPath(filesystem: String, path: String, directory: Boolean = false): Unit = {
    val p = resolve(filesystem, path)
    if (directory) fs.mkdirs(p)
    else {
      // overwrite semantics: a re-created file must NOT inherit the
      // replaced file's properties (deletePath/renamePath keep the same
      // invariant; ADLS PUT ?resource=file resets properties)
      fs.delete(fileSidecar(p), false)
      fs.create(p, true).close() // zero-byte stage, like PUT ?resource=file
    }
  }

  /** rename_file — client.py:358-395. The reference needs a content-length
    * lookup first (client.py:377-384); `FileSystem.rename` is atomic on
    * HNS-enabled ADLS and needs none. Missing source → false (the
    * reference raises "File not found"). */
  def renamePath(filesystem: String, source: String, dest: String): Boolean = {
    val src = resolve(filesystem, source)
    // missing source -> false, mirroring the reference's explicit
    // pre-check (client.py:377-384); some FileSystem impls throw instead
    val isDir = statusOf(src) match {
      case Some(st) => st.isDirectory
      case None => return false
    }
    val dst = resolve(filesystem, dest)
    // POSIX/HDFS rename semantics: renaming INTO an existing directory
    // lands the source at dst/<srcName> — the sidecar must follow the
    // file's ACTUAL landing spot, not the raw dest argument
    val landed =
      if (statusOf(dst).exists(_.isDirectory)) new Path(dst, src.getName)
      else dst
    val ok = fs.rename(src, dst)
    // Properties travel with the path, as in ADLS. A directory's sidecar
    // lives inside it and moves with the rename; a file's sits beside it
    // and must be moved explicitly.
    if (ok && !isDir) {
      // an overwritten target's properties die with it — clear the landing
      // spot's sidecar even when the SOURCE has none (else the renamed
      // file inherits the replaced file's properties)
      val dstSidecar = fileSidecar(landed)
      fs.delete(dstSidecar, false)
      val srcSidecar = fileSidecar(src)
      if (fs.exists(srcSidecar)) fs.rename(srcSidecar, dstSidecar)
    }
    ok
  }

  /** delete_path — client.py:397-422; recursive flag. Properties die with
    * the path (ADLS semantics): the file's property sidecar is removed so
    * a re-created path does not inherit stale properties. A directory's
    * sidecar lives inside it and is removed by the recursive delete. */
  def deletePath(filesystem: String, path: String, recursive: Boolean = false): Boolean = {
    val p = resolve(filesystem, path)
    val isDir = statusOf(p).exists(_.isDirectory)
    val ok =
      if (isDir && !recursive) {
        // a directory's props sidecar lives INSIDE it and is hidden from
        // listings — a directory that LISTS as empty must still delete
        // non-recursively. Attempt the delete FIRST and drop the sidecar
        // only on the not-empty failure path (and only when it is the
        // sole child): deleting it up front would destroy the
        // directory's properties even when the delete then fails (e.g. a
        // child created between the listing and the delete).
        try fs.delete(p, false)
        catch {
          case e: java.io.IOException =>
            val kids = fs.listStatus(p)
            if (kids.length == 1 && kids(0).getPath.getName == PropsFileName) {
              fs.delete(kids(0).getPath, false)
              fs.delete(p, false)
            } else throw e // genuinely non-empty: props survive with the dir
        }
      } else fs.delete(p, recursive)
    if (ok && !isDir) fs.delete(fileSidecar(p), false)
    ok
  }

  /** get_properties_path action=getStatus — client.py:424-447. */
  def pathStatus(filesystem: String, path: String): Option[PathInfo] = {
    val p = resolve(filesystem, path)
    statusOf(p).map(st => PathInfo.of(st, readProps(propsPath(p, st.isDirectory))))
  }

  /** get_properties_path action=getAccessControl — client.py:429-438.
    * On filesystems without ACL support, degrades to the permission bits
    * (the `upn` flag is ABFS-side; irrelevant off Azure). */
  def aclStatus(filesystem: String, path: String): Map[String, String] = {
    val p = resolve(filesystem, path)
    try {
      val acl = fs.getAclStatus(p)
      Map("owner" -> acl.getOwner, "group" -> acl.getGroup,
        "permissions" -> fs.getFileStatus(p).getPermission.toString,
        "entries" -> acl.getEntries.toString)
    } catch {
      case _: UnsupportedOperationException =>
        val st = fs.getFileStatus(p)
        Map("owner" -> st.getOwner, "group" -> st.getGroup,
          "permissions" -> st.getPermission.toString)
    }
  }

  /** lease_path — client.py:449-479. Advisory no-op: Spark's exactly-once
    * writes come from the output-commit protocol + atomic rename, and the
    * ABFS driver manages server leases internally (SURVEY.md §7.4). The
    * action vocabulary (client.py:30) is validated for parity, but NO
    * lease state is tracked: every call returns the caller's id or a
    * fresh UUID — `renew`/`release` of a lease that was never acquired
    * succeed, and nothing is ever fenced. Callers needing real mutual
    * exclusion must fence externally (the compaction-maintenance
    * contract). */
  def leasePath(filesystem: String, path: String, action: String,
                leaseId: Option[String] = None): String = {
    val actions = Set("acquire", "break", "change", "renew", "release")
    require(actions.contains(action), s"lease action must be one of $actions")
    leaseId.getOrElse(java.util.UUID.randomUUID().toString)
  }

  /** list_path — client.py:481-526: recursive flag, maxResults paging,
    * 404 → empty (client.py:523-524). First page only; a truncated
    * listing is resumable via [[listPathsPage]]'s continuation token (the
    * reference pages with `x-ms-continuation`, client.py:493-498,518-521). */
  def listPaths(filesystem: String, directory: String = "",
                recursive: Boolean = true,
                maxResults: Int = 5000): Seq[FsEntry] =
    listPathsPage(filesystem, directory, recursive, maxResults).entries

  /** Paged listing with an opaque continuation token — the reference's
    * `x-ms-continuation` semantics (client.py:493-498,518-521): a page of
    * at most `maxResults` entries plus a token that resumes EXACTLY after
    * the last returned path, so a >maxResults directory never silently
    * loses its tail.
    *
    * Traversal is deterministic pre-order DFS with name-sorted children
    * (the DFS API's lexical listing order), which makes the token just
    * "the last path served": resumption walks the same order, PRUNING any
    * subtree that lies wholly at-or-before the token — no rescan of
    * already-served branches beyond the token's ancestor chain. Driver
    * memory stays one page regardless of directory size. */
  def listPathsPage(filesystem: String, directory: String = "",
                    recursive: Boolean = true,
                    maxResults: Int = 5000,
                    continuation: Option[String] = None): PathPage = {
    require(maxResults > 0, "maxResults must be positive")
    val dir = resolve(filesystem, directory)
    if (!fs.exists(dir)) return PathPage(Seq.empty, None) // 404 -> {"paths": []}
    val cursor: Option[Seq[String]] = continuation.map(decodeCursor)
    val out = ArrayBuffer.empty[FsEntry]
    // collect one extra entry to learn whether a further page exists
    // (Long: maxResults may be Int.MaxValue)
    val want = maxResults.toLong + 1
    def comps(st: FileStatus): Seq[String] =
      st.getPath.toUri.getPath.split('/').toSeq.filter(_.nonEmpty)
    // walk children of d in name order; returns false when the page (+1
    // lookahead) is full and traversal should stop
    def walk(d: Path): Boolean = {
      // Bounded child selection, NOT a full-directory materialize+sort:
      // stream the RemoteIterator (ABFS pages server-side) keeping only
      // the `needed` name-smallest EMITTABLE children — each contributes
      // >= 1 entry, so larger-named siblings cannot reach this page —
      // plus the at-most-one descend-only child that is an ancestor of
      // the cursor. Driver memory per directory level is O(page) even
      // for a million-object flat directory (the case paging exists for).
      val needed = math.min(want - out.size, Int.MaxValue.toLong).toInt
      val byName = Ordering.by((st: FileStatus) => st.getPath.getName)
      val smallest = // max-heap: dequeue evicts the largest kept name
        scala.collection.mutable.PriorityQueue.empty[FileStatus](byName)
      var ancestorChild: Option[FileStatus] = None
      val it = fs.listStatusIterator(d)
      while (it.hasNext) {
        val st = it.next()
        if (visible(st)) {
          val c = comps(st)
          if (cursor.forall(preOrderAfter(c, _))) {
            smallest += st
            if (smallest.size > needed) { smallest.dequeue(); () }
          } else if (st.isDirectory && cursor.exists(isPrefixOf(c, _))) {
            ancestorChild = Some(st) // unique: the cursor's prefix chain
          }
        }
      }
      val children = (smallest.toSeq ++ ancestorChild).sortBy(_.getPath.getName)
      children.forall { st =>
        val c = comps(st)
        val emit = cursor.forall(preOrderAfter(c, _))
        if (emit) out += FsEntry.of(st)
        if (out.size >= want) false
        else if (recursive && st.isDirectory &&
          (emit || cursor.exists(isPrefixOf(c, _)))) walk(st.getPath)
        else true
      }
    }
    walk(dir)
    val page = out.take(maxResults).toSeq
    val next =
      if (out.size > maxResults) Some(encodeCursor(page.last.name)) else None
    PathPage(page, next)
  }

  private def visible(st: FileStatus): Boolean =
    !st.getPath.getName.endsWith(PropsSuffix) // hide property sidecars

  // -- data plane: reference #12-#16 --------------------------------------

  /** read_path — client.py:528-546 (`Range: bytes=0-`). Whole object. */
  def readBytes(filesystem: String, path: String): Array[Byte] =
    readAll(resolve(filesystem, path))

  /** Ranged read — the `Range: bytes=o-` form Parquet column-chunk reads
    * use (SURVEY.md §3.3): seek + bounded read via FSDataInputStream. */
  def readRange(filesystem: String, path: String, offset: Long, length: Int): Array[Byte] = {
    require(offset >= 0, s"readRange: offset ($offset) must be >= 0")
    require(length >= 0, s"readRange: length ($length) must be >= 0")
    val in = fs.open(resolve(filesystem, path))
    try {
      val buf = new Array[Byte](length)
      in.seek(offset)
      var read = 0
      var n = 0
      while (read < length && n >= 0) {
        n = in.read(buf, read, length - read)
        if (n > 0) read += n
      }
      if (read == length) buf else buf.take(read)
    } finally in.close()
  }

  /** Streaming read for callers that want to stream (the reference returns
    * the raw Response for the caller to iterate — client.py:544). */
  def openRead(filesystem: String, path: String): InputStream =
    fs.open(resolve(filesystem, path))

  /** upload_file_to_path — client.py:548-562: create, chunked append loop,
    * flush-on-close. The OutputStream buffers ChunkSize slices; ABFS
    * stages appends and commits on close — same two-phase protocol,
    * parallel across Spark tasks instead of the reference's single
    * sequential loop. */
  def upload(filesystem: String, path: String, in: InputStream,
             chunkSize: Int = ChunkSize): Long = {
    // a zero-length buffer makes InputStream.read return 0 (not -1)
    // forever — copyStream would hang, not error
    require(chunkSize > 0, s"upload: chunkSize ($chunkSize) must be > 0")
    val p = resolve(filesystem, path)
    fs.delete(fileSidecar(p), false) // overwrite resets properties (see createPath)
    val out = fs.create(p, true)
    try copyStream(in, out, chunkSize)
    finally out.close()
  }

  /** upload_filepath_to_path — client.py:564-570. */
  def uploadFile(filesystem: String, path: String, localFile: java.io.File): Long = {
    val in = new java.io.FileInputStream(localFile)
    try upload(filesystem, path, in)
    finally in.close()
  }

  /** upload_data_to_path — client.py:572-582. The reference flushes at
    * position 0 committing zero bytes (the bug); close() here commits
    * exactly `data.length`. */
  def uploadBytes(filesystem: String, path: String, data: Array[Byte]): Long =
    upload(filesystem, path, new java.io.ByteArrayInputStream(data))

  def uploadString(filesystem: String, path: String, text: String): Long =
    uploadBytes(filesystem, path, text.getBytes(StandardCharsets.UTF_8))

  /** update_path action=append — client.py:584-627. Appends to an existing
    * file (requires an append-capable FileSystem; ABFS and local both are). */
  def appendBytes(filesystem: String, path: String, data: Array[Byte]): Unit = {
    val out = fs.append(resolve(filesystem, path))
    try out.write(data)
    finally out.close()
  }

  /** update_path action=setProperties — client.py:587,602. Requires the
    * path to exist (the reference PATCH 404s on a missing path):
    * without the check, properties set on a not-yet-created DIRECTORY
    * landed in a file-style sidecar the directory's later reads never
    * consult — silently lost, with the orphan sidecar left behind. */
  def setPathProperties(filesystem: String, path: String,
                        properties: Map[String, String]): Unit = {
    val p = resolve(filesystem, path)
    val st = statusOf(p)
    require(st.nonEmpty, s"setPathProperties: no such path: $path")
    writeProps(propsPath(p, st.get.isDirectory), properties)
  }

  /** update_path action=setAccessControl — client.py:587-588 with the
    * x-ms-acl / x-ms-permissions / x-ms-owner / x-ms-group attrs of the
    * PATCH (client.py:617-619): set POSIX ACLs and/or permission bits on
    * a path — the write side of [[aclStatus]]. On filesystems without
    * ACL support the ACL spec degrades to its base user::/group::/other::
    * permission bits, the same graceful off-Azure degrade as
    * [[aclStatus]]'s read side. `permission` accepts octal ("750",
    * "0750") or 9-char symbolic ("rwxr-x---"). Returns the resulting
    * [[aclStatus]] (the reference returns the PATCH response headers). */
  def setAccessControl(filesystem: String, path: String,
                       acl: Option[String] = None,
                       permission: Option[String] = None,
                       owner: Option[String] = None,
                       group: Option[String] = None): Map[String, String] = {
    import org.apache.hadoop.fs.permission.{AclEntry, AclEntryScope, AclEntryType, FsAction, FsPermission}
    // REST contract (client.py:617-619 headers): x-ms-acl and
    // x-ms-permissions are mutually exclusive on Azure, and a PATCH with
    // neither acl, permission, owner nor group is an error — mirror both
    // instead of silently no-op'ing / letting the ACL override the bits
    require(acl.isEmpty || permission.isEmpty,
      "setAccessControl: acl and permission are mutually exclusive " +
        "(ADLS rejects x-ms-acl combined with x-ms-permissions)")
    require(acl.isDefined || permission.isDefined || owner.isDefined || group.isDefined,
      "setAccessControl: at least one of acl/permission/owner/group is required")
    val p = resolve(filesystem, path)
    require(fs.exists(p), s"setAccessControl: no such path: $path")
    permission.foreach { s =>
      val perm =
        if (s.forall(_.isDigit)) new FsPermission(Integer.parseInt(s, 8).toShort)
        else FsPermission.valueOf("-" + s) // valueOf expects the ls -l form
      fs.setPermission(p, perm)
    }
    acl.foreach { spec =>
      val entries = AclEntry.parseAclSpec(spec, true)
      try fs.setAcl(p, entries)
      catch {
        case _: UnsupportedOperationException =>
          // no ACL support (e.g. local fs): apply the spec's base access
          // entries as permission bits; named/default entries need a real
          // ACL store and are dropped here
          import scala.jdk.CollectionConverters._
          val base = entries.asScala.filter(e =>
            e.getScope == AclEntryScope.ACCESS && e.getName == null)
          def action(t: AclEntryType, current: FsAction): FsAction =
            base.find(_.getType == t).map(_.getPermission).getOrElse(current)
          val cur = fs.getFileStatus(p).getPermission
          fs.setPermission(p, new FsPermission(
            action(AclEntryType.USER, cur.getUserAction),
            action(AclEntryType.GROUP, cur.getGroupAction),
            action(AclEntryType.OTHER, cur.getOtherAction)))
      }
    }
    if (owner.isDefined || group.isDefined)
      fs.setOwner(p, owner.orNull, group.orNull)
    aclStatus(filesystem, path)
  }

  def getPathProperties(filesystem: String, path: String): Map[String, String] =
    readProps(propsPath(resolve(filesystem, path)))

  // -- DataFrame surface (BASELINE.json `spark_approach`) -----------------

  /** Listing-as-DataFrame: the catalog view of a lake directory.
    *
    * Distributed: the driver lists only the FIRST level; each
    * subdirectory's subtree is walked by an executor task against its own
    * `FileSystem` handle (Hadoop conf ships as a plain map). A
    * million-file lake never materializes on the driver — the round-2
    * implementation pulled the entire listing into a driver Seq. Skew
    * note: one task per top-level subtree mirrors Spark's own
    * InMemoryFileIndex parallel listing; a single flat directory is
    * bounded by the DFS API's sequential pager either way. */
  def listPathsDF(spark: SparkSession, filesystem: String, directory: String = "",
                  recursive: Boolean = true): DataFrame = {
    val dir = resolve(filesystem, directory)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], ListingSchema)
    if (!fs.exists(dir)) return empty
    val top = fs.listStatus(dir).filter(visible).sortBy(_.getPath.getName)
    val topRows = top.map(FsEntry.of).map(e =>
      Row(e.name, e.isDirectory, e.length, e.modificationTime)).toSeq
    val topDf = spark.createDataFrame(
      spark.sparkContext.parallelize(topRows, math.max(1, math.min(topRows.size, 4))),
      ListingSchema)
    val subDirs = top.filter(_.isDirectory).map(_.getPath.toString).toSeq
    if (!recursive || subDirs.isEmpty) topDf
    else {
      val confEntries: Map[String, String] = {
        val it = fs.getConf.iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
        b.result()
      }
      // broadcast once per job: the conf (1000+ entries incl. credentials)
      // must not re-serialize into every task closure
      val confBc = spark.sparkContext.broadcast(confEntries)
      val slices = math.min(subDirs.size, spark.sparkContext.defaultParallelism)
      val subtreeRows = spark.sparkContext
        .parallelize(subDirs, math.max(1, slices))
        .flatMap(d => walkSubtree(d, confBc.value))
        .map { case (p, isDir, len, mtime) => Row(p, isDir, len, mtime) }
      topDf.union(spark.createDataFrame(subtreeRows, ListingSchema))
    }
  }

  /** DataFrame read/write against lake paths — the production data plane.
    * Parquet writes go through the commit protocol (task-temp + rename =
    * reference #7) and run one stream per task in parallel. */
  def readParquet(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.parquet(resolve(filesystem, path).toString)
  def writeParquet(df: DataFrame, filesystem: String, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(resolve(filesystem, path).toString)
  }
  /** Append to an existing parquet table (mode=append — new files only,
    * existing data untouched; new partition directories are created as
    * needed). The incremental-landing primitive behind
    * [[graft.operators.AnnIndex.appendIvfPq]] and any drip-fed fact
    * table; pair with [[compactPartitionedParquet]] as small files
    * accumulate. */
  def appendParquet(df: DataFrame, filesystem: String, path: String,
                    partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(resolve(filesystem, path).toString)
  }
  /** Clustered write: range-repartition on `clusterBy` and sort within
    * partitions before writing, so each output file owns a narrow
    * `clusterBy` range and its parquet row-group min/max statistics
    * become selective — range/point predicates then SKIP whole
    * row-groups at scan time instead of decoding them. This is the
    * data-layout lever for 100 TB fact tables (the linear cousin of
    * Z-ordering; for one-column predicates it is optimal): partition
    * directories prune coarse dimensions, clustering prunes within
    * them. With no `partitionBy`, `files` IS the output file count
    * (range partitioner = one file per range); with `partitionBy`, the
    * partition columns LEAD the range key so each task holds a
    * contiguous run of partition values and the writer emits at most
    * `files + nPartitionValues − 1` files (each task straddles at most
    * one partition boundary) — NOT the `files × nPartitionValues`
    * blow-up a naive cluster-key-only range would produce. LakeIoSpec
    * proves the skip layout: disjoint per-file cluster ranges + the
    * predicate pushed to the scan. */
  def writeParquetClustered(df: DataFrame, filesystem: String, path: String,
                            clusterBy: Seq[String], files: Int = 8,
                            partitionBy: Seq[String] = Nil): Unit = {
    require(clusterBy.nonEmpty, "writeParquetClustered: clusterBy must be non-empty")
    val cols = (partitionBy ++ clusterBy).map(df.col)
    val clustered = df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
    val w = clustered.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(resolve(filesystem, path).toString)
  }

  /** Small-file compaction: rewrite a parquet table into
    * ceil(totalBytes / targetFileBytes) files, then swap it into place
    * with the lake's own primitives (the reference's #7/#8 composed).
    * The operational fix for the small-files problem every incremental
    * 100 TB lake accumulates: listings, task scheduling, and parquet
    * footer reads all scale with file COUNT, so a million drip-fed
    * 100 KB files cost more to plan than to scan. Returns the new file
    * count. Path properties (the sidecar) survive the rewrite.
    *
    * Crash contract: the compacted copy is fully written to
    * `<path>-__compacting__` BEFORE the original is touched; the swap
    * is rename-original-aside → rename-copy-in → delete-aside, each
    * step checked. A crash before the swap leaves the table untouched
    * (rerun cleans the temp); a crash mid-swap leaves the full data in
    * `<path>-__old__` and/or `<path>-__compacting__` — never deleted
    * until the new copy is serving the path. NOT concurrency-safe
    * against a simultaneous writer — fence it like any maintenance job
    * (the Hive/Iceberg-compaction contract without a lock service). */
  def compactParquet(spark: SparkSession, filesystem: String, path: String,
                     targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "compactParquet: targetFileBytes must be > 0")
    // normalize: a trailing slash would make the temp names CHILDREN of
    // the table dir (delete-original would then destroy the new copy)
    val norm = path.replaceAll("/+$", "")
    require(norm.nonEmpty, "compactParquet: cannot compact the filesystem root")
    val dir = resolve(filesystem, norm)
    val entries = fs.listStatus(dir)
    // a partitioned table is nested key=value directories — rewriting it
    // flat would silently DESTROY the partition layout; compact each
    // partition directory (a plain parquet dir) individually instead
    require(!entries.exists(_.isDirectory),
      s"compactParquet: $norm contains subdirectories (partitioned table?) — " +
        "use compactPartitionedParquet, which compacts each partition in place")
    val totalBytes = entries.filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = s"$norm-__compacting__"
    val old = s"$norm-__old__"
    require(pathStatus(filesystem, tmp).isEmpty && pathStatus(filesystem, old).isEmpty,
      s"compactParquet: leftover $tmp / $old from an interrupted run — " +
        "recover or remove them first")
    val props = pathStatus(filesystem, norm).map(_.properties).getOrElse(Map.empty)
    // repartition (round-robin) spreads rows evenly across the target
    // file count; the copy completes before the original is touched
    spark.read.parquet(dir.toString).repartition(nFiles)
      .write.mode("overwrite").parquet(resolve(filesystem, tmp).toString)
    def step(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"compactParquet: $what failed; table data is intact under " +
          s"$norm-__old__/$tmp — recover manually")
    step(renamePath(filesystem, norm, old), s"rename $norm aside")
    step(renamePath(filesystem, tmp, norm), s"rename compacted copy into $norm")
    if (props.nonEmpty) setPathProperties(filesystem, norm, props)
    step(deletePath(filesystem, old, recursive = true), s"delete $old")
    nFiles
  }

  /** Compact a PARTITIONED parquet table partition-by-partition: each
    * leaf `key=value` directory (where the data files actually live) is
    * compacted independently with [[compactParquet]]'s checked
    * rename-aside swap. Small-file buildup is worst exactly in
    * partitioned tables — every incremental [[upsertPartitions]] lands a
    * few files per touched partition — and per-partition compaction
    * keeps the maintenance unit bounded (ONE partition's bytes, not the
    * table's) no matter how large the table grows, with the partition
    * layout untouched: partition values live in the directory names, so
    * rewriting a leaf's files never changes what the partition is.
    * A flat table (no subdirectories) degenerates to a single
    * [[compactParquet]] call. Empty partition directories (no parquet
    * files) are skipped, and a LEAF containing non-partition
    * subdirectories (`_spark_metadata`, a concurrent writer's
    * `_temporary`, stray dirs) is refused — left untouched rather than
    * swapped, because the rename-aside swap would delete those subdirs
    * with the old copy. Returns (partitions compacted, total output
    * files). Crash contract is compactParquet's PER PARTITION: an
    * interrupted run leaves every other partition untouched or fully
    * swapped, and the wounded one recoverable from its `-__old__` /
    * `-__compacting__` siblings; the same maintenance fence applies
    * (the transient sibling dirs are not `key=value`-shaped, so fence
    * concurrent partition-discovery readers too). */
  def compactPartitionedParquet(spark: SparkSession, filesystem: String, path: String,
                                targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val norm = path.replaceAll("/+$", "")
    require(norm.nonEmpty, "compactPartitionedParquet: cannot compact the filesystem root")
    def leaves(rel: String): Seq[String] = {
      val subdirs = fs.listStatus(resolve(filesystem, rel)).filter(_.isDirectory)
      // an interrupted per-partition run leaves `-__old__`/`-__compacting__`
      // siblings INSIDE the table — walking into one would rewrite the
      // recovery copy as if it were a partition. Refuse the whole table
      // until it's recovered (the flat compactParquet contract, lifted
      // to the tree).
      subdirs.map(_.getPath.getName)
        .find(n => n.endsWith("-__old__") || n.endsWith("-__compacting__"))
        .foreach(n => throw new IllegalArgumentException(
          s"compactPartitionedParquet: leftover $rel/$n from an interrupted " +
            "run — recover or remove it first"))
      // recurse ONLY into `key=value`-shaped partition directories: a
      // non-partition directory inside the table — a concurrent writer's
      // `_temporary` task attempts, a streaming sink's `_spark_metadata`,
      // or any stray user directory — is NOT data and must not be
      // rewritten as if it were a partition (underscore/dot-prefixed
      // names are the FileInputFormat hidden convention; anything else
      // without `=` is not partition layout either). Skipped dirs are
      // left untouched.
      val partDirs = subdirs.filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && n.contains('=')
      }
      if (partDirs.nonEmpty)
        partDirs.toSeq.map(st => s"$rel/${st.getPath.getName}").flatMap(leaves)
      // a leaf holding ONLY non-partition subdirs (a flat streaming-sink
      // table with `_spark_metadata`, a leaf with a concurrent writer's
      // `_temporary`, a stray user dir) is REFUSED, not compacted:
      // compactParquet's rename-aside swap moves the whole directory, so
      // the "skipped dirs are untouched" promise above would break at
      // exactly this level — the skipped subdirs would ride the old copy
      // into the post-swap delete. Refusing also keeps a streaming
      // sink's metadata log consistent (its file names must not change
      // under it). The leaf's files stay as they are; siblings compact.
      else if (subdirs.nonEmpty) Nil
      else Seq(rel)
    }
    val parts = leaves(norm).filter { rel =>
      fs.listStatus(resolve(filesystem, rel))
        .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    var files = 0
    parts.foreach { rel => files += compactParquet(spark, filesystem, rel, targetFileBytes) }
    (parts.size, files)
  }

  /** Partition-level upsert: overwrite ONLY the partitions present in
    * `updates`, leaving all other partitions untouched (dynamic partition
    * overwrite — the parquet-lake stand-in for MERGE; at 100 TB this is
    * how incremental reprocessing lands without rewriting the table). */
  def upsertPartitions(updates: DataFrame, filesystem: String, path: String,
                       partitionBy: Seq[String]): Unit = {
    // with no partition columns, "dynamic overwrite" degenerates to a
    // FULL-TABLE overwrite of everything outside `updates` — never what
    // the per-partition contract above promises
    require(partitionBy.nonEmpty,
      "upsertPartitions: partitionBy must be non-empty (an unpartitioned " +
        "overwrite would replace the whole table)")
    // the PER-WRITER option, not the session conf: toggling the session
    // conf in a try/finally raced concurrent writers on the same session
    // — a write planning after another call's restore ran under mode
    // `static`, turning this partition upsert into a FULL-TABLE
    // overwrite (exactly the loss the require above guards against)
    updates.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(resolve(filesystem, path).toString)
  }

  def readCsv(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(resolve(filesystem, path).toString)
  def writeCsv(df: DataFrame, filesystem: String, path: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .csv(resolve(filesystem, path).toString)
  def readJson(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.json(resolve(filesystem, path).toString)
  def writeJson(df: DataFrame, filesystem: String, path: String): Unit =
    df.write.mode("overwrite").json(resolve(filesystem, path).toString)
  def readOrc(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.orc(resolve(filesystem, path).toString)
  def writeOrc(df: DataFrame, filesystem: String, path: String): Unit =
    df.write.mode("overwrite").orc(resolve(filesystem, path).toString)
  def readText(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.text(resolve(filesystem, path).toString)
  /** Avro — the row-oriented interchange format of Kafka/schema-registry
    * pipelines. This Spark build ships `AvroFileFormat` inside spark-sql
    * but without its `DataSourceRegister` service entry, so the library
    * supplies one (`src/main/resources/META-INF/services/…DataSourceRegister`)
    * and a user's `format("avro")` resolves whenever graft is on the
    * classpath. The helpers keep the class name — they must work even if
    * a shading step drops resource files, and the class name also
    * side-steps the documented duplicate-registration constraint (an
    * external spark-avro jar re-registering the same class breaks the
    * SHORT name, not the class-name path — see the services file). */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"
  def readAvro(spark: SparkSession, filesystem: String, path: String): DataFrame =
    spark.read.format(AvroFormat).load(resolve(filesystem, path).toString)
  def writeAvro(df: DataFrame, filesystem: String, path: String): Unit =
    df.write.mode("overwrite").format(AvroFormat)
      .save(resolve(filesystem, path).toString)
  /** XML (built-in since Spark 4) — `rowTag` names the element that maps
    * to one row. */
  def readXml(spark: SparkSession, filesystem: String, path: String,
              rowTag: String = "row"): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag)
      .load(resolve(filesystem, path).toString)
  def writeXml(df: DataFrame, filesystem: String, path: String,
               rowTag: String = "row"): Unit =
    df.write.mode("overwrite").format("xml").option("rowTag", rowTag)
      .save(resolve(filesystem, path).toString)
  /** Opaque-bytes read — the reference's untyped data plane as a DataFrame
    * (binaryFile source: path, modificationTime, length, content). */
  def readBinary(spark: SparkSession, filesystem: String, glob: String): DataFrame =
    spark.read.format("binaryFile").load(resolve(filesystem, glob).toString)

  // -- properties sidecar -------------------------------------------------

  /** Sidecar location for a FILE path (beside it, hidden). */
  private def fileSidecar(p: Path): Path =
    new Path(p.getParent, s".${p.getName}$PropsSuffix")

  private def propsPath(p: Path, isDirectory: Boolean): Path =
    if (isDirectory) new Path(p, PropsFileName) else fileSidecar(p)

  private def propsPath(p: Path): Path = propsPath(p, statusOf(p).exists(_.isDirectory))

  /** One status probe: None for a missing path. On ABFS every probe is an
    * HTTP HEAD, so an `exists` before a `getFileStatus` costs a round trip. */
  private def statusOf(p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: FileNotFoundException => None }

  /** Bulk read of a whole object. Hadoop's `IOUtils.readFullyToByteArray`
    * reads it one byte at a time. */
  private def readAll(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  /** Writes the sidecar at `pp`, a [[propsPath]]. */
  private def writeProps(pp: Path, props: Map[String, String]): Unit = {
    // keys are stored bare in the comma/equals-joined sidecar line
    // (values are base64) — a ',' or '=' in a key would write fine and
    // then poison EVERY later read with a parse error; validate like
    // the ADLS x-ms-properties key contract
    props.keys.foreach { k =>
      require(k.nonEmpty && !k.exists(c => c == ',' || c == '=' || c == '\n'),
        s"property key must be non-empty and contain no ',', '=' or newline: '$k'")
    }
    val out = fs.create(pp, true)
    try out.write(encodeProps(props).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Reads the sidecar at `pp`, a [[propsPath]]; no sidecar, no properties. */
  private def readProps(pp: Path): Map[String, String] =
    try decodeProps(new String(readAll(pp), StandardCharsets.UTF_8))
    catch { case _: FileNotFoundException => Map.empty }

  private def copyStream(in: InputStream, out: OutputStream, chunkSize: Int): Long = {
    val buf = new Array[Byte](chunkSize)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) { out.write(buf, 0, n); total += n }
      n = in.read(buf)
    }
    total
  }
}

object LakeClient {
  /** Hidden sidecar names for the x-ms-properties analogue. */
  val PropsFileName = "._graft_props"
  val PropsSuffix = "._graft_props"

  /** One page of a listing plus the opaque token resuming after it
    * (None = listing complete) — reference `x-ms-continuation`. */
  final case class PathPage(entries: Seq[FsEntry], continuation: Option[String])

  /** Opaque continuation token: base64 of the last served path. Opaque to
    * callers (reference tokens are server blobs); versioned for safety. */
  private[lake] def encodeCursor(path: String): String =
    java.util.Base64.getUrlEncoder.encodeToString(
      s"v1:$path".getBytes(StandardCharsets.UTF_8))

  private[lake] def decodeCursor(token: String): Seq[String] = {
    val decoded = new String(
      java.util.Base64.getUrlDecoder.decode(token), StandardCharsets.UTF_8)
    require(decoded.startsWith("v1:"), s"unrecognized continuation token")
    decoded.stripPrefix("v1:").split('/').toSeq.filter(_.nonEmpty)
  }

  /** True iff path `e` comes STRICTLY AFTER path `c` in a pre-order DFS
    * with name-sorted children: the first differing component decides;
    * with no differing component, the longer path (a descendant) follows
    * its ancestor. */
  private[lake] def preOrderAfter(e: Seq[String], c: Seq[String]): Boolean = {
    val n = math.min(e.length, c.length)
    var i = 0
    while (i < n && e(i) == c(i)) i += 1
    if (i < n) e(i) > c(i) else e.length > c.length
  }

  /** True iff `e` is an ancestor of (or equal to) `c` — its subtree may
    * still contain entries after the cursor, so traversal must descend. */
  private[lake] def isPrefixOf(e: Seq[String], c: Seq[String]): Boolean =
    e.length <= c.length && e.indices.forall(i => e(i) == c(i))

  /** Schema of [[LakeClient.listPathsDF]]. */
  val ListingSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("is_directory", BooleanType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("modification_time", LongType, nullable = false)))

  /** Executor-side subtree walk for [[LakeClient.listPathsDF]]: rebuilds a
    * `FileSystem` from the shipped conf entries (credentials included — the
    * same map the driver's client used) and streams the subtree's entries.
    * Static on the companion so the task closure never captures the
    * driver's non-serializable `FileSystem`. */
  private[lake] def walkSubtree(dirUri: String,
      confEntries: Map[String, String]): Iterator[(String, Boolean, Long, Long)] = {
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val root = new Path(dirUri)
    val efs = root.getFileSystem(conf)
    val stack = scala.collection.mutable.Stack(root)
    new Iterator[(String, Boolean, Long, Long)] {
      private var buf: List[FileStatus] = Nil
      @annotation.tailrec
      private def fill(): Unit =
        if (buf.isEmpty && stack.nonEmpty) {
          val d = stack.pop()
          buf = efs.listStatus(d)
            .filter(st => !st.getPath.getName.endsWith(PropsSuffix))
            .sortBy(_.getPath.getName).toList
          buf.foreach(st => if (st.isDirectory) stack.push(st.getPath))
          fill()
        }
      override def hasNext: Boolean = { fill(); buf.nonEmpty }
      override def next(): (String, Boolean, Long, Long) = {
        fill()
        val st = buf.head
        buf = buf.tail
        (st.getPath.toUri.getPath, st.isDirectory, st.getLen, st.getModificationTime)
      }
    }
  }

  /** The reference's `key1=val1,key2=val2` x-ms-properties wire format
    * (client.py:224-225: `','.join(f"{k}={v}" ...)`), values base64'd as
    * the DFS API requires. */
  private[lake] def encodeProps(props: Map[String, String]): String =
    props.toSeq.sortBy(_._1).map { case (k, v) =>
      s"$k=${java.util.Base64.getEncoder.encodeToString(v.getBytes(StandardCharsets.UTF_8))}"
    }.mkString(",")

  private[lake] def decodeProps(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(',').toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> new String(java.util.Base64.getDecoder.decode(v), StandardCharsets.UTF_8)
    }.toMap

  /** Local client rooted at a directory (tests; any Hadoop URI works).
    * Uses a raw, unchecksummed local filesystem: the checksummed wrapper
    * neither supports append nor keeps its .crc sidecars consistent
    * across renames, and ABFS (the production target) is not checksummed.
    *
    * That filesystem is [[NioLocalFileSystem]], not Hadoop's
    * `RawLocalFileSystem`. Without the native libhadoop, the latter starts
    * a `chmod` process on every create and an `ls -ld` on every owner or
    * permission read, which made those lake calls ten times slower than
    * the rest. Whole-object reads, on any filesystem, use the stream's
    * bulk `readAllBytes`: Hadoop's `IOUtils.readFullyToByteArray` reads
    * one byte at a time. */
  def local(rootDir: String): LakeClient = {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    new LakeClient(fs, new Path(s"file://$rootDir"))
  }

  /** Production client for an ADLS Gen2 account: credentials flow through
    * Hadoop conf exactly where the reference hand-signs each request
    * (SharedKeyAuth, client.py:143-178).
    *
    * `container` names a pre-existing ADLS container; the URI authority is
    * `<container>@<account>.<dnsSuffix>` as the ABFS driver requires (an
    * empty container name is rejected at `getFileSystem`). The client is
    * rooted inside that container, so `createFilesystem` makes logical
    * filesystems as top-level directories there — real container lifecycle
    * stays with the account's management plane, while the reference
    * addresses containers per-call over REST (client.py:186-198,228-230). */
  def forAccount(spark: SparkSession, account: String, accountKey: String,
                 container: String,
                 dnsSuffix: String = "dfs.core.windows.net"): LakeClient = {
    require(container.nonEmpty, "container must name an existing ADLS container")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.azure.account.key.$account.$dnsSuffix", accountKey)
    val root = new Path(s"abfss://$container@$account.$dnsSuffix/")
    new LakeClient(root.getFileSystem(hc), root)
  }

  final case class FsEntry(name: String, isDirectory: Boolean, length: Long,
                           modificationTime: Long)
  object FsEntry {
    def of(st: FileStatus): FsEntry =
      FsEntry(st.getPath.toUri.getPath, st.isDirectory, st.getLen, st.getModificationTime)
  }

  final case class PathInfo(path: String, isDirectory: Boolean, length: Long,
                            modificationTime: Long, owner: String, group: String,
                            permissions: String, properties: Map[String, String])
  object PathInfo {
    def of(st: FileStatus, props: Map[String, String]): PathInfo =
      PathInfo(st.getPath.toUri.getPath, st.isDirectory, st.getLen,
        st.getModificationTime, st.getOwner, st.getGroup,
        st.getPermission.toString, props)
  }
}
