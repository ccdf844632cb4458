package perfbench

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.lake.LakeClient
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Workload `lake-ops`: one closed-loop client thread drives `LakeClient.local`
  * over a seeded tree, with no Spark session.
  *
  * Set-up writes the tree directly with java.nio: one flat directory of more
  * than 5,000 children (so a listing spans two 5,000-entry pages), a deep
  * narrow chain, many small directories and a hot set of objects with sizes
  * log-uniform between 4 KiB and 8 MiB. A pass then replays one seeded plan
  * of metadata and data operations inside its own namespace and removes
  * that namespace at its end, so every pass does the same work. Reads favour
  * a Zipf-skewed hot set; listings of the same directories repeat between
  * writes, including writes into the flat directory, so a listing that goes
  * stale is caught. Every result is checked against an in-memory model of
  * the tree. */
object LakeOps {
  val Fs = "bench"
  val PageSize = 5000
  val Ops = Seq("createPath", "setPathProperties", "getPathProperties", "pathStatus",
    "renamePath", "deletePath", "listPathsPage", "upload", "readRange", "readBytes",
    "appendBytes")
  private val MinObject = 4096.0
  private val MaxObject = 8.0 * 1024 * 1024
  private val HotObjects = 32
  private val SetupRepeats = 5
  private val NominalPassS = 4.0

  // -- the model ------------------------------------------------------------

  private final class Node(val dir: Boolean, var data: Array[Byte], var props: Map[String, String])

  /** Expected state of the filesystem `Fs`, keyed by path relative to it. */
  private final class Model {
    val nodes = new java.util.TreeMap[String, Node]()
    def file(p: String, data: Array[Byte]): Unit = nodes.put(p, new Node(false, data, Map.empty))
    def dir(p: String): Unit = nodes.put(p, new Node(true, null, Map.empty))
    def under(d: String): java.util.SortedMap[String, Node] = nodes.subMap(d + "/", d + "0")
    def userBytes: Long = {
      var n = 0L
      nodes.values.forEach(x => if (!x.dir) n += x.data.length)
      n
    }
  }

  // -- the plan ---------------------------------------------------------------

  /** A path of the plan; `@` stands for the pass number. */
  private final case class P(t: String) { def at(k: Int): String = t.replace("@", k.toString) }

  private sealed trait Op { def name: String }
  private final case class Create(p: P, dir: Boolean) extends Op { def name = "createPath" }
  private final case class SetProps(p: P, props: Map[String, String]) extends Op { def name = "setPathProperties" }
  private final case class GetProps(p: P) extends Op { def name = "getPathProperties" }
  private final case class Status(p: P) extends Op { def name = "pathStatus" }
  private final case class Rename(src: P, dst: P) extends Op { def name = "renamePath" }
  private final case class Delete(p: P, recursive: Boolean) extends Op { def name = "deletePath" }
  private final case class ListAll(p: P) extends Op { def name = "listPathsPage" }
  private final case class Upload(p: P, data: Array[Byte]) extends Op { def name = "upload" }
  private final case class ReadRange(p: P, offset: Long, len: Int) extends Op { def name = "readRange" }
  private final case class ReadAll(p: P) extends Op { def name = "readBytes" }
  private final case class Append(p: P, data: Array[Byte]) extends Op { def name = "appendBytes" }
  /** Marks the point of a pass where the most data is live. */
  private case object Peak extends Op { def name = "peak" }

  private final case class Tree(flat: Seq[String], deep: Seq[String], small: Seq[String],
                                hot: IndexedSeq[String], model: Model)

  private def bytes(rnd: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var w = rnd.nextLong()
      var j = 0
      while (j < 8 && i < n) { b(i) = w.toByte; w >>>= 8; i += 1; j += 1 }
    }
    b
  }

  /** `n` sizes log-uniform between 4 KiB and 8 MiB, one from each of `n`
    * equal strata in log space, in stratum order. Stratifying keeps the
    * total size nearly the same for every seed. */
  private def stratifiedSizes(rnd: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val (lo, hi) = (math.log(MinObject), math.log(MaxObject))
    (0 until n).map(i => math.exp(lo + (i + rnd.nextDouble()) / n * (hi - lo)).toInt)
  }

  /** A fixed permutation, the same for every seed. */
  private def fixedShuffle(n: Int): IndexedSeq[Int] =
    new scala.util.Random(12345).shuffle((0 until n).toIndexedSeq)

  /** The seeded tree, as a model; `materialize` writes it. */
  private def tree(seed: Long): Tree = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val m = new Model
    Seq("flat", "deep", "dirs", "data", "work").foreach(m.dir)
    val flat = (0 until 5200 + rnd.nextInt(100)).map(i => f"flat/f$i%05d")
    flat.foreach(p => m.file(p, bytes(rnd, 16 + rnd.nextInt(48))))
    val deep = ArrayBuffer.empty[String]
    var d = "deep"
    (0 until 20).foreach { i =>
      d = s"$d/l$i"
      m.dir(d)
      (0 until 2).foreach { j =>
        val p = s"$d/g$j"
        m.file(p, bytes(rnd, 32 + rnd.nextInt(224)))
        deep += p
      }
    }
    val small = ArrayBuffer.empty[String]
    (0 until 150).foreach { i =>
      val sd = f"dirs/d$i%03d"
      m.dir(sd)
      (0 until 1 + rnd.nextInt(6)).foreach { j =>
        val p = s"$sd/s$j"
        m.file(p, bytes(rnd, 64 + rnd.nextInt(960)))
        small += p
      }
    }
    // hot object of Zipf rank r gets size stratum fixedShuffle(r)
    val sizes = stratifiedSizes(rnd, HotObjects)
    val strata = fixedShuffle(HotObjects)
    val hot = (0 until HotObjects).map { r =>
      val p = f"data/o${(r * 7 + seed.toInt.abs) % HotObjects}%02d"
      m.file(p, bytes(rnd, sizes(strata(r))))
      p
    }
    Tree(flat, deep.toSeq, small.toSeq, hot, m)
  }

  private def materialize(t: Tree, fsRoot: Path): Unit = {
    Files.createDirectories(fsRoot)
    t.model.nodes.forEach { (p, n) =>
      val target = fsRoot.resolve(p)
      if (n.dir) Files.createDirectories(target) else Files.write(target, n.data)
    }
  }

  /** How many operations of each kind one pass makes. The seed decides
    * their order, targets and payloads, not their number. */
  private val Quota = Seq("create" -> 20, "flatCreate" -> 4, "mkdir" -> 6, "setProps" -> 16,
    "getProps" -> 16, "status" -> 20, "rename" -> 10, "delete" -> 10, "rmdir" -> 3,
    "listFlat" -> 4, "listDirs" -> 3, "listDeep" -> 3, "listPass" -> 4, "upload" -> 12,
    "readTail" -> 20, "readChunk" -> 20, "readAll" -> 12, "append" -> 20)

  /** Zipf(1.1) counts over the hot set for `n` reads, largest remainder. */
  private def zipfQuota(n: Int): IndexedSeq[Int] = {
    val w = (0 until HotObjects).map(r => 1.0 / math.pow(r + 1, 1.1))
    val exact = w.map(_ / w.sum * n)
    val base = exact.map(_.toInt).toArray
    exact.zipWithIndex.sortBy { case (x, _) => -(x - x.toInt) }
      .take(n - base.sum).foreach { case (_, i) => base(i) += 1 }
    base.toIndexedSeq
  }

  /** The seeded operation plan of one pass: the quota of each kind, in a
    * seeded order. It simulates the namespace it writes, so every
    * operation targets a path in the right state; an operation whose
    * target does not exist yet waits until one does. */
  private def plan(seed: Long, t: Tree): IndexedSeq[Op] = {
    val rnd = new SplittableRandom(seed * 131 + 17)
    def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def shuffle[T](xs: Seq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
    val ops = ArrayBuffer.empty[Op]
    val root = "work/p@"
    val files = ArrayBuffer.empty[String]       // live pass files
    val dirs = ArrayBuffer(root)                 // live pass directories
    val uploads = ArrayBuffer.empty[(String, Int)]
    val appended = ArrayBuffer.empty[String]
    val flatAdds = ArrayBuffer.empty[String]
    var serial = 0
    def fresh(prefix: String): String = { serial += 1; s"$prefix$serial" }
    def sizeOf(p: String): Int = t.model.nodes.get(p).data.length
    def livePath(): String = if (files.nonEmpty && rnd.nextBoolean()) pick(files) else pick(dirs)
    val staticPaths = IndexedSeq(t.flat, t.deep, t.small, t.hot)
    val uploadSizes = shuffle(stratifiedSizes(rnd, Quota.toMap.apply("upload")))
    val readAll = shuffle(zipfQuota(Quota.toMap.apply("readAll")).zipWithIndex.flatMap { case (n, r) => Seq.fill(n)(r) })
    val readRange = shuffle(zipfQuota(Quota.toMap.apply("readTail") + Quota.toMap.apply("readChunk"))
      .zipWithIndex.flatMap { case (n, r) => Seq.fill(n)(r) })
    var nUpload, nReadAll, nReadRange = 0
    def chunkAt(size: Int): Long = {
      val chunk = 1 << 20
      if (size > chunk) rnd.nextInt(size / chunk).toLong * chunk else 0L
    }

    /** Appends the op of `kind`, or returns false if its target is missing. */
    def emit(kind: String): Boolean = kind match {
      case "create" =>
        val p = fresh(s"${pick(dirs)}/f"); files += p; ops += Create(P(p), dir = false); true
      case "flatCreate" =>
        val p = fresh("flat/zp@-"); flatAdds += p
        ops += Create(P(p), dir = false); ops += ListAll(P("flat")); true
      case "mkdir" =>
        val d = fresh(s"${pick(dirs)}/d"); dirs += d; ops += Create(P(d), dir = true); true
      case "setProps" =>
        ops += SetProps(P(livePath()), Map("owner" -> s"u${rnd.nextInt(100)}",
          "tag" -> fresh("t"), "note" -> ("v" * (1 + rnd.nextInt(40))))); true
      case "getProps" => ops += GetProps(P(livePath())); true
      case "status" =>
        ops += Status(P(if (rnd.nextInt(5) < 3) livePath() else pick(pick(staticPaths).toIndexedSeq))); true
      case "rename" if files.nonEmpty =>
        val src = files.remove(rnd.nextInt(files.size))
        val dst = fresh(s"${pick(dirs)}/r")
        files += dst
        val i = appended.indexOf(src)
        if (i >= 0) appended(i) = dst
        ops += Rename(P(src), P(dst)); true
      case "delete" if files.nonEmpty =>
        val p = files.remove(rnd.nextInt(files.size))
        appended -= p
        ops += Delete(P(p), recursive = false); true
      case "rmdir" if dirs.size > 1 =>
        val d = dirs(1 + rnd.nextInt(dirs.size - 1))
        val gone = (s: String) => s == d || s.startsWith(d + "/")
        dirs.filterInPlace(!gone(_)); files.filterInPlace(!gone(_))
        uploads.filterInPlace(u => !gone(u._1)); appended.filterInPlace(!gone(_))
        ops += Delete(P(d), recursive = true); true
      case "listFlat" => ops += ListAll(P("flat")); true
      case "listDirs" => ops += ListAll(P("dirs")); true
      case "listDeep" => ops += ListAll(P("deep")); true
      case "listPass" => ops += ListAll(P(root)); true
      case "upload" =>
        val p = fresh(s"${pick(dirs)}/u")
        val data = bytes(rnd, uploadSizes(nUpload)); nUpload += 1
        uploads += p -> data.length
        ops += Upload(P(p), data); true
      case "readTail" | "readChunk" =>
        // one in five ranged reads goes to an object uploaded in this pass
        val (p, size) =
          if (uploads.nonEmpty && rnd.nextInt(5) == 0) pick(uploads)
          else { val h = t.hot(readRange(nReadRange)); nReadRange += 1; (h, sizeOf(h)) }
        ops += (if (kind == "readTail") ReadRange(P(p), math.max(0, size - 8192).toLong, 8192)
                else ReadRange(P(p), chunkAt(size), 1 << 20)); true
      case "readAll" =>
        ops += ReadAll(P(t.hot(readAll(nReadAll)))); nReadAll += 1; true
      case "append" if files.nonEmpty =>
        val p = pick(files)
        if (!appended.contains(p)) appended += p
        ops += Append(P(p), bytes(rnd, 4096)); true
      case _ => false
    }

    ops += Create(P(root), dir = true)
    var waiting = List.empty[String]
    shuffle(Quota.flatMap { case (k, n) => Seq.fill(n)(k) }).foreach { kind =>
      if (!emit(kind)) waiting = waiting :+ kind
      waiting = waiting.filterNot(emit)
    }
    while (waiting.nonEmpty) { emit("create"); waiting = waiting.filterNot(emit) }
    // appended files are read back whole
    appended.take(4).foreach(p => ops += ReadAll(P(p)))
    ops += Peak
    flatAdds.foreach(p => ops += Delete(P(p), recursive = false))
    ops += ListAll(P("flat"))
    ops += Delete(P(root), recursive = true)
    ops.toIndexedSeq
  }

  // -- running ----------------------------------------------------------------

  /** Counts the FileSystem calls a LakeClient call makes. Used only in the
    * traced run. */
  private final class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    var calls = 0L
    override def open(f: HPath, bufferSize: Int) = { calls += 1; super.open(f, bufferSize) }
    override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long, progress: Progressable) = {
      calls += 1; super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def append(f: HPath, bufferSize: Int, progress: Progressable) = {
      calls += 1; super.append(f, bufferSize, progress)
    }
    override def rename(src: HPath, dst: HPath) = { calls += 1; super.rename(src, dst) }
    override def delete(f: HPath, recursive: Boolean) = { calls += 1; super.delete(f, recursive) }
    override def mkdirs(f: HPath, permission: FsPermission) = { calls += 1; super.mkdirs(f, permission) }
    override def getFileStatus(f: HPath) = { calls += 1; super.getFileStatus(f) }
    override def listStatus(f: HPath) = { calls += 1; super.listStatus(f) }
    override def listStatusIterator(f: HPath) = { calls += 1; super.listStatusIterator(f) }
  }

  private val MetadataOps = Set("createPath", "setPathProperties", "getPathProperties",
    "pathStatus", "renamePath", "deletePath", "listPathsPage")

  private final class Tally { var calls = 0L; var ns = 0L; var fsCalls = 0L; var bytes = 0L; var entries = 0L }

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val checks = new Checks
    // set-up, several times: generating the seeded tree and starting a
    // client that creates the filesystem. Writing the tree with java.nio is
    // the benchmark's own disk work, not the lake client's, so it is done
    // once, after the timed set-ups, and not timed.
    val lakeRoot = a.work.resolve("lake")
    var t: Tree = null
    val setups = (0 until SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      t = tree(a.seed)
      LakeClient.local(lakeRoot.toString).createFilesystem(Fs)
      (System.nanoTime() - t0) / 1e9
    }
    materialize(t, lakeRoot.resolve(Fs))
    val local = LakeClient.local(lakeRoot.toString)
    val thePlan = plan(a.seed, t)
    val counting = new CountingFs(local.fs)
    val client = if (a.traced) new LakeClient(counting, local.accountRoot) else local
    val fsPrefix = lakeRoot.resolve(Fs).toString + "/"
    val model = t.model
    val tallies = Ops.map(_ -> new Tally).toMap
    var peakRatio = Double.NaN
    val metaMs = ArrayBuffer.empty[Double]

    def rel(name: String): String = name.stripPrefix("file:").stripPrefix(fsPrefix)

    def same(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

    /** Runs one op; returns the latency of each LakeClient call it made, ms
      * (a listing makes one call per page). Checks are not timed. */
    def exec(op: Op, k: Int, record: Boolean): Seq[Double] = {
      val before = counting.calls
      val callMs = ArrayBuffer.empty[Double]
      var entries = 0L
      var moved = 0L
      def timed[T](body: => T): T = {
        val t0 = System.nanoTime()
        try tracer.span(s"lake.${op.name}")(body)
        finally callMs += (System.nanoTime() - t0) / 1e6
      }
      op match {
        case Create(p, dir) =>
          val path = p.at(k)
          timed(client.createPath(Fs, path, directory = dir))
          if (dir) model.dir(path) else model.file(path, Array.emptyByteArray)
          checks.attempted += 1
        case SetProps(p, props) =>
          val path = p.at(k)
          timed(client.setPathProperties(Fs, path, props))
          model.nodes.get(path).props = props
          checks.attempted += 1
        case GetProps(p) =>
          val path = p.at(k)
          val got = timed(client.getPathProperties(Fs, path))
          checks.expect(got == model.nodes.get(path).props, s"getPathProperties $path: $got")
        case Status(p) =>
          val path = p.at(k)
          val got = timed(client.pathStatus(Fs, path))
          val n = model.nodes.get(path)
          checks.expect(got.exists(s => s.isDirectory == n.dir && s.properties == n.props &&
            (n.dir || s.length == n.data.length)), s"pathStatus $path: $got")
        case Rename(src, dst) =>
          val (s, d) = (src.at(k), dst.at(k))
          val ok = timed(client.renamePath(Fs, s, d))
          model.nodes.put(d, model.nodes.remove(s))
          checks.expect(ok, s"renamePath $s -> $d returned false")
        case Delete(p, recursive) =>
          val path = p.at(k)
          val ok = timed(client.deletePath(Fs, path, recursive))
          if (recursive) model.under(path).clear()
          model.nodes.remove(path)
          checks.expect(ok, s"deletePath $path returned false")
        case ListAll(p) =>
          val dir = p.at(k)
          val seen = ArrayBuffer.empty[LakeClient.FsEntry]
          var token: Option[String] = None
          var pages = 0
          var more = true
          while (more) {
            val page = timed(client.listPathsPage(Fs, dir, recursive = true, PageSize, token))
            seen ++= page.entries
            pages += 1
            token = page.continuation
            more = token.isDefined && pages <= 1000
          }
          entries = seen.size
          val expected = model.under(dir)
          val names = seen.map(e => rel(e.name))
          val ok = names.distinct.size == names.size && names.size == expected.size &&
            seen.forall { e =>
              val n = expected.get(rel(e.name))
              n != null && n.dir == e.isDirectory && (n.dir || n.data.length == e.length)
            }
          checks.expect(ok && token.isEmpty,
            s"listPathsPage $dir: ${names.size} entries over $pages pages, expected ${expected.size}")
        case Upload(p, data) =>
          val path = p.at(k)
          val n = timed(client.upload(Fs, path, new ByteArrayInputStream(data)))
          model.file(path, data)
          moved = data.length
          checks.expect(n == data.length, s"upload $path wrote $n of ${data.length}")
        case ReadRange(p, off, len) =>
          val path = p.at(k)
          val got = timed(client.readRange(Fs, path, off, len))
          val all = model.nodes.get(path).data
          moved = got.length
          checks.expect(same(got, all.slice(off.toInt, off.toInt + len)), s"readRange $path@$off+$len")
        case ReadAll(p) =>
          val path = p.at(k)
          val got = timed(client.readBytes(Fs, path))
          moved = got.length
          checks.expect(same(got, model.nodes.get(path).data), s"readBytes $path")
        case Append(p, data) =>
          val path = p.at(k)
          timed(client.appendBytes(Fs, path, data))
          val n = model.nodes.get(path)
          n.data = n.data ++ data
          moved = data.length
          checks.attempted += 1
        case Peak =>
          if (record) peakRatio = Dirs.treeBytes(lakeRoot).toDouble / model.userBytes
      }
      if (record && op != Peak) {
        val tl = tallies(op.name)
        tl.calls += callMs.size; tl.ns += (callMs.sum * 1e6).toLong
        tl.fsCalls += counting.calls - before; tl.bytes += moved; tl.entries += entries
        if (MetadataOps(op.name)) metaMs ++= callMs
      }
      callMs.toSeq
    }

    def pass(k: Int, record: Boolean): (Double, Seq[(String, Double)]) = {
      val lat = ArrayBuffer.empty[(String, Double)]
      thePlan.foreach { op =>
        val ms = try exec(op, k, record) catch {
          case e: Exception =>
            checks.attempted += 1
            checks.fail(s"${op.name} pass $k: $e")
            Nil
        }
        lat ++= ms.map(op.name -> _)
      }
      (lat.map(_._2).sum / 1e3, lat.toSeq)
    }

    val (first, _) = pass(0, record = false)
    pass(1, record = false) // warm-up, not reported
    val passes = ArrayBuffer.empty[(Double, Map[String, Double])]
    val callMs = mutable.Map.empty[String, ArrayBuffer[Double]]
    val untracedS = ArrayBuffer.empty[Double]
    val measured = a.passes(NominalPassS) + (if (a.traced) 1 else 0)
    var k = 2
    var recorded = 0
    var sys0 = 0.0
    var sysCpu = 0.0
    // A traced run times its first measured pass untraced, to report the
    // tracing overhead, and records spans from the second on.
    while (k < 2 + measured) {
      val record = a.traced && k >= 3
      tracer.recording = record
      if (record) sys0 = Host.sysCpuS
      val (s, lat) = pass(k, record)
      if (record) { sysCpu += Host.sysCpuS - sys0; recorded += 1 }
      if (!record) untracedS += s
      passes += s -> lat.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / xs.size }
      lat.foreach { case (n, ms) => callMs.getOrElseUpdate(n, ArrayBuffer.empty) += ms }
      k += 1
    }
    tracer.recording = false

    val layers = mutable.Map.empty[String, Double]
    if (a.traced) {
      Ops.foreach { op =>
        val tl = tallies(op)
        layers(s"lake.$op.busy_s") = tl.ns / 1e9 / recorded
        layers(s"lake.$op.fs_calls") = tl.fsCalls.toDouble / math.max(1L, tl.calls)
      }
      def rate(ops: Seq[String], f: Tally => Double) =
        ops.map(o => f(tallies(o))).sum / (ops.map(o => tallies(o).ns).sum / 1e9)
      layers("lake.sys_cpu_s") = sysCpu / recorded
      layers("lake.meta_p50_ms") = Stats.percentile(metaMs.toSeq, 50)
      layers("lake.meta_p99_ms") = Stats.percentile(metaMs.toSeq, 99)
      layers("lake.list_entries_per_s") = rate(Seq("listPathsPage"), _.entries.toDouble)
      layers("lake.read_mib_per_s") = rate(Seq("readRange", "readBytes"), _.bytes / 1048576.0)
      layers("lake.write_mib_per_s") = rate(Seq("upload", "appendBytes"), _.bytes / 1048576.0)
      layers("lake.bytes_per_user_byte") = peakRatio
    }
    val tracedS = if (a.traced) passes.map(_._1).drop(untracedS.size) else Nil
    Outcome(checks, setups, first, passes.toSeq, callMs.view.mapValues(_.toSeq).toMap, layers.toMap, Map(
      "plan_ops" -> thePlan.size, "passes" -> passes.size,
      "tree" -> Map("flat" -> t.flat.size, "deep" -> t.deep.size, "small" -> t.small.size,
        "hot" -> t.hot.size, "hot_bytes" -> t.hot.map(p => t.model.nodes.get(p).data.length.toLong).sum),
      "trace_overhead_ratio" ->
        (if (tracedS.nonEmpty) Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1 else null)))
  }
}
