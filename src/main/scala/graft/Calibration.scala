package graft

import org.apache.spark.sql.SparkSession

/** Fixed-workload calibration probes + artifact persistence, shared by
  * [[Bench]] and [[ScaleSmoke]] (round 12 — previously Bench-private,
  * which left the smoke's stage readings un-normalizable: its 100×
  * records swung up to 4× with co-tenancy and every adjudication needed
  * a manual isolated rerun).
  *
  * The probes are FIXED workloads so readings are comparable across
  * runs and artifacts: [[calCpu]] is a pinned single-core integer hash
  * loop (single-thread clock + scheduler pressure), [[calCpuMt]] the
  * same loop on every core at once (effective width / all-core clock),
  * [[calMemMt]] a full-width DRAM-streaming burst (aggregate memory
  * bandwidth), [[calSpark]] a tiny fixed 32-partition Spark job
  * (JVM/task-dispatch state; cache-resident, so NOT a bandwidth
  * probe). To compare two artifacts recorded on different box states,
  * scale totals by the ratio of their calibration readings;
  * [[RefCpuSec]] records the settled quiet-box value (NOTES round-11)
  * that wall bars normalize against. */
object Calibration {

  /** Settled quiet-box [[calCpu]] reading (NOTES round-11): readings
    * materially above this mean the box is loaded or slower, and
    * absolute wall bars should be scaled by `reading / RefCpuSec`. */
  val RefCpuSec = 0.78

  /** Pinned single-core integer hash loop, seconds. */
  def calCpu(): Double = {
    val t0 = System.nanoTime()
    val h = hashLoop(400000000, 0x9E3779B97F4A7C15L)
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42) print("") // keep the loop live under JIT
    s
  }

  private def hashLoop(iters: Int, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < iters) { h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i; i += 1 }
    h
  }

  /** Full-width companion to [[calCpu]] (round 15): one hash-loop
    * thread per available core, wall = the SLOWEST thread. Exists
    * because the single-thread probe structurally cannot see a
    * parallel-throughput deficit — the r15 100× smoke ran on a host
    * whose untouched-path walls read 1.4-1.7× the r13 records while
    * calCpu read a near-quiet 1.07-1.10 (all-core clocks / effective
    * width are invisible to one thread that always finds a free core;
    * the r12 isolated-dd4 adjudication hit the same blind spot from
    * the co-tenant side). Read the triple (cpu, cpu_mt, load):
    * cpu_mt/cpu near the quiet-box ratio → healthy full-width box;
    * elevated ratio + HIGH load → co-tenant; elevated ratio + LOW
    * load → slower/narrower host, scale wall bars accordingly.
    * `iters` is parameterized for specs only — artifact readings
    * always use the pinned default so they stay cross-run comparable. */
  def calCpuMt(iters: Int = 400000000): Double =
    fullWidthWall(tid => hashLoop(iters, 0x9E3779B97F4A7C15L + tid))

  /** Shared full-width scaffolding: one daemon thread per core running
    * `work(threadIndex)`, wall = all threads joined; the summed results
    * feed a liveness guard so JIT cannot eliminate the work bodies. */
  private def fullWidthWall(work: Int => Long): Double = {
    val width = Runtime.getRuntime.availableProcessors().max(1)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val threads = (0 until width).map { tid =>
      val t = new Thread(() => sink.addAndGet(work(tid)))
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    val s = (System.nanoTime() - t0) / 1e9
    if (sink.get() == 42) print("") // keep the work live under JIT
    s
  }

  /** Full-width memory-streaming burst, seconds (round 15): one thread
    * per core, each sweep-summing a PRIVATE 32 MiB long array 32
    * times — a ~1 GiB aggregate working set that no shared L3 holds,
    * so the wall tracks aggregate DRAM bandwidth (~0.3 s on a
    * ~100 GiB/s box; the 32-sweep burst keeps the reading above timer/
    * scheduler noise). Exists because the other two
    * cpu probes are register-only and [[calSpark]] is cache-resident
    * (reads 0.14 s on boxes whose real-workload walls differ 1.5×): the
    * r15 host ran untouched-path 100× walls 1.36-1.72× the r13 records
    * on +9 % single-thread clock and full width — bandwidth was the
    * only un-probed axis. `mb`/`sweeps` parameterized for specs only;
    * artifact readings use the pinned defaults. */
  def calMemMt(mb: Int = 32, sweeps: Int = 32): Double = {
    val width = Runtime.getRuntime.availableProcessors().max(1)
    // Clamp the aggregate working set to a quarter of the heap (floor
    // 4 MiB/thread) so a small-heap probe JVM degrades to a smaller
    // burst instead of an OOM; the bench/smoke JVMs never clamp at the
    // pinned geometry, so artifact readings stay cross-run comparable.
    // A clamped reading is NOT comparable — the stdout note marks it.
    val effMb = memBurstMb(mb, width, Runtime.getRuntime.maxMemory())
    if (effMb != mb)
      println(s"calMemMt: burst clamped to $effMb MiB/thread by heap — reading not cross-comparable")
    val longsPerThread = effMb * 1024 * 1024 / 8
    val arrays = memBurstArrays.computeIfAbsent((width, effMb), _ =>
      Array.fill(width) {
        val a = new Array[Long](longsPerThread)
        var i = 0
        while (i < a.length) { a(i) = i.toLong; i += 1 } // touch every page
        a
      })
    fullWidthWall { tid =>
      val a = arrays(tid)
      var acc = 0L
      var s = 0
      while (s < sweeps) {
        var i = 0
        while (i < a.length) { acc += a(i); i += 1 }
        s += 1
      }
      acc
    }
  }

  /** Cached per-thread burst arrays for [[calMemMt]] (round 16, r15
    * ADVICE): a fresh width × 32 MiB Long allocation per call (~1 GiB
    * live at once on a 32-core box — three times per cal3, once per
    * bench pass) risked OOM on default-heap probe JVMs and injected
    * exactly the heap/GC churn the reading is documented to swing ±30%
    * on. Allocated once per (width, MiB) geometry and reused for the
    * JVM's life, so the page-touch init sweep runs at first call only —
    * outside every later timed window. Keyed by geometry so spec calls
    * with small `mb` don't collide with the pinned artifact shape; the
    * retained ~1 GiB is the documented price of a stable instrument on
    * the 96 GiB bench heap. */
  private val memBurstArrays =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Long]]]()

  /** Effective per-thread burst MiB for [[calMemMt]] — all-Long
    * arithmetic because maxMemory() is Long.MaxValue on an unbounded
    * JVM, where an early toInt would wrap (possibly negative) and
    * silently shrink the burst to the floor. The 4 MiB floor applies
    * only when the HEAP forces a clamp — an explicit small `mb` (spec
    * calls) is honored as asked. */
  private[graft] def memBurstMb(mb: Int, width: Int, maxMemory: Long): Int = {
    val heapCapMb: Long = maxMemory / 4 / width / (1024L * 1024)
    math.min(mb.toLong, math.max(4L, heapCapMb)).toInt
  }

  /** Fixed 32-partition Spark job, seconds. The mod keeps the ANSI sum
    * far from long overflow (50M × ±512). */
  def calSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 50000000L, 1, 32).selectExpr("sum(xxhash64(id) % 1024)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of 3 samples — JIT warmup lives in the discarded samples. */
  def cal3(f: () => Double): Double = Seq(f(), f(), f()).min

  /** 1-minute HOST load average (whole box, not container-scoped): the
    * round-12 isolated-dd4 adjudication showed the single-core [[calCpu]]
    * probe understates the penalty a 32-thread job pays against ~24
    * co-runnable threads (cal read 0.978 while host load was ~24/32) —
    * the two readings together describe the box state; either alone can
    * mislead. -1.0 if the platform exposes neither source. */
  def hostLoad(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }

  /** One-sample box-state stamp for per-stage lines: cpu probe + host
    * load, the pair every cross-state adjudication needs (VERDICT r12
    * #6 — the load reading existed only as a separate manual run). */
  def stamp(): String = f"cal=${calCpu()}%.2f load=${hostLoad()}%.1f"

  /** JSON string literal (same escaping Bench has always used). */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Persist an artifact to a repo-side file (atomic rename so a
    * concurrent reader never sees a torn write). Exists because two
    * rounds running, the driver's output-tail capture truncated
    * BENCH_rN.json and lost per-query numbers — the official artifact
    * must be corroborable from the repo file alone. */
  def persist(path: String, content: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.print(content) finally w.close()
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
