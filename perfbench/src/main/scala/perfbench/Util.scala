package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Order statistics used by every workload. Percentiles are nearest-rank,
  * so a reported value is always one that was actually measured. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Readings of the host and of this JVM, taken from /proc so that a run
  * can be judged for contention afterwards. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg: Seq[Double] =
    read("/proc/loadavg").split("\\s+").take(3).map(_.toDouble).toSeq

  /** Peak resident set (VmHWM) of this process, MiB. */
  def peakRssMib: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** System CPU of this process plus its reaped children, seconds
    * (stime + cstime of /proc/self/stat, in USER_HZ = 100 ticks/s). */
  def sysCpuS: Double = {
    val fields = read("/proc/self/stat").split("\\) ", 2)(1).split(' ')
    (fields(12).toLong + fields(14).toLong) / 100.0
  }

  /** A fixed single-thread integer loop, best of three, seconds. It reads
    * higher when another process competes for this core. */
  def cpuProbeS: Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42) println("") // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e9
  }.min

  /** CPU time the hypervisor gave to others while this VM wanted it, all
    * CPUs, seconds since boot (the steal column of /proc/stat). */
  def stealS: Double =
    read("/proc/stat").linesIterator.next().split("\\s+")(8).toDouble / 100.0

  def snapshot(): Map[String, Any] = Map(
    "nproc" -> nproc, "loadavg" -> loadAvg, "cpu_probe_s" -> cpuProbeS,
    "steal_s" -> stealS, "unix_ms" -> System.currentTimeMillis())

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
}

/** Minimal JSON writer for the result line and the run artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => s"${quote(k)}:${apply(x)}" }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Directory trees on the local disk. */
object Dirs {
  /** Total bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
