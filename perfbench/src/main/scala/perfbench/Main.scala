package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Counts operations and the ones that failed or returned a wrong result.
  * `failed / attempted` is the op failure ratio of a run. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** Records `ok` as the outcome of one more attempted operation. */
  def expect(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }
}

/** What a workload measured. Times are seconds except the latencies, in
  * milliseconds. `passes` holds each measured pass: its wall time and the
  * mean latency of each kind of operation in it. `callMs` holds every
  * measured call's latency, by kind. */
final case class Outcome(
    checks: Checks,
    setupS: Seq[Double],
    firstPassS: Double,
    passes: Seq[(Double, Map[String, Double])],
    callMs: Map[String, Seq[Double]],
    layers: Map[String, Double],
    info: Map[String, Any])

final case class RunArgs(workload: String, seed: Long, seconds: Int, traced: Boolean,
                         work: Path, artifact: Path, fingerprints: Path, data: Path) {
  /** Measured passes of a workload whose warm pass takes about `nominalS`:
    * fixed for given `--seconds`, so every run does the same work. At
    * least `atLeast`, so that a best and a median pass are picked from
    * several. */
  def passes(nominalS: Double, atLeast: Int = 4): Int =
    math.max(atLeast, math.round(seconds / nominalS).toInt)
}

/** Entry point of the benchmark JVM.
  *
  *   perfbench.Main --workload <lake-ops|lake-pipeline|query-suite> --seed <n>
  *     --seconds <s> --trace <0|1> --work <scratch dir> --artifact <file>
  *     --fingerprints <file> --data <fixture dir>
  *
  * The last line of standard output is the run's result object. A run that
  * sees any failed or wrong operation exits with status 1. */
object Main {
  val Workloads = Seq("lake-ops", "lake-pipeline", "query-suite")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startHost = Host.snapshot()
    val tracer = new Tracer(a.traced, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    Files.createDirectories(a.work)
    val out = a.workload match {
      case "lake-ops" => LakeOps.run(a, tracer)
      case "lake-pipeline" => LakePipeline.run(a, tracer)
      case "query-suite" => QuerySuite.run(a, tracer)
    }
    val endHost = Host.snapshot()
    val c = out.checks
    // the best measured pass, and each kind's best per-pass mean: a
    // co-tenant on the host only ever adds time
    val kinds = out.passes.flatMap(_._2.keys).distinct
    val endToEnd = Map(
      "setup_s" -> Stats.median(out.setupS),
      "peak_rss_mib" -> Host.peakRssMib,
      "first_pass_s" -> out.firstPassS,
      "pass_s" -> out.passes.map(_._1).min,
      "op_geomean_ms" -> Stats.geomean(kinds.map(k => out.passes.flatMap(_._2.get(k)).min)))
    val metrics = if (a.traced) out.layers else endToEnd
    val correct = c.failed == 0 && c.attempted > 0
    val artifact = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced, "run_id" -> tracer.runId,
      "host_start" -> startHost, "host_end" -> endHost,
      "correct" -> correct, "attempted" -> c.attempted, "failed" -> c.failed,
      "op_fail_ratio" -> c.failed.toDouble / math.max(1L, c.attempted),
      "failures" -> c.failures.toSeq,
      "setup_samples_s" -> out.setupS, "pass_samples_s" -> out.passes.map(_._1),
      "pass_op_ms" -> out.passes.map(_._2),
      "op_ms" -> out.callMs.map { case (k, xs) => k -> Map(
        "samples" -> xs.size, "p50" -> Stats.percentile(xs, 50), "p90" -> Stats.percentile(xs, 90),
        "p99" -> Stats.percentile(xs, 99)) },
      "end_to_end" -> endToEnd, "per_layer" -> out.layers,
      "span_summary" -> tracer.summary) ++ out.info
    Files.createDirectories(a.artifact.getParent)
    write(a.artifact, Json(artifact) + "\n")
    if (a.traced) write(Paths.get(a.artifact.toString.stripSuffix(".json") + ".spans.json"), tracer.toJson)
    c.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    println(Json(Map(
      "correct" -> correct, "attempted" -> c.attempted, "failed" -> c.failed,
      "metrics" -> metrics)))
    System.out.flush()
    // Spark and Hadoop leave non-daemon threads behind; end the JVM here.
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  private def parse(argv: Array[String]): RunArgs = {
    def value(flag: String): Option[String] = {
      val i = argv.indexOf(flag)
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    def need(flag: String): String =
      value(flag).getOrElse(usage(s"missing $flag"))
    val w = need("--workload")
    if (!Workloads.contains(w)) usage(s"unknown workload $w")
    val trace = need("--trace")
    if (trace != "0" && trace != "1") usage("--trace must be 0 or 1")
    RunArgs(w, need("--seed").toLong, need("--seconds").toInt, trace == "1",
      Paths.get(need("--work")).toAbsolutePath, Paths.get(need("--artifact")).toAbsolutePath,
      Paths.get(need("--fingerprints")).toAbsolutePath, Paths.get(need("--data")).toAbsolutePath)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <w> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir> --artifact <file> --fingerprints <file> --data <dir>")
    sys.exit(2)
  }
}
