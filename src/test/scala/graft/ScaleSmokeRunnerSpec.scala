package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** ScaleSmoke's stage runner on its own, without a Spark session: the one
  * failure path every smoke stage and bar goes through. */
class ScaleSmokeRunnerSpec extends AnyFunSuite {

  /** Run `f` and return the lines it printed. */
  private def printed(f: => Unit): Seq[String] = {
    val out = new ByteArrayOutputStream()
    val ps = new PrintStream(out, true, "UTF-8")
    Console.withOut(ps)(f)
    ps.flush()
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("a throwing stage prints <name> FAILED and the next stage still runs") {
    val run = new StageRunner
    val lines = printed {
      run.stage("boom stage") { throw new IllegalStateException("bad state") }
      run.stage("next stage") { "42 rows" }
    }
    assert(run.failed)
    assert(lines.head == "boom stage FAILED: IllegalStateException: bad state")
    assert(lines.size == 2)
    assert(lines(1).matches("""next stage {18} +\d+[.,]\d s  42 rows  load=-?\d+[.,]\d"""), lines(1))
  }

  test("a failed check sets failed, and its stage goes on to print its line first") {
    val run = new StageRunner
    var after = false
    val lines = printed {
      run.stage("barred stage") {
        run.check(ok = false, "recall 0.100 below the .80 bar")
        run.check(ok = true, "never printed")
        after = true
        "recall 0.100"
      }
    }
    assert(run.failed && after)
    assert(lines.size == 2)
    assert(lines.head.startsWith("barred stage") && lines.head.contains("s  recall 0.100  load="))
    assert(lines(1) == "recall 0.100 below the .80 bar")
  }

  test("withLake deletes its directory when the body returns and when it throws") {
    val run = new StageRunner
    def rootOf(lake: graft.lake.LakeClient): Path = Paths.get(lake.accountRoot.toUri.getPath)
    var kept: Path = null
    val got = run.withLake("runner-spec-ok", "fs") { lake =>
      kept = rootOf(lake)
      assert(Files.isDirectory(kept.resolve("fs")))
      "done"
    }
    assert(got == "done" && kept != null && !Files.exists(kept))

    var thrown: Path = null
    intercept[RuntimeException] {
      run.withLake("runner-spec-throw", "fs") { lake =>
        thrown = rootOf(lake)
        throw new RuntimeException("mid-stage")
      }
    }
    assert(thrown != null && !Files.exists(thrown))
    assert(!run.failed)
  }

  test("a run with no failure leaves failed false") {
    val run = new StageRunner
    val lines = printed {
      run.stage("quiet stage") { run.check(ok = true, "unused"); "1 rows" }
      run.note("a note is not a failure")
    }
    assert(!run.failed)
    assert(lines.size == 2 && lines(1) == "a note is not a failure")
  }
}
