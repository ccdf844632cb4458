package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, TestSuite}
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}
import org.scalatest.time.{Minutes, Span}
import graft.core.GraftSession

/** A suite that runs on the production session config: one
  * [[GraftSession.builder]] session per suite (local[4], 4 shuffle
  * partitions, a temporary warehouse dir for `saveAsTable`), stopped
  * after the suite. Suites that add set-up or tear-down override
  * `beforeAll`/`afterAll` and call `super`; a tear-down that must run
  * on a live session (cache clears) goes before `super.afterAll()`.
  *
  * Each test has [[timeLimit]]: past it, the suite's running Spark jobs
  * are cancelled and the test thread interrupted, so a hung test fails
  * under its own name and the next test runs. */
trait GraftSuite extends BeforeAndAfterAll with TimeLimitedTests { this: TestSuite =>

  private lazy val warehouse: Path = Files.createTempDirectory("graft-warehouse")

  protected lazy val spark: SparkSession =
    GraftSession.builder(suiteName, "local[4]", 4)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()

  override def timeLimit: Span = Span(10, Minutes)

  override val defaultTestSignaler: Signaler = (testThread: Thread) => {
    spark.sparkContext.cancelAllJobs()
    testThread.interrupt()
  }

  override protected def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    // SQL jobs interrupt their tasks on cancel already; this makes the
    // suite thread's RDD jobs do so too, so a cancelled job frees its cores
    spark.sparkContext.setInterruptOnCancel(true)
    super.beforeAll()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      spark.stop()
      FileUtils.deleteDirectory(warehouse.toFile)
    }
}
