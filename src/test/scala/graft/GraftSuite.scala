package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import graft.core.GraftSession

/** A suite that runs on the production session config: one
  * [[GraftSession.builder]] session per suite (local[4], 4 shuffle
  * partitions, a temporary warehouse dir for `saveAsTable`), stopped
  * after the suite. Suites that add set-up or tear-down override
  * `beforeAll`/`afterAll` and call `super`; a tear-down that must run
  * on a live session (cache clears) goes before `super.afterAll()`. */
trait GraftSuite extends BeforeAndAfterAll { this: Suite =>

  private lazy val warehouse: Path = Files.createTempDirectory("graft-warehouse")

  protected lazy val spark: SparkSession =
    GraftSession.builder(suiteName, "local[4]", 4)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()

  override protected def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      spark.stop()
      FileUtils.deleteDirectory(warehouse.toFile)
    }
}
