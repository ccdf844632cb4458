package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Guards [[Bench]] against timing less than the query: under a
  * `count()` Catalyst prunes the output expressions of these queries
  * down to a parquet row count, so the timed plan must write every
  * column of the query's output. */
class BenchSpec extends AnyFunSuite with GraftSuite {
  private val dir = "/root/testdata/sf0.001"
  private val executed = new LinkedBlockingQueue[QueryExecution]()

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** The first write command executed after `executed` was cleared;
    * listener delivery is asynchronous but ordered. */
  private def nextWrite(): V2WriteCommand = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    var write: Option[V2WriteCommand] = None
    while (write.isEmpty) {
      val qe = executed.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
      assert(qe != null, "no write command reached the listener")
      write = qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w }
    }
    write.get
  }

  Seq("ta2_quality", "ta3_langid", "ta4_fingerprint", "ta7_repetition",
    "ta8_pii_scrub", "q24_json").foreach { name =>
    test(s"$name: the timed plan writes the query's full output") {
      val df = SparkEntry.queries(name)(spark, dir)
      executed.clear()
      Bench.materialize(df)
      val written = nextWrite().query.schema.map(f => f.name -> f.dataType)
      assert(written == df.schema.map(f => f.name -> f.dataType))
    }
  }
}
