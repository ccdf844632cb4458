package perfbench

import graft.SparkEntry
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Guards the benchmark against timing less than the query: under a
  * `count()` Catalyst prunes a query's output expressions, so the timed
  * plan must write every column of the query's output. */
class TimedPlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "fixtures/sf0.01"
  private val writes = ArrayBuffer.empty[QueryExecution]

  override def beforeAll(): Unit = {
    spark = SparkKit.session()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        writes.synchronized(writes += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  override def afterAll(): Unit = SparkKit.stop(spark)

  test("the query-suite set names registered queries, each once") {
    assert(QuerySuite.Queries.distinct == QuerySuite.Queries)
    assert(QuerySuite.Queries.forall(SparkEntry.queries.contains))
  }

  QuerySuite.Queries.foreach { name =>
    test(s"$name: the timed plan writes the query's full output") {
      val df = SparkEntry.queries(name)(spark, dir)
      writes.synchronized(writes.clear())
      val (rows, _, _) = SparkKit.materialize(df)
      SparkInternals.drainListenerBus(spark.sparkContext)
      val write = writes.synchronized(writes.toList).flatMap(_.optimizedPlan.collectFirst {
        case w: V2WriteCommand => w
      })
      assert(write.size == 1, s"expected one write of $name, saw ${write.size}")
      val written = write.head.query.schema.map(f => f.name -> f.dataType)
      assert(written == df.schema.map(f => f.name -> f.dataType))
      assert(rows == df.count())
    }
  }
}
