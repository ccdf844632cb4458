package perfbench

import java.lang.management.ManagementFactory
import graft.core.GraftSession
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Session, materialization and the traced run's Spark counters. */
object SparkKit {

  /** The engine's own session (local[nproc] outside spark-submit). */
  def session(): SparkSession = {
    val s = GraftSession.builder("perfbench").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs `body` `n` times, each in a fresh session that is stopped again
    * except after the last; returns the seconds of each and the session. */
  def repeatedSetup(n: Int)(body: SparkSession => Unit): (Seq[Double], SparkSession) = {
    var last: SparkSession = null
    val times = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      body(s)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < n) stop(s) else last = s
      dt
    }
    (times, last)
  }

  /** Order-independent fingerprint of a frame's rows: the row count, the
    * sum of the low 32 bits of each row's hash and the xor of the hashes.
    * Doubles are hashed at float precision, so a sum whose last bits depend
    * on the order partial aggregates were merged still matches. */
  def fingerprintExprs(schema: StructType): Seq[Column] = {
    val h = xxhash64(schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
    Seq(count(lit(1)).as("rows"), sum(h.bitwiseAND(lit(0xffffffffL))).as("lo_sum"),
      bit_xor(h).as("xor"))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case s: StructType =>
      struct(s.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** The timed materialization: the frame's full output goes to the `noop`
    * sink, with its fingerprint observed on the way. */
  def materialize(df: DataFrame): (Long, Long, Long) = {
    val obs = Observation("fingerprint")
    val exprs = fingerprintExprs(df.schema)
    df.observe(obs, exprs.head, exprs.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], Option(m("lo_sum")).fold(0L)(_.asInstanceOf[Long]),
      Option(m("xor")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Job, stage and task counters of the traced run. Attached only there. */
  final class CoreListener extends SparkListener {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var schedMs = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        val i = e.taskInfo
        val wait = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime
        schedMs += math.max(0L, wait)
      }
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Counts `core.*` over the body. GC time comes from the JVM's collector
    * beans: in local mode all tasks share the JVM, so per-task GC time
    * would count one pause once per running task. */
  final class CoreProbe(spark: SparkSession) {
    private val l = new CoreListener
    private var gc0 = 0L
    private var cg0 = 0L
    private var acc = Map.empty[String, Double]

    def start(): Unit = {
      SparkInternals.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      gc0 = gcMs
      cg0 = SparkInternals.codegenCompiles
    }

    def stop(): Unit = {
      SparkInternals.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      val now = Map(
        "core.jobs" -> l.jobs.toDouble, "core.stages" -> l.stages.toDouble,
        "core.tasks" -> l.tasks.toDouble, "core.task_cpu_s" -> l.cpuNs / 1e9,
        "core.gc_s" -> (gcMs - gc0) / 1e3, "core.sched_wait_s" -> l.schedMs / 1e3,
        "core.shuffle_write_mib" -> l.shuffleWrite / 1048576.0,
        "core.spill_mib" -> l.spill / 1048576.0,
        "core.codegen_compiles" -> (SparkInternals.codegenCompiles - cg0).toDouble)
      acc = now.map { case (k, v) => k -> (acc.getOrElse(k, 0.0) + v) }
      l.jobs = 0; l.stages = 0; l.tasks = 0; l.cpuNs = 0; l.schedMs = 0
      l.shuffleWrite = 0; l.spill = 0
    }

    /** Totals over all start/stop windows, divided by `per`. */
    def metrics(per: Int): Map[String, Double] = acc.map { case (k, v) => k -> v / per }
  }
}
