package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the traced run reads: draining the listener bus
  * before counters are read, and the codegen compile counter. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of generated-code compilations so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
