package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two package-private hooks the benchmark's traced run reads. */
object PerfbenchShim {
  /** Blocks until every event posted so far has reached every listener, so
    * counts read afterwards are complete without sleeping.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled in this JVM so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
