package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads Spark's package-private codegen counter for the tests. */
object CodegenShim {
  /** Generated classes compiled in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
