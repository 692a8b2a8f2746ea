package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Access to Spark's package-private codegen counters, for the specs. */
object Codegen {
  /** Generated classes compiled since the JVM started (a class served from
    * Spark's codegen cache is not compiled again). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Blocks until every listener event posted so far has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
