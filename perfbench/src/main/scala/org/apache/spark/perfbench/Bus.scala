package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Access to what Spark keeps package-private. */
object Bus {
  /** A pass's counters are read only after every event it caused has been
    * delivered to the benchmark's listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled since the JVM started. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
