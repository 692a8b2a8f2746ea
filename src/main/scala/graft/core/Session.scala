package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one way graft builds a session. Bench, Verify, every dev tool and
  * the spec session go through [[local]], so the configuration the specs
  * and the oracle check at local[N] is the one the bench measures. */
object Session {
  /** Worker threads: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cpus] with one shuffle partition per thread, AQE on (Spark's
    * default), no UI. The session time zone is pinned UTC and legacy
    * TIMESTAMP(NANOS) parquet reads as Long, the two forms
    * [[Tables.events]] normalizes. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // breeze's L-BFGS logs line-search resets at WARN on every
    // hw_fit_opt/arima_fit_bfgs evaluation — expected optimizer
    // behavior, so keep it out of the log where it buries real errors
    Configurator.setLevel("breeze.optimize", Level.ERROR)
    // every remaining "No Partition Defined for Window" warning comes from
    // a DECLARED bounded summary frame (≤P-row Ranks partition offsets,
    // decile/λ-grid frames) — a foldable partitionBy(lit(0)) would be
    // optimized away by EliminateWindowPartitions, so the category is
    // silenced instead; data-scale SinglePartition windows stay impossible
    // via the PlanSpec gates, which is the stronger protection
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
