package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for UNBOUNDED iterative dataflows.
  *
  * Spark 4's `Dataset.localCheckpoint` carries the parent plan's
  * ESTIMATED statistics onto the checkpointed LogicalRDD
  * (`LogicalRDD.rewriteStatsAndConstraints`). Inside a loop of joins the
  * estimated sizeInBytes therefore MULTIPLIES round over round: with
  * three joins per round the BigInteger's bit-width grows 3^r, and by
  * round ~20 the driver spends minutes per round inside Toom-Cook
  * multiplication in `SizeInBytesOnlyStatsPlanVisitor` — observed
  * live-locking the sf1 bench's dbscan_3d connected-components stage.
  *
  * [[materialize]] truncates lineage the stats-free way: evaluate the
  * frame once into a persisted row RDD and rebuild the DataFrame from
  * it. The rebuilt LogicalRDD inherits NO statistics (planner default
  * only), so every round plans in constant time regardless of round
  * count. Fixed-round loops of ≤~10 rounds stay clear of the blowup
  * (64·k^10 bits is still cheap), so their per-round `localCheckpoint`s
  * (PageRank, HITS) are safe; a loop whose rounds stay co-partitioned needs
  * no per-round truncation at all — `ConnectedComponents.propagate` runs
  * its rounds as RDD rounds in one job and materializes once.
  */
object Iterate {
  /** A materialized loop-carried frame + the handle to free it. */
  final case class Step(df: DataFrame, rdd: RDD[Row]) {
    def unpersist(): Unit = rdd.unpersist(blocking = false)
  }

  def materialize(df: DataFrame): Step = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    Step(df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }
}
