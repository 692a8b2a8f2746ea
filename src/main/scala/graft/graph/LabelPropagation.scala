package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over an undirected graph (the
  * LabelPropagation/LabelSpreading family): seeded nodes keep their label;
  * every round each unseeded node adopts the MAJORITY label among its
  * currently-labeled neighbors (ties → smallest label), carrying its
  * previous label when no neighbor is labeled. A FIXED round count makes
  * the whole fit SQL-replayable as chained CTEs — the same discipline as
  * [[ConnectedComponents.propagate]].
  *
  * Scale shape: each round = one join of the edge list against the label
  * frame (shuffle keys: dst then src — uniform node ids) + one grouped
  * count + one per-node argmax window (partitioned by node, never global).
  * localCheckpoint truncates lineage so k rounds stay k join stages.
  */
object LabelPropagation {

  /** @param nodes (node: long, seed: nullable long)
    * @param edges (src, dst) one row per undirected edge */
  def propagate(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val dir = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var lab = nodes.select(col("node").cast("long").as("node"),
      col("seed").cast("long").as("seed"), col("seed").cast("long").as("lab"))
    (0 until rounds).foreach { _ =>
      val cnt = dir
        .join(lab.select(col("node").as("dst"), col("lab").as("_nl"))
          .filter(col("_nl").isNotNull), "dst")
        .groupBy(col("src").as("node"), col("_nl"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("node")).orderBy(col("_c").desc, col("_nl"))
      val best = cnt.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).select(col("node"), col("_nl").as("_best"))
      lab = lab.join(best, Seq("node"), "left")
        .select(col("node"), col("seed"),
          coalesce(col("seed"), coalesce(col("_best"), col("lab"))).as("lab"))
        .localCheckpoint(true)
    }
    lab
  }
}
