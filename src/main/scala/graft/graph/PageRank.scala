package graft.graph

import graft.core.Num.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over a directed edge list — the
  * crawl-prioritization / source-importance operator of a training-data
  * pipeline (which hosts to crawl deeper, which sources dominate a mix).
  *
  * Power iteration with a FIXED round count and per-round dangling-mass
  * redistribution:
  *   r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)/outdeg(u) + dangling/N )
  * Every round is one join on the src key + one grouped sum on the dst key
  * (shuffle keys = node ids, AQE handles hub skew); the dangling mass is a
  * 1-row aggregate broadcast into the next round. k rounds stay k shuffle
  * rounds via localCheckpoint lineage truncation — the same discipline as
  * [[ConnectedComponents]]. The fixed count makes the computation exactly
  * replayable as chained SQL CTEs.
  */
object PageRank {
  /** `edges`: (srcCol, dstCol) string node ids, already deduplicated.
    * Returns (node, rank) with Σ rank = 1. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          rounds: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    val n = nodes.count().toDouble
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("_deg"))
      .withColumnRenamed("src", "node").localCheckpoint(true)
    // the dangling node SET is static — detect emptiness ONCE so graphs
    // with full out-degree (e.g. bidirectional edges) skip the per-round
    // dangling-mass job entirely
    val danglingNodes = nodes.join(deg, Seq("node"), "left_anti").localCheckpoint(true)
    val hasDangling = danglingNodes.limit(1).count() > 0
    var rank = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (r <- 0 until rounds) {
      val dangling = if (hasDangling)
        rank.join(danglingNodes, "node")
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      else 0.0
      val contribs = e.join(rank.join(deg, "node")
            .select(col("node").as("src"), (col("rank") / col("_deg")).as("_share")),
          "src")
        .groupBy(col("dst").as("node")).agg(sum(col("_share")).as("_in"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("_in"), lit(0.0)) + lit(dangling / n))).as("rank"))
      // checkpoint every OTHER round (the ConnectedComponents cadence):
      // two fused rounds run in one job with the same shuffle volume and
      // half the materialization/scheduling overhead. With dangling mass
      // the per-round aggregate is an action on `rank`, so fusing would
      // re-execute the unchecked round — keep per-round cadence there.
      if (hasDangling || r % 2 == 1 || r == rounds - 1)
        rank = rank.localCheckpoint(true)
    }
    rank.select(col("node"), r6(col("rank")).as("rank"))
  }
}
