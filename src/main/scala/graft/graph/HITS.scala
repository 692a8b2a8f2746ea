package graft.graph

import graft.core.Num.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kleinberg's HITS (hubs & authorities) over a bipartite edge list — the
  * second fixed-round centrality beside [[PageRank]]: which buyers are
  * broad "hub" customers and which products are consensus "authorities"
  * (in a crawl pipeline: which index pages concentrate links vs which
  * content pages accumulate them).
  *
  * Fixed-round mutual reinforcement with per-round max-normalization:
  *   a(p) = Σ_{c→p} h(c) / max,   h(c) = Σ_{c→p} a(p) / max
  * Each half-round is ONE join on one node key + ONE grouped sum on the
  * other (shuffle keys = node ids, AQE for hub skew); k rounds stay 2k
  * shuffle rounds via localCheckpoint lineage truncation. The per-round
  * max is a 1-row aggregate (the PageRank dangling-mass pattern — bounded
  * driver state). The fixed count makes the computation exactly
  * replayable as chained SQL CTEs; ranks are ROUNDED before the top-k
  * selection so the cross-engine ordering decision is stable.
  */
object HITS {
  /** Returns (kind ∈ {hub, authority}, node, score, rank) — top `topK`
    * per kind by (rounded score desc, node). */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          rounds: Int, topK: Int): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct().localCheckpoint(true)
    var hub = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("h"))
    var auth: DataFrame = null
    for (_ <- 0 until rounds) {
      // checkpoint the join+sum FIRST: the max aggregate and the
      // normalized view then both read the materialized rows — computing
      // the max off the raw lineage would run the expensive half-round
      // twice (once for the action, once for the checkpoint)
      val a0 = e.join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("_a"))
        .localCheckpoint(true)
      val amax = a0.agg(max(col("_a"))).head().getDouble(0)
      auth = a0.select(col("node"), (col("_a") / lit(amax)).as("a"))
      val h0 = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("_h"))
        .localCheckpoint(true)
      val hmax = h0.agg(max(col("_h"))).head().getDouble(0)
      hub = h0.select(col("node"), (col("_h") / lit(hmax)).as("h"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind")).orderBy(col("score").desc, col("node"))
    hub.select(lit("hub").as("kind"), col("node"), r6(col("h")).as("score"))
      .unionAll(auth.select(lit("authority").as("kind"), col("node"), r6(col("a")).as("score")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }
}
