package graft.neighbors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
  * 1998) — the standard diversification step between "top-k most similar"
  * and "what a RAG context window actually wants": greedily pick the
  * candidate maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading
  * query relevance against redundancy with what is already selected.
  *
  * Scale shape: the corpus-scale work is the relevance scan + the top-N
  * candidate cut, a distributed TakeOrdered (per-partition heaps, N-row
  * driver merge). The greedy loop is inherently sequential and runs on
  * the BOUNDED N-row candidate set on the driver — the same
  * bounded-by-construction split as the PQ codebook train. All score
  * comparisons happen on the shared 1e-6 grid so the selection replays
  * engine-neutrally. */
object MMR {
  /** Diversified top-`k` of `df` against the literal `query` vector from
    * the `topN`-candidate pool. Returns (rank, id, rel, mmr_score) —
    * rank 1's mmr_score is its pure relevance. */
  def diversify(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Double], k: Int, topN: Int,
                lambda: Double): DataFrame = {
    val spark = df.sparkSession
    val qn = math.sqrt(query.map(x => x * x).sum)
    val rel = round(
      graft.core.VectorOps.dotFixed(col("v"), lit(query)) /
        (sqrt(graft.core.VectorOps.sqNormFixed(col("v"))) * qn), 6)
    val cand = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("rel", rel)
      .orderBy(col("rel").desc, col("id")).limit(topN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def r6d(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      r6d(d / math.sqrt(na * nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    while (selected.length < k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, r) =>
        val maxSim = if (selected.isEmpty) 0.0
          else selected.map(s => cos(v, cand.find(_._1 == s._1).get._2)).max
        val score = if (selected.isEmpty) r
          else r6d(lambda * r - (1 - lambda) * maxSim)
        (id, r, score)
      }
      val best = scored.sortBy { case (id, _, sc) => (-sc, id) }.head
      selected += best
      remaining --= remaining.filter(_._1 == best._1)
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, r, sc), i) => (i + 1L, id, r, sc) }
      .toDF("rank", "id", "rel", "mmr_score")
  }
}
