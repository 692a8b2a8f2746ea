package graft.neighbors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-encoder-style reranking — the second stage of the standard
  * retrieve-then-rerank pipeline (bi-encoder recall, cross-encoder
  * precision; Nogueira & Cho 2019 shape). The first stage is the cheap
  * factorized score (cosine against the query — an inner product of
  * INDEPENDENT encodings, foldable to one literal dot); the reranker
  * scores each (query, candidate) pair JOINTLY — here a literal-weight
  * pairwise featurization over elementwise products AND absolute
  * differences, the deterministic engine-replayable stand-in for a
  * learned cross-encoder (|q−c| terms cannot be factorized into
  * independent encodings, which is exactly what makes a cross-encoder a
  * cross-encoder).
  *
  * Scale shape (the MMR discipline): the corpus-scale work is the
  * first-stage relevance scan + distributed top-N cut (TakeOrdered —
  * per-partition heaps, N-row merge); the joint scorer runs only on the
  * BOUNDED N-row pool, so its 2·dim-term expression never touches the
  * corpus. Unlike MMR's sequential greedy, reranking is per-row — the
  * whole second stage stays a distributed column expression. */
object Rerank {
  /** Top-`k` of the `topN` first-stage candidates by the joint score
    * λ-free rerank: ce = Σ_j wp_j·q_j·c_j + Σ_j wd_j·|q_j − c_j| with
    * md5-derived literal weights (seed rows 0/1). Returns
    * (rank, id, rel, ce_score); all scores on the 1e-6 grid. */
  def crossEncode(df: DataFrame, idCol: String, vecCol: String,
                  query: Array[Double], k: Int, topN: Int,
                  seed: Long): DataFrame = {
    val dim = query.length
    val w = KNN.hyperplanes(2, dim, seed)
    val qn = math.sqrt(query.map(x => x * x).sum)
    // first stage: the factorized cosine — ONE literal dot per row
    val rel = round(
      graft.core.VectorOps.dotFixed(col("v"), lit(query)) /
        (sqrt(graft.core.VectorOps.sqNormFixed(col("v"))) * qn), 6)
    val cand = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("rel", rel)
      .orderBy(col("rel").desc, col("id")).limit(topN)
    // joint scorer on the bounded pool: the product term folds to a
    // literal dot (wp∘q), the |q−c| term is the genuinely pairwise part
    val wpq = Array.tabulate(dim)(j => w(0)(j) * query(j))
    val prod = graft.core.VectorOps.dotFixed(col("v"), lit(wpq))
    val diff = (0 until dim).map(j =>
      lit(w(1)(j)) * abs(lit(query(j)) - element_at(col("v"), j + 1)))
      .reduce(_ + _)
    val scored = cand.withColumn("ce_score", round(prod + diff, 6))
    // bounded ≤topN-row frame: the unpartitioned window is declared fine
    val rk = row_number().over(org.apache.spark.sql.expressions.Window
      .orderBy(col("ce_score").desc, col("id")))
    scored.withColumn("rank", rk.cast("long")).filter(col("rank") <= k)
      .select(col("rank"), col("id"), col("rel"), col("ce_score"))
  }
}
