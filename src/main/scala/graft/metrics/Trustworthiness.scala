package graft.metrics

import graft.core.VectorOps
import graft.neighbors.KNN
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trustworthiness (reference python/cuml/metrics/trustworthiness.pyx):
  * T(k) = 1 − 2/(n·k·(2n−3k−1)) · Σ_i Σ_{j∈U_k(i)} (r(i,j) − k)
  * where U_k(i) = embedded-space kNN of i that are NOT original-space kNN,
  * and r(i,j) = original-space rank of j from i.
  *
  * Distributed shape: both kNN passes are broadcast-product scans; the
  * original-space rank table is a window over (qid) — an evaluation metric
  * run on a sample (as cuML does on-GPU with the full matrix). */
object Trustworthiness {
  def compute(orig: DataFrame, emb: DataFrame, idCol: String,
              origVec: String, embVec: String, k: Int): DataFrame = {
    val n = orig.count()
    val o = orig.select(col(idCol).cast("long").as("qid"),
      col(origVec).cast("array<double>").as("ov"))
    val o2 = o.select(col("qid").as("id"), col("ov").as("ov2"))
    // full original-space rank table on the sample
    val w = Window.partitionBy(col("qid")).orderBy(col("_d").asc, col("id").asc)
    val ranks = o.join(o2, col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        VectorOps.sqDistFixed(col("ov"), col("ov2")).as("_d"))
      .withColumn("r", row_number().over(w))
      .select(col("qid"), col("id"), col("r"))
    val embK = KNN.bruteForce(emb, emb, idCol, idCol, embVec, embVec, k,
      KNN.Euclidean, excludeSelf = true).select(col("qid"), col("id"))
    val penalty = embK.join(ranks, Seq("qid", "id"))
      .select(greatest(col("r") - k, lit(0)).cast("double").as("p"))
      .agg(coalesce(sum(col("p")), lit(0.0)).as("sp")).head().getDouble(0)
    val t = 1.0 - 2.0 / (n.toDouble * k * (2.0 * n - 3.0 * k - 1.0)) * penalty
    val spark = orig.sparkSession
    import spark.implicits._
    Seq((n, k.toLong, t)).toDF("n", "k", "_t")
      .select(col("n"), col("k"), round(col("_t"), 4).as("trustworthiness"))
  }
}
