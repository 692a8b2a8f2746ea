package graft.linear

import graft.core.Rows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multiclass (softmax) logistic regression — the reference's
  * LogisticRegression is explicitly multiclass
  * (python/cuml/linear_model/logistic_regression.pyx:41-42, solver `qn`
  * with softmax loss when n_classes > 2): GradientSolver's QN with SoftmaxLoss.
  */
object Softmax {
  /** Fit a multinomial model; returns (coefRows, trainAccuracy).
    * coefRows: one row per (class, term) — pivoted coefficient matrix
    * plus per-class intercepts, deterministically ordered. */
  def fit(df: DataFrame, features: Seq[String], labelCol: String,
          maxIter: Int = 50): (DataFrame, Double) = {
    val spark = df.sparkSession
    import spark.implicits._
    // deterministic L-BFGS (fixed start and tol, sorted labels) → fit-once
    val (rows, acc) = graft.core.FitCache.getOrFit(graft.core.FitCache.key(df,
      "softmax_fit", features.mkString(","), labelCol, maxIter)) {
      val found = df.select(col(labelCol).cast("string")).distinct().collect().map(_.getString(0))
      require(!found.contains(null), s"null $labelCol label")
      val labels = found.sorted
      val (p, k) = (features.size, labels.length)
      val index = udf((s: String) => labels.indexOf(s).toDouble)
      val data = Rows.cached(df, features.map(col) :+ index(col(labelCol).cast("string")))
      try {
        val w = GradientSolver.qn(data, features, l2 = 0.0, maxIter, GradientSolver.SoftmaxLoss,
          tol = 1e-9, l1 = 0.0).coefs
        // train accuracy of the argmax (first wins ties), coefficients in the closure
        val (hits, n) = data.treeAggregate((0L, 0L))((a, r) => {
          val s = (0 until k).map(c =>
            w(c * (p + 1)) + (0 until p).map(i => r(i) * w(c * (p + 1) + i + 1)).sum)
          (if (s.indexOf(s.max) == r(p)) a._1 + 1 else a._1, a._2 + 1)
        }, (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
        (for {
          c <- labels.indices
          (term, j) <- ("intercept", -1) +: features.zipWithIndex
        } yield (labels(c), term, math.rint(w(c * (p + 1) + j + 1) * 10000) / 10000),
          hits.toDouble / n)
      } finally data.unpersist(blocking = false)
    }
    (rows.toDF("class", "term", "coef").orderBy("class", "term"), acc)
  }

  /** Softmax predict with a LITERAL coefficient matrix — pure column
    * expressions (codegen'd, zero shuffle until the caller aggregates):
    * per-class score s_c = b_c + w_c·x, predicted class = argmax, and
    * the winning softmax probability exp(s*)/Σexp(s_c). The SQL-oracle
    * twin of the fit's argmax, same shape as KMeansGraft.assign. */
  def predict(features: Seq[Column], classes: Seq[String],
              intercepts: Seq[Double], weights: Seq[Seq[Double]])
      : (Column, Column) = {
    require(classes.size == intercepts.size && classes.size == weights.size)
    val scores = scoreColumns(features, intercepts, weights)
    // CASE chain in class order (>= vs every LATER class): first class
    // wins exact ties — textually mirrorable in the SQL oracle
    val pred = classes.indices.init.foldRight(lit(classes.last): Column) { (c, acc) =>
      val cond = (c + 1 until classes.size).map(o => scores(c) >= scores(o)).reduce(_ && _)
      when(cond, lit(classes(c))).otherwise(acc)
    }
    // max-subtracted form: exp(s − sMax) stays in (0, 1], so large scores
    // (an unregularized fit on separable data) can't overflow to Inf/NaN
    val sMax = greatest(scores: _*)
    val pMax = lit(1.0) / scores.map(s => exp(s - sMax)).reduce(_ + _)
    (pred, pMax)
  }

  /** Per-class literal score columns s_c = b_c + w_c·x — the shared codegen
    * building block of predict and the metrics layer's log-loss. */
  def scoreColumns(features: Seq[Column],
                   intercepts: Seq[Double], weights: Seq[Seq[Double]]): Seq[Column] =
    intercepts.indices.map { c =>
      weights(c).zip(features).foldLeft(lit(intercepts(c)): Column) {
        case (acc, (w, f)) => acc + lit(w) * f
      }
    }
}
