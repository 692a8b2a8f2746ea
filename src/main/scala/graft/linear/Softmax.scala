package graft.linear

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multiclass (softmax) logistic regression — the reference's
  * LogisticRegression is explicitly multiclass
  * (python/cuml/linear_model/logistic_regression.pyx:41-42, solver
  * `qn` with softmax loss when n_classes > 2). MLlib's multinomial
  * family is the same model; the fit is its distributed L-BFGS.
  */
object Softmax {
  /** Fit a multinomial model; returns (coefRows, trainAccuracy).
    * coefRows: one row per (class, term) — pivoted coefficient matrix
    * plus per-class intercepts, deterministically ordered. */
  def fit(df: DataFrame, features: Seq[String], labelCol: String,
          maxIter: Int = 50): (DataFrame, Double) = {
    val spark = df.sparkSession
    import spark.implicits._
    // deterministic L-BFGS (fixed start/tol, alphabet-sorted labels) →
    // fit-once
    val (rows, acc) = graft.core.FitCache.getOrFit(graft.core.FitCache.key(df,
      "softmax_fit", features.mkString(","), labelCol, maxIter)) {
      fitRows(df, features, labelCol, maxIter)
    }
    (rows.toDF("class", "term", "coef").orderBy("class", "term"), acc)
  }

  /** The fitted coefficient rows (class, term, coef) and train accuracy. */
  private def fitRows(df: DataFrame, features: Seq[String], labelCol: String,
                      maxIter: Int): (Seq[(String, String, Double)], Double) = {
    val labels = df.select(col(labelCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val idx = labels.zipWithIndex.toMap
    val toIdx = udf((s: String) => idx(s).toDouble)
    val prepared = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("_fv")
      .transform(df.select((features.map(c => col(c).cast("double").as(c)) :+
        toIdx(col(labelCol).cast("string")).as("_y")): _*))
    val m = new LogisticRegression().setFeaturesCol("_fv").setLabelCol("_y")
      .setFamily("multinomial").setMaxIter(maxIter).setRegParam(0.0)
      .setTol(1e-9).fit(prepared)
    val cm = m.coefficientMatrix
    val iv = m.interceptVector
    val rows = for {
      c <- labels.indices
      (term, j) <- ("intercept", -1) +: features.zipWithIndex
    } yield (labels(c), term,
      math.rint((if (j < 0) iv(c) else cm(c, j)) * 10000) / 10000)
    val acc = m.transform(prepared)
      .select(avg(when(col("prediction") === col("_y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    (rows, acc)
  }

  /** Softmax predict with a LITERAL coefficient matrix — pure column
    * expressions (codegen'd, zero shuffle until the caller aggregates):
    * per-class score s_c = b_c + w_c·x, predicted class = argmax, and
    * the winning softmax probability exp(s*)/Σexp(s_c). The SQL-oracle
    * twin of MLlib's predict, same shape as KMeansGraft.assign. */
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
