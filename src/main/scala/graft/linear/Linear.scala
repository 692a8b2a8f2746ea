package graft.linear

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.Rows
import graft.stats.Moments
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Linear-model family solved from one-pass sufficient statistics.
  *
  * Reference surface: cuml.LinearRegression / Ridge / Lasso / ElasticNet
  * (reference python/cuml/linear_model/, C++ solvers
  * reference cpp/src/glm/ols.h, ridge.h, cpp/src/solver/cd.h).
  * Spark-first: the data-size-dependent work is one fixed-order pass over
  * the rows that folds n, the means and the centered co-moments
  * (Moments.of); the p×p solve / coordinate-descent sweeps run on the
  * driver, which is exact and optimal for p ≪ n — the regime of
  * every tabular fit here and of a 100 TB fit with bounded feature count.
  */
final case class LinearModel(terms: Seq[String], coefs: Seq[Double]) {
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    terms.zip(coefs).toDF("term", "coef")
  }
}

/** The closed-form fits' one pass: n, μ and the centered co-moment C of
  * the features, then the label ([[Moments.of]] over their rows; a null
  * fails it). `slopes` solves for w from C_xx, C_xy and n on the driver;
  * the intercept is b = μ_y − μ_x·w. */
private object CenteredFit {
  def apply(df: DataFrame, features: Seq[String], label: String)(
      slopes: (DenseMatrix[Double], DenseVector[Double], Long) => DenseVector[Double]): LinearModel = {
    val m = Moments.of(Rows.of(df, (features :+ label).map(col)))
    val p = features.size
    val w = slopes(m.comoment(0 until p, 0 until p).copy, m.comoment(0 until p, p).copy, m.n)
    val intercept = m.mean(p) - (0 until p).map(i => w(i) * m.mean(i)).sum
    LinearModel("intercept" +: features, intercept +: w.toArray.toSeq)
  }
}

object OLS {
  /** Ordinary least squares with intercept: w = C_xx⁻¹C_xy. */
  def fit(df: DataFrame, features: Seq[String], label: String): LinearModel =
    CenteredFit(df, features, label)((cxx, cxy, _) => cxx \ cxy)
}

object Ridge {
  /** Ridge with intercept; the intercept is not penalized (matches
    * sklearn/cuML semantics: center, solve, restore intercept). */
  def fit(df: DataFrame, features: Seq[String], label: String, lambda: Double): LinearModel =
    CenteredFit(df, features, label) { (cxx, cxy, _) =>
      (cxx + DenseMatrix.eye[Double](features.size) * lambda) \ cxy
    }
}

/** Coordinate descent on the Gram matrix — cuML's CD solver
  * (reference cpp/src/solver/cd.h) re-expressed: the cluster computes the
  * co-moments once; each CD sweep is O(p²) driver-side arithmetic, so
  * iteration count never touches the data again. Objective (cuML/sklearn
  * form):
  *   1/(2n)·||y−Xb||² + α·l1_ratio·||b||₁ + α·(1−l1_ratio)/2·||b||².
  */
object CoordinateDescent {
  def fit(df: DataFrame, features: Seq[String], label: String,
          alpha: Double, l1Ratio: Double, iters: Int = 200): LinearModel =
    CenteredFit(df, features, label) { (cxx, cxyN, n) =>
      val p = features.size
      val (cg, cxy) = (cxx / n.toDouble, cxyN / n.toDouble)
      val l1 = alpha * l1Ratio
      val l2 = alpha * (1.0 - l1Ratio)
      val b = DenseVector.zeros[Double](p)
      def soft(z: Double, t: Double): Double =
        math.signum(z) * math.max(math.abs(z) - t, 0.0)
      var it = 0
      while (it < iters) {
        var j = 0
        while (j < p) {
          val rho = cxy(j) - ((cg(j, ::) * b) - cg(j, j) * b(j))
          b(j) = if (cg(j, j) + l2 == 0.0) 0.0 else soft(rho, l1) / (cg(j, j) + l2)
          j += 1
        }
        it += 1
      }
      b
    }
}

object Lasso {
  def fit(df: DataFrame, features: Seq[String], label: String, alpha: Double): LinearModel =
    CoordinateDescent.fit(df, features, label, alpha, 1.0)
}

object ElasticNet {
  def fit(df: DataFrame, features: Seq[String], label: String,
          alpha: Double, l1Ratio: Double): LinearModel =
    CoordinateDescent.fit(df, features, label, alpha, l1Ratio)
}
