package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.Rows
import org.apache.spark.rdd.RDD

/** The one-pass sufficient statistics of the closed-form fits (OLS, Ridge,
  * Lasso/ElasticNet, PCA, TruncatedSVD): the row count n, the column means
  * μ and the centered co-moment C = Σ(x−μ)(x−μ)ᵀ. The sample covariance is
  * C/(n−1) and the Gramian XᵀX is C + n·μμᵀ.
  *
  * The Spark-first replacement for the reference's GPU normal-equation
  * kernels (reference cpp/src/glm/ols.h: svd/eig/qr solve of X'X): p is
  * the column count (small), so the p×p statistics collapse to one
  * partial per partition regardless of n, and the solve runs on the
  * driver.
  */
final case class Moments(n: Long, mean: DenseVector[Double], comoment: DenseMatrix[Double]) {
  def p: Int = mean.length

  /** Sample covariance C/(n−1). */
  def covariance: DenseMatrix[Double] = {
    require(n > 1, s"covariance of $n rows")
    comoment / (n - 1).toDouble
  }

  /** The uncentered Gramian XᵀX = C + n·μμᵀ. */
  def gramian: DenseMatrix[Double] = comoment + (mean * mean.t) * n.toDouble
}

object Moments {
  /** [[Moments]] of the rows in one pass: Welford's update per row, Chan et
    * al.'s merge across partitions. The partials merge in partition order
    * ([[Rows.fold]]), so the same rows give the same statistics bit for
    * bit. A partial is [n, μ(0..d−1), C (d×d, row-major, upper triangle)];
    * an empty partition's is empty. */
  def of(rows: RDD[Array[Double]]): Moments = {
    val a = Rows.fold(rows) { (_, it) =>
      var a = Array.emptyDoubleArray
      var d = 0
      var dx = Array.emptyDoubleArray
      it.foreach { x =>
        if (a.isEmpty) { d = x.length; a = new Array[Double](1 + d + d * d); dx = new Array[Double](d) }
        require(x.length == d, s"row of ${x.length} columns, expected $d")
        a(0) += 1
        var i = 0
        while (i < d) { dx(i) = x(i) - a(1 + i); a(1 + i) += dx(i) / a(0); i += 1 }
        i = 0
        while (i < d) {
          var j = i
          while (j < d) { a(1 + d + i * d + j) += dx(i) * (x(j) - a(1 + j)); j += 1 }
          i += 1
        }
      }
      a
    } { (a, b) =>
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length, "rows of different lengths")
        val d = width(a)
        val (na, nb) = (a(0), b(0))
        val nt = na + nb
        val dm = Array.tabulate(d)(j => b(1 + j) - a(1 + j))
        for (i <- 0 until d; j <- i until d) {
          val o = 1 + d + i * d + j
          a(o) += b(o) + dm(i) * dm(j) * na * nb / nt
        }
        for (j <- 0 until d) a(1 + j) += dm(j) * nb / nt
        a(0) = nt
        a
      }
    }
    require(a.nonEmpty, "Moments.of: no rows")
    val d = width(a)
    Moments(a(0).toLong, DenseVector(a.slice(1, 1 + d)),
      DenseMatrix.tabulate(d, d)((i, j) => a(1 + d + math.min(i, j) * d + math.max(i, j))))
  }

  /** d of a partial of 1 + d + d² elements. */
  private def width(a: Array[Double]): Int = (math.sqrt(4.0 * a.length - 3).round.toInt - 1) / 2
}
