package graft.decomposition

import breeze.linalg.{DenseMatrix, eigSym}
import graft.core.Rows
import graft.stats.Moments
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA / TruncatedSVD (reference python/cuml/decomposition/pca.pyx,
  * tsvd.pyx — cuML solves the p×p covariance/Gram eigenproblem on GPU).
  *
  * Spark-first: the n-dependent work is ONE fixed-order pass over the
  * primitive rows (of named columns, or of an array column's elements)
  * that folds n, the means and the centered co-moment
  * ([[graft.stats.Moments.of]]; no shuffle); the p×p eigensolve is
  * driver-side breeze — exact, and the right split at 100 TB
  * for p ≤ O(10³).
  */
object PCAGraft {
  /** The spectrum and components of a fit, and the column means it
    * centers at (zeros for TruncatedSVD, which does not center). */
  final case class Result(explainedVar: Array[Double], ratio: Array[Double],
                          components: DenseMatrix[Double], mean: Array[Double])

  def fitNarrow(df: DataFrame, features: Seq[String]): Result =
    fromMoments(Moments.of(Rows.of(df, features.map(col))))

  /** PCA over an array<float> column, from one [[Moments.of]] pass over its
    * primitive rows. */
  def fitWide(df: DataFrame, vecCol: String): Result =
    fromMoments(Moments.of(Rows.vectors(df, col(vecCol))))

  private def fromMoments(m: Moments): Result = fromCovariance(m.covariance, m.mean.toArray)

  /** PCA.transform for wide vectors (reference decomposition/pca.pyx
    * transform): project each row onto the top-k eigenvectors. The centering
    * collapses into a per-component scalar (score = v·w_c − μ·w_c), so the
    * projection is k codegen'd dot products — a pure map at any scale. */
  def transformWide(df: DataFrame, idCol: String, vecCol: String,
                    r: Result, k: Int): DataFrame = {
    val (means, dim) = (r.mean, r.mean.length)
    val v = col(vecCol).cast("array<double>")
    val outs = (0 until k).map { c =>
      val w = Array.tabulate(dim)(i => r.components(i, c))
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      (graft.core.VectorOps.dotFixed(v, lit(w)) - base).as(s"pc$c")
    }
    df.select((col(idCol).cast("long").as("id") +: outs): _*)
  }

  /** PCA.transform with whiten=True (reference decomposition/pca.pyx:235:
    * divide each score by its component's standard deviation so every
    * output dimension has unit variance and zero cross-correlation). Same
    * pure-map shape as [[transformWide]] with the 1/√λ_c factor folded
    * into the projection weights at plan-build time. */
  def transformWhitened(df: DataFrame, idCol: String, vecCol: String,
                        r: Result, k: Int): DataFrame = {
    val (means, dim) = (r.mean, r.mean.length)
    val v = col(vecCol).cast("array<double>")
    val outs = (0 until k).map { c =>
      // components beyond the effective rank (λ ≤ 0 up to eigensolver
      // noise) whiten to identically-zero scores instead of Inf/NaN
      val ev = r.explainedVar(c)
      val s = if (ev > 1e-12) 1.0 / math.sqrt(ev) else 0.0
      val w = Array.tabulate(dim)(i => r.components(i, c) * s)
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      (graft.core.VectorOps.dotFixed(v, lit(w)) - base).as(s"pc$c")
    }
    df.select((col(idCol).cast("long").as("id") +: outs): _*)
  }

  /** PCA inverse_transform quality (reference decomposition/pca.pyx
    * inverse_transform): per-row reconstruction MSE from the top-k
    * components. Uses the orthogonality identity ‖x − x̂‖² = ‖x − μ‖² −
    * Σ_c score_c², so the per-row expression is O(dim + k·dim) — one
    * codegen'd aggregate, no reconstruction materialized. */
  def reconstructionMse(df: DataFrame, vecCol: String, r: Result, k: Int): Double = {
    val (means, dim) = (r.mean, r.mean.length)
    val v = col(vecCol).cast("array<double>")
    val centered2 = (0 until dim).map { i =>
      val c = element_at(v, i + 1) - means(i)
      c * c
    }.reduce(_ + _)
    val scores2 = (0 until k).map { c =>
      val w = Array.tabulate(dim)(i => r.components(i, c))
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      val s = graft.core.VectorOps.dotFixed(v, lit(w)) - base
      s * s
    }.reduce(_ + _)
    df.agg(avg((centered2 - scores2) / dim)).head().getDouble(0)
  }

  def fromCovariance(cov: DenseMatrix[Double], mean: Array[Double]): Result = {
    val es = eigSym(cov)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2)
    val ev = order.map(es.eigenvalues(_))
    val tot = ev.sum
    val comps = DenseMatrix.tabulate(cov.rows, order.length) { (r, c) =>
      es.eigenvectors(r, order(c))
    }
    // sign convention: largest-|.| entry of each component is positive
    for (c <- 0 until comps.cols) {
      val colVec = comps(::, c)
      val m = (0 until comps.rows).maxBy(i => math.abs(colVec(i)))
      if (colVec(m) < 0) comps(::, c) := colVec * -1.0
    }
    Result(ev, ev.map(_ / tot), comps, mean)
  }
}

object TSVDGraft {
  /** The Gramian XᵀX of an array column's rows, from one [[Moments.of]] pass. */
  private def gramian(df: DataFrame, vecCol: String): DenseMatrix[Double] =
    Moments.of(Rows.vectors(df, col(vecCol))).gramian

  /** TruncatedSVD.transform (reference decomposition/tsvd.pyx): scores
    * along the top-k right singular vectors of X — PCA's projection
    * without centering, so it reuses PCAGraft.transformWide with a zero
    * mean vector. Right singular vectors = eigenvectors of the Gram
    * matrix (one pass + driver eigensolve). */
  def transform(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val g = gramian(df, vecCol)
    val r = PCAGraft.fromCovariance(g, new Array[Double](g.rows)) // eigensolve + sign convention
    PCAGraft.transformWide(df, idCol, vecCol, r, k)
  }

  /** Singular values of X via the Gram matrix X'X (one pass),
    * σ_i = sqrt(λ_i(X'X)) — cuML TruncatedSVD's Jacobi-on-Gram, re-split. */
  def singularValues(df: DataFrame, vecCol: String, k: Int): Array[Double] =
    eigSym(gramian(df, vecCol)).eigenvalues.toArray.sorted(Ordering[Double].reverse)
      .take(k).map(l => math.sqrt(math.max(l, 0.0)))
}

/** Random projection (reference python/cuml/random_projection/
  * random_projection.pyx): Gaussian / sparse matrices are generated
  * deterministically (md5-seeded Box–Muller), broadcast as literals, and
  * applied as codegen'd dot products — a pure map at any scale. */
object RandomProjection {
  def gaussianMatrix(inDim: Int, outDim: Int, seed: Long): Array[Array[Double]] =
    graft.neighbors.KNN.hyperplanes(outDim, inDim, seed)
      .map(_.map(_ / math.sqrt(outDim.toDouble)))

  /** Achlioptas sparse projection: entries in {-1, 0, +1}·sqrt(3/outDim)
    * with P = {1/6, 2/3, 1/6}, md5-derived. */
  def sparseMatrix(inDim: Int, outDim: Int, seed: Long): Array[Array[Double]] = {
    import java.security.MessageDigest
    def h(s: String): Long = {
      val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
    }
    val s3 = math.sqrt(3.0 / outDim)
    Array.tabulate(outDim, inDim) { (o, i) =>
      (h(s"sp_${seed}_${o}_$i") % 6).toInt match {
        case 0          => s3
        case 1          => -s3
        case _          => 0.0
      }
    }
  }

  /** `matrix · v` per row, each output rounded to 4 dp; NULL outputs for a
    * vector whose width differs from the matrix's, never a prefix sum. */
  def project(df: DataFrame, idCol: String, vecCol: String,
              matrix: Array[Array[Double]]): DataFrame = {
    val raw = col(vecCol).cast("array<double>")
    val v = when(size(raw) === matrix.headOption.fold(0)(_.length), raw)
    val outs = matrix.zipWithIndex.map { case (row, j) =>
      round(graft.core.VectorOps.dotFixed(v, lit(row)), 4).as(s"rp_$j")
    }
    df.select((col(idCol).cast("long").as("id") +: outs.toSeq): _*)
  }

  /** johnson_lindenstrauss_min_dim(n, eps) = ceil(4 ln n / (eps²/2 − eps³/3)). */
  def jlMinDim(nSamples: Long, eps: Double): Long =
    math.ceil(4.0 * math.log(nSamples.toDouble) /
      (eps * eps / 2.0 - eps * eps * eps / 3.0)).toLong
}
