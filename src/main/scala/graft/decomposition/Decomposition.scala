package graft.decomposition

import breeze.linalg.{DenseMatrix, eigSym}
import graft.core.Rows
import graft.stats.Moments
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA / TruncatedSVD (reference python/cuml/decomposition/pca.pyx,
  * tsvd.pyx — cuML solves the p×p covariance/Gram eigenproblem on GPU).
  *
  * Spark-first: the n-dependent work is ONE distributed pass (SQL-aggregate
  * moments for named columns; [[crossProducts]] over the primitive rows of
  * an array column — both map-side combined, no shuffle); the p×p
  * eigensolve is driver-side breeze — exact, and the right split at 100 TB
  * for p ≤ O(10³).
  */
object PCAGraft {
  final case class Result(explainedVar: Array[Double], ratio: Array[Double],
                          components: DenseMatrix[Double])

  def fitNarrow(df: DataFrame, features: Seq[String]): Result = {
    val g = Moments.gram(df, features, None)
    fromCovariance(g.covariance)
  }

  /** PCA over an array<float> column: the sample covariance from one
    * [[crossProducts]] pass. */
  def fitWide(df: DataFrame, vecCol: String): Result = {
    val (n, c) = crossProducts(df, vecCol, centered = true)
    require(n > 1, s"PCA: covariance of $n rows")
    fromCovariance(c / (n - 1).toDouble)
  }

  /** The row count and the d×d cross products of an array column's rows in
    * one pass over them: centered at the column means (the co-moment
    * Σ(x−μ)(x−μ)ᵀ: Welford per row, Chan et al.'s merge across partitions,
    * the shape of GradientSolver.standardization) or not (the Gramian
    * XᵀX). The partials merge in partition order ([[Rows.fold]]), so the
    * same rows give the same matrix bit for bit. A partial is
    * [n, μ(0..d−1), C (d×d, row-major, upper triangle)]; an empty
    * partition's is empty. */
  private[decomposition] def crossProducts(df: DataFrame, vecCol: String,
                                           centered: Boolean): (Long, DenseMatrix[Double]) = {
    val a = Rows.fold(Rows.vectors(df, col(vecCol))) { (_, it) =>
      var a = Array.emptyDoubleArray
      var d = 0
      it.foreach { x =>
        if (a.isEmpty) { d = x.length; a = new Array[Double](1 + d + d * d) }
        require(x.length == d, s"vector of ${x.length} elements, expected $d")
        a(0) += 1
        var i = 0
        if (centered) {
          val dx = Array.tabulate(d)(j => x(j) - a(1 + j))
          while (i < d) { a(1 + i) += dx(i) / a(0); i += 1 }
          i = 0
          while (i < d) {
            var j = i
            while (j < d) { a(1 + d + i * d + j) += dx(i) * (x(j) - a(1 + j)); j += 1 }
            i += 1
          }
        } else while (i < d) {
          var j = i
          while (j < d) { a(1 + d + i * d + j) += x(i) * x(j); j += 1 }
          i += 1
        }
      }
      a
    } { (a, b) =>
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length, "vectors of different lengths")
        val d = (math.sqrt(4.0 * a.length - 3).round.toInt - 1) / 2
        val (na, nb) = (a(0), b(0))
        val nt = na + nb
        val dm = Array.tabulate(d)(j => b(1 + j) - a(1 + j))
        for (i <- 0 until d; j <- i until d) {
          val o = 1 + d + i * d + j
          a(o) += b(o) + (if (centered) dm(i) * dm(j) * na * nb / nt else 0.0)
        }
        for (j <- 0 until d) a(1 + j) += dm(j) * nb / nt
        a(0) = nt
        a
      }
    }
    require(a.nonEmpty, s"no rows in $vecCol")
    val d = (math.sqrt(4.0 * a.length - 3).round.toInt - 1) / 2
    (a(0).toLong, DenseMatrix.tabulate(d, d)((i, j) => a(1 + d + math.min(i, j) * d + math.max(i, j))))
  }

  /** Per-dimension means of an array column — one aggregate pass (the
    * centering vector for transform). */
  def columnMeans(df: DataFrame, vecCol: String, dim: Int): Array[Double] = {
    val v = col(vecCol).cast("array<double>")
    val aggs = (0 until dim).map(i => avg(element_at(v, i + 1)))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    Array.tabulate(dim)(row.getDouble)
  }

  /** PCA.transform for wide vectors (reference decomposition/pca.pyx
    * transform): project each row onto the top-k eigenvectors. The centering
    * collapses into a per-component scalar (score = v·w_c − μ·w_c), so the
    * projection is k codegen'd dot products — a pure map at any scale. */
  def transformWide(df: DataFrame, idCol: String, vecCol: String,
                    r: Result, k: Int, means: Array[Double]): DataFrame = {
    val dim = means.length
    val v = col(vecCol).cast("array<double>")
    val outs = (0 until k).map { c =>
      val w = Array.tabulate(dim)(i => r.components(i, c))
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      (graft.core.VectorOps.dotFixed(v, lit(w), dim) - base).as(s"pc$c")
    }
    df.select((col(idCol).cast("long").as("id") +: outs): _*)
  }

  /** PCA.transform with whiten=True (reference decomposition/pca.pyx:235:
    * divide each score by its component's standard deviation so every
    * output dimension has unit variance and zero cross-correlation). Same
    * pure-map shape as [[transformWide]] with the 1/√λ_c factor folded
    * into the projection weights at plan-build time. */
  def transformWhitened(df: DataFrame, idCol: String, vecCol: String,
                        r: Result, k: Int, means: Array[Double]): DataFrame = {
    val dim = means.length
    val v = col(vecCol).cast("array<double>")
    val outs = (0 until k).map { c =>
      // components beyond the effective rank (λ ≤ 0 up to eigensolver
      // noise) whiten to identically-zero scores instead of Inf/NaN
      val ev = r.explainedVar(c)
      val s = if (ev > 1e-12) 1.0 / math.sqrt(ev) else 0.0
      val w = Array.tabulate(dim)(i => r.components(i, c) * s)
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      (graft.core.VectorOps.dotFixed(v, lit(w), dim) - base).as(s"pc$c")
    }
    df.select((col(idCol).cast("long").as("id") +: outs): _*)
  }

  /** PCA inverse_transform quality (reference decomposition/pca.pyx
    * inverse_transform): per-row reconstruction MSE from the top-k
    * components. Uses the orthogonality identity ‖x − x̂‖² = ‖x − μ‖² −
    * Σ_c score_c², so the per-row expression is O(dim + k·dim) — one
    * codegen'd aggregate, no reconstruction materialized. */
  def reconstructionMse(df: DataFrame, vecCol: String, r: Result, k: Int,
                        means: Array[Double]): Double = {
    val dim = means.length
    val v = col(vecCol).cast("array<double>")
    val centered2 = (0 until dim).map { i =>
      val c = element_at(v, i + 1) - means(i)
      c * c
    }.reduce(_ + _)
    val scores2 = (0 until k).map { c =>
      val w = Array.tabulate(dim)(i => r.components(i, c))
      val base = (0 until dim).map(i => means(i) * w(i)).sum
      val s = graft.core.VectorOps.dotFixed(v, lit(w), dim) - base
      s * s
    }.reduce(_ + _)
    df.agg(avg((centered2 - scores2) / dim)).head().getDouble(0)
  }

  def fromCovariance(cov: DenseMatrix[Double]): Result = {
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
    Result(ev, ev.map(_ / tot), comps)
  }
}

object TSVDGraft {
  /** TruncatedSVD.transform (reference decomposition/tsvd.pyx): scores
    * along the top-k right singular vectors of X — PCA's projection
    * without centering, so it reuses PCAGraft.transformWide with a zero
    * mean vector. Right singular vectors = eigenvectors of the Gram
    * matrix (one pass + driver eigensolve). */
  def transform(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val g = PCAGraft.crossProducts(df, vecCol, centered = false)._2
    val r = PCAGraft.fromCovariance(g) // eigensolve + sign convention
    PCAGraft.transformWide(df, idCol, vecCol, r, k, Array.fill(g.rows)(0.0))
  }

  /** Singular values of X via the Gram matrix X'X (one pass),
    * σ_i = sqrt(λ_i(X'X)) — cuML TruncatedSVD's Jacobi-on-Gram, re-split. */
  def singularValues(df: DataFrame, vecCol: String, k: Int): Array[Double] = {
    val g = PCAGraft.crossProducts(df, vecCol, centered = false)._2
    eigSym(g).eigenvalues.toArray.sorted(Ordering[Double].reverse)
      .take(k).map(l => math.sqrt(math.max(l, 0.0)))
  }

  def singularValuesNarrow(df: DataFrame, features: Seq[String], k: Int): Array[Double] = {
    val g = Moments.gram(df, features, None)
    eigSym(g.xx).eigenvalues.toArray.sorted(Ordering[Double].reverse)
      .take(k).map(l => math.sqrt(math.max(l, 0.0)))
  }
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

  def project(df: DataFrame, idCol: String, vecCol: String,
              matrix: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val outs = matrix.zipWithIndex.map { case (row, j) =>
      round(graft.core.VectorOps.dot(v, lit(row)), 4).as(s"rp_$j")
    }
    df.select((col(idCol).cast("long").as("id") +: outs.toSeq): _*)
  }

  /** johnson_lindenstrauss_min_dim(n, eps) = ceil(4 ln n / (eps²/2 − eps³/3)). */
  def jlMinDim(nSamples: Long, eps: Double): Long =
    math.ceil(4.0 * math.log(nSamples.toDouble) /
      (eps * eps / 2.0 - eps * eps * eps / 3.0)).toLong
}
