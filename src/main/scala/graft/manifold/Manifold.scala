package graft.manifold

import graft.neighbors.KNN
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Manifold learning front-ends (reference python/cuml/manifold/umap.pyx,
  * t_sne.pyx): kNN graph construction, per-point bandwidth calibration,
  * and the 2-D embedding layout itself (`forceLayout` — attractive forces
  * along the kNN edges, repulsive forces against the position table, both
  * as joins + grouped force sums per iteration).
  */
object Manifold {
  /** UMAP fuzzy simplicial set weights: per node i, ρ_i = nearest distance,
    * σ_i solved (binary search) so Σ_j exp(−(d_ij−ρ_i)/σ_i) = log2(k).
    * Everything after the kNN pass is per-node math on k doubles — done in
    * a deterministic scalar function over the collected neighbor list. */
  def umapGraphWeights(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val knn = KNN.bruteForce(emb, emb, idCol, idCol, vecCol, vecCol, k,
      KNN.Euclidean, excludeSelf = true)
    val grouped = knn.groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("rank"), col("id"), col("score")))).as("nbrs"))
    val spark = emb.sparkSession
    val solve = udf { (nbrs: Seq[org.apache.spark.sql.Row]) =>
      val ds = nbrs.map(_.getDouble(2)).toArray
      val rho = ds.min
      val target = math.log(ds.length.toDouble) / math.log(2.0)
      var lo = 1e-6; var hi = 1e6
      var it = 0
      while (it < 64) {
        val mid = (lo + hi) / 2
        val s = ds.map(d => math.exp(-math.max(d - rho, 0.0) / mid)).sum
        if (s > target) hi = mid else lo = mid
        it += 1
      }
      val sigma = (lo + hi) / 2
      (rho, sigma, ds.map(d => math.exp(-math.max(d - rho, 0.0) / sigma)))
    } // structural barrier below: 3 getField reads must not re-run the bisection
    graft.core.Barrier.once(grouped, Seq(col("qid")), solve(col("nbrs")), "_r")
      .select(col("qid"),
        round(col("_r._1"), 4).as("rho"),
        round(col("_r._2"), 4).as("sigma"),
        transform(col("_r._3"), w => round(w, 4)).as("weights"))
  }

  sealed trait LayoutMode
  case object UmapForces extends LayoutMode  // unnormalized edge attraction
  case object TsneForces extends LayoutMode  // KL gradient with global Z

  /** 2-D embedding layout (reference umap.pyx / t_sne.pyx layout phase,
    * cpp/src/umap/ optimize, cpp/src/tsne/).
    *
    * Scale split, same as the reference's: the DATA-scale phase is the kNN
    * graph over the corpus — distributed (broadcast-scan kNN + grouped
    * edge aggregation). The layout state is O(sample)·2 doubles by
    * construction (you lay out a sampled/aggregated subset, never 10¹¹
    * points), so the force iterations run on the driver over the collected
    * edge list — the same state-on-driver split MLlib uses for k-means
    * centers, and what cuML does in GPU memory. Running each 100-row
    * iteration as a Spark job would spend 1000× more on scheduling than
    * arithmetic. Deterministic: md5-seeded init, no RNG in the force pass.
    *
    * Forces: attraction along symmetrized kNN edges weighted by the
    * student-t kernel of the original distance; all-pairs student-t
    * repulsion (t-SNE: exact KL gradient with global normalizer Z and
    * early exaggeration ×12 for the first half, as in t_sne.pyx). */
  def forceLayout(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                  iters: Int, lr: Double, mode: LayoutMode): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // md5-seeded init + deterministic force pass → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(emb,
      "force_layout", idCol, vecCol, k, iters, lr, mode)) {
      layoutRows(emb, idCol, vecCol, k, iters, lr, mode)
    }.toDF("id", "x", "y")
  }

  /** The fitted layout as driver-local (id, x, y) rows. */
  private def layoutRows(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                         iters: Int, lr: Double,
                         mode: LayoutMode): Seq[(Long, Double, Double)] = {
    val knn = KNN.bruteForce(emb, emb, idCol, idCol, vecCol, vecCol, k,
      KNN.Euclidean, excludeSelf = true)
    val half = knn.select(col("qid").as("i"), col("id").as("j"),
      (lit(1.0) / (lit(1.0) + col("score") * col("score"))).as("w"))
    // sorted so the driver-side force summation order (and thus the exact
    // FP result) is independent of how the collect happened to partition
    val edgeRows = half.unionAll(half.select(col("j").as("i"), col("i").as("j"), col("w")))
      .groupBy("i", "j").agg(max(col("w")).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2))
    val ids = edgeRows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val edges = edgeRows.map { case (i, j, w) => (idx(i), idx(j), w) }
    val sumW = edges.map(_._3).sum

    // deterministic md5 init in [-5, 5]²
    def u(tag: String, id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
      (h % 1000000L).toDouble / 100000.0 - 5.0
    }
    // SPECTRAL INIT for UMAP — the reference DEFAULT (umap.pyx:138
    // init="spectral", cpp/src/spectral/spectral.cu): seed the layout with
    // the 2nd/3rd-smallest eigenvectors of the normalized Laplacian
    // L = I − D^{−1/2} W D^{−1/2} of the symmetrized kNN graph. Computed
    // by DEFLATED POWER ITERATION on M = 2I − L (λ(L) ∈ [0,2] maps to
    // λ(M) ∈ [0,2] with order reversed; λ_min(L)=0 ↔ λ_max(M)=2 with the
    // KNOWN eigenvector D^{1/2}·1, deflated analytically) — each multiply
    // is one pass over the sparse edge list, so the init costs
    // O(iters·|E|), the same class as a single force iteration, at any
    // sample size (a dense n³ eigensolve would cap the sample at ~10³).
    // t-SNE keeps the md5-random init: t_sne.pyx's default is random.
    val (px, py) =
      if (mode == UmapForces && n > 2) {
        val dw = new Array[Double](n)
        edges.foreach { case (i, _, wt) => dw(i) += wt } // rows are directed both ways
        val dis = dw.map(d => if (d > 0) 1.0 / math.sqrt(d) else 0.0)
        def mulM(v: Array[Double]): Array[Double] = {
          val r = v.clone()
          edges.foreach { case (a, b, wt) => r(a) += dis(a) * wt * dis(b) * v(b) }
          r
        }
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < n) { s += a(i) * b(i); i += 1 }; s
        }
        def unit(v: Array[Double]): Array[Double] = {
          val nv = math.sqrt(dot(v, v)) max 1e-300
          v.map(_ / nv)
        }
        val v0 = unit(dw.map(math.sqrt))
        def fiedler(tag: String, basis: Seq[Array[Double]]): Array[Double] = {
          var v = ids.map(u(tag, _)).toArray
          var it = 0
          while (it < 200) {
            v = mulM(v)
            basis.foreach { b => val c = dot(v, b); var i = 0
              while (i < n) { v(i) -= c * b(i); i += 1 } }
            v = unit(v)
            it += 1
          }
          v
        }
        val e1 = fiedler("spec_x_", Seq(v0))
        val e2 = fiedler("spec_y_", Seq(v0, e1))
        // scale each axis to max-abs 10 — the UMAP spectral-init convention
        def scaled(v: Array[Double]): Array[Double] = {
          val s = 10.0 / (v.map(math.abs).max max 1e-12)
          v.map(_ * s)
        }
        (scaled(e1), scaled(e2))
      } else
        (ids.map(u("layout_x_", _)).toArray, ids.map(u("layout_y_", _)).toArray)

    var it = 0
    while (it < iters) {
      val fx = new Array[Double](n); val fy = new Array[Double](n)
      // attraction along edges
      val exag = if (mode == TsneForces && it < iters / 2) 12.0 else 1.0
      edges.foreach { case (i, j, w) =>
        val dx = px(i) - px(j); val dy = py(i) - py(j)
        val q = 1.0 / (1.0 + dx * dx + dy * dy)
        val c = mode match {
          case TsneForces => w / sumW * exag * q
          case UmapForces => w * q
        }
        fx(i) -= c * dx; fy(i) -= c * dy
      }
      // student-t repulsion: all-pairs below ~1000 nodes, deterministic
      // negative sampling above (s opponents per node, estimates scaled by
      // (n−1)/s — keeps each iteration O(n·s) at larger sample sizes)
      val negS = if (n > 1000) 64 else 0
      def opponents(a: Int, salt: Int): Iterator[Int] =
        if (negS == 0) Iterator.range(0, n).filter(_ != a)
        else {
          val rng = new java.util.Random(a.toLong * 1000003L + salt * 7919L + it)
          Iterator.continually((rng.nextInt & Int.MaxValue) % n)
            .filter(_ != a).take(negS)
        }
      val estScale = if (negS == 0) 1.0 else (n - 1).toDouble / negS
      var z = 0.0
      if (mode == TsneForces) {
        var a = 0
        while (a < n) {
          opponents(a, 1).foreach { b =>
            val dx = px(a) - px(b); val dy = py(a) - py(b)
            z += 1.0 / (1.0 + dx * dx + dy * dy)
          }
          a += 1
        }
        z *= estScale
      }
      var a = 0
      while (a < n) {
        opponents(a, 2).foreach { b =>
          val dx = px(a) - px(b); val dy = py(a) - py(b)
          val q = 1.0 / (1.0 + dx * dx + dy * dy)
          val c = mode match {
            case TsneForces => q * q / z * estScale
            case UmapForces => q * q * 0.01 * estScale
          }
          fx(a) += c * dx; fy(a) += c * dy
        }
        a += 1
      }
      val scale = mode match { case TsneForces => lr * 4.0; case UmapForces => lr }
      var i = 0
      while (i < n) {
        px(i) = math.max(-50.0, math.min(50.0, px(i) + scale * fx(i)))
        py(i) = math.max(-50.0, math.min(50.0, py(i) + scale * fy(i)))
        i += 1
      }
      it += 1
    }
    ids.indices.map(i => (ids(i), px(i), py(i)))
  }

  /** UMAP out-of-sample transform (reference manifold/umap.pyx:495 —
    * `transform()` embeds NEW points against a fitted model; exercised by
    * test_umap.py). Spark-first re-expression: each new point finds its k
    * nearest FITTED points in the original feature space, then lands at
    * the weighted mean of those neighbors' layout coordinates, weights =
    * the same student-t kernel 1/(1+d²) the layout forces use. No new
    * force loop — placement is a pure scan.
    *
    * Scale shape: the fitted model (original vectors + 2-D positions) is
    * O(sample) by the same bound as the layout state, so BOTH joins
    * broadcast the model side and the new-point corpus only streams;
    * the sole shuffle is the bounded top-k aggregate (k entries per
    * new point after partial aggregation).
    *
    * `fitted` = (idCol, vecCol) rows the layout was fitted on;
    * `layout`  = (id, x, y) as returned by [[forceLayout]]. */
  def umapTransform(newPoints: DataFrame, fitted: DataFrame, layout: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // broadcastPairs broadcasts its QUERY side — pass the fitted sample
    // there so the (huge) new-point side streams map-side; then swap the
    // pair orientation so top-k is per NEW point
    val pairs = KNN.broadcastPairs(fitted, newPoints, idCol, idCol, vecCol, vecCol,
        KNN.Euclidean, excludeSelf = false)
      .select(col("id").as("qid"), col("qid").as("id"), col("_s"))
    val knn = KNN.topKPerKey(pairs, k, KNN.nearFirst(KNN.Euclidean))
    val pos = layout.select(col("id"), col("x"), col("y"))
    knn.join(broadcast(pos), "id")
      .withColumn("_w", lit(1.0) / (lit(1.0) + col("score") * col("score")))
      .groupBy(col("qid").as("id"))
      .agg(
        round(sum(col("_w") * col("x")) / sum(col("_w")), 4).as("x"),
        round(sum(col("_w") * col("y")) / sum(col("_w")), 4).as("y"),
        round(avg(col("score")), 4).as("mean_nn_dist"))
      .select(col("id"), col("x"), col("y"), col("mean_nn_dist"))
  }

  /** t-SNE conditional-P calibration: per point, binary-search β = 1/(2σ²)
    * to hit the target perplexity over the kNN distances. */
  def tsnePerplexity(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                     perplexity: Double): DataFrame = {
    val knn = KNN.bruteForce(emb, emb, idCol, idCol, vecCol, vecCol, k,
      KNN.Euclidean, excludeSelf = true)
    val grouped = knn.groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("rank"), col("id"), col("score")))).as("nbrs"))
    val logU = math.log(perplexity)
    val solve = udf { (nbrs: Seq[org.apache.spark.sql.Row]) =>
      val d2 = nbrs.map(r => { val d = r.getDouble(2); d * d }).toArray
      var beta = 1.0; var lo = 0.0; var hi = Double.PositiveInfinity
      var it = 0
      var h = 0.0
      while (it < 64) {
        val ps = d2.map(d => math.exp(-d * beta))
        val sum = ps.sum max 1e-300
        h = math.log(sum) + beta * d2.zip(ps).map { case (d, p) => d * p }.sum / sum
        if (h > logU) { lo = beta; beta = if (hi.isInfinity) beta * 2 else (beta + hi) / 2 }
        else { hi = beta; beta = (lo + beta) / 2 }
        it += 1
      }
      (beta, h)
    } // structural barrier below: 2 getField reads must not re-run the bisection
    graft.core.Barrier.once(grouped, Seq(col("qid")), solve(col("nbrs")), "_r")
      .select(col("qid"), round(col("_r._1"), 4).as("beta"),
        round(col("_r._2"), 4).as("entropy"))
  }
}
