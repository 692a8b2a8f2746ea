package graft.linear

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}
import graft.core.Rows
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative solvers (cuML's SGD / MBSGD* / QN surface —
  * reference python/cuml/solvers/sgd.pyx, qn.pyx;
  * reference cpp/src/solver/sgd.h, qn/qn.h).
  *
  * Spark-first shape: the raw features and label are cached once as a
  * primitive `RDD[Array[Double]]` ([[graft.core.Rows]], shared with the
  * k-means Lloyd rounds); the row count and the standardization stats come
  * from ONE Welford `treeAggregate` over those rows ([[standardization]]),
  * and the iterations then run `treeAggregate` (depth 2) over the same
  * rows — MLlib's own GradientDescent/LBFGS dataflow — standardizing each
  * feature inside the closure. No fitted value (mean, stddev, weight)
  * enters a Catalyst plan, so no fit compiles a class of its own: the only
  * generated code is the cast projection, identical for every fit over
  * the same schema. The inner loop deliberately does NOT plan a fresh
  * Catalyst aggregate per iteration: the weight vector changes every
  * step, so each pass would re-analyze the plan and recompile its
  * whole-stage codegen (~100–200 ms of driver work per iteration that
  * dwarfs the scan at local scale and serializes the driver at cluster
  * scale). Per-pass cost is a cache scan + map-side partial aggregation —
  * identical shuffle shape to the Catalyst version, minus the replanning.
  */
object GradientSolver extends Serializable {
  sealed trait Loss
  case object SquaredLoss extends Loss    // y ∈ ℝ
  case object LogisticLoss extends Loss   // y ∈ {0,1}
  case object HingeLoss extends Loss      // y ∈ {0,1} (mapped to ±1)
  case object SoftmaxLoss extends Loss    // y ∈ {0..k−1}, k = max y + 1 (fitQN only)

  /** Welford running moments of the first `p` columns of a row (count, means,
    * sums of squared deviations; Chan et al. merge), and the largest label. */
  private final class Moments(p: Int) extends Serializable {
    var n = 0L
    val mean = new Array[Double](p)
    val m2 = new Array[Double](p)
    var top = Double.NegativeInfinity

    def add(row: Array[Double]): Moments = {
      n += 1
      var i = 0
      while (i < p) {
        val d = row(i) - mean(i)
        mean(i) += d / n
        m2(i) += d * (row(i) - mean(i))
        i += 1
      }
      if (row.length > p) top = math.max(top, row(p))
      this
    }

    def merge(o: Moments): Moments = {
      top = math.max(top, o.top)
      if (n == 0) {
        n = o.n
        System.arraycopy(o.mean, 0, mean, 0, p)
        System.arraycopy(o.m2, 0, m2, 0, p)
      } else if (o.n > 0) {
        val nt = n + o.n
        var i = 0
        while (i < p) {
          val d = o.mean(i) - mean(i)
          mean(i) += d * o.n / nt
          m2(i) += o.m2(i) + d * d * n * o.n / nt
          i += 1
        }
        n = nt
      }
      this
    }

    /** Sample stddevs; fewer than two rows or a (near-)constant column fall
      * back to scale 1, so a degenerate column can't poison every feature. */
    def scales: Array[Double] = m2.map { s =>
      val v = math.sqrt(s / (n - 1))
      if (n < 2 || v.isNaN || v < 1e-12) 1.0 else v
    }
  }

  private def moments(rows: RDD[Array[Double]], p: Int): Moments =
    rows.treeAggregate(new Moments(p))((a, r) => a.add(r), (a, b) => a.merge(b), depth = 2)

  /** Row count, means and sample stddevs ([[Moments.scales]]) of the first
    * `p` columns of the rows, in one pass. */
  private[graft] def standardization(rows: RDD[Array[Double]],
                                     p: Int): (Long, Array[Double], Array[Double]) = {
    val m = moments(rows, p)
    (m.n, m.mean, m.scales)
  }

  /** b + Σ w_i·(x_i − μ_i)/σ_i on the standardized features, b at w(o). */
  private def marginAt(w: Array[Double], o: Int, row: Array[Double], mu: Array[Double],
                       sd: Array[Double], p: Int): Double = {
    var m = w(o)
    var i = 0
    while (i < p) { m += (row(i) - mu(i)) / sd(i) * w(o + i + 1); i += 1 }
    m
  }

  /** One row's softmax terms: loss log Σ_c exp(s_c) − s_y, taken at the
    * largest score so no exp overflows, and per class g_c = P(c) − [c = y]. */
  private def softmaxAdd(a: Array[Double], row: Array[Double], w: Array[Double],
                         mu: Array[Double], sd: Array[Double], p: Int, k: Int): Unit = {
    val y = row(p).toInt
    require(y >= 0 && y == row(p), s"label ${row(p)} is not a class index")
    val s = Array.tabulate(k)(c => marginAt(w, c * (p + 1), row, mu, sd, p))
    val sMax = s.max
    val lse = sMax + math.log(s.map(v => math.exp(v - sMax)).sum)
    a(0) += lse - s(y)
    for (c <- 0 until k) {
      val g = math.exp(s(c) - lse) - (if (c == y) 1.0 else 0.0)
      a(1 + c * (p + 1)) += g
      for (i <- 0 until p) a(2 + c * (p + 1) + i) += g * ((row(i) - mu(i)) / sd(i))
    }
  }

  /** One L-BFGS objective evaluation: acc = [Σloss, then per class Σg,
    * Σg·x0..Σg·xp-1]. A standalone method so the treeAggregate closures
    * capture only (wB, lossB, p, k) — defined inside the breeze DiffFunction
    * they would capture the (non-serializable) anonymous class itself. */
  private def qnPass(data: RDD[Array[Double]], wB: Array[Double], lossB: Loss,
                     mu: Array[Double], sd: Array[Double], p: Int, k: Int): Array[Double] =
    data.treeAggregate(new Array[Double](1 + k * (p + 1)))(
      seqOp = (a, row) => if (lossB == SoftmaxLoss) { softmaxAdd(a, row, wB, mu, sd, p, k); a } else {
        val m = marginAt(wB, 0, row, mu, sd, p)
        val yv = row(p)
        val ypm = yv * 2.0 - 1.0
        val z = ypm * m
        val (lv, g) = (lossB: @unchecked) match {
          case SquaredLoss =>
            // cuML QN's 'normal' loss: ½(m−y)²; d/dm = m−y
            val r = m - yv
            (0.5 * r * r, r)
          case HingeLoss =>
            // squared hinge: max(0, 1−z)²; d/dm = −2·y±·max(0, 1−z)
            val hz = math.max(0.0, 1.0 - z)
            (hz * hz, -2.0 * ypm * hz)
          case LogisticLoss =>
            // log(1+exp(-z)) computed stably: max(0,-z) + log1p(exp(-|z|))
            (math.max(0.0, -z) + math.log1p(math.exp(-math.abs(z))),
              1.0 / (1.0 + math.exp(-m)) - yv)
        }
        a(0) += lv
        a(1) += g
        var i = 0
        while (i < p) { a(i + 2) += g * ((row(i) - mu(i)) / sd(i)); i += 1 }
        a
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)

  def fit(df: DataFrame, features: Seq[String], label: String, loss: Loss,
          lr: Double = 0.05, iters: Int = 40, batchFraction: Double = 1.0,
          l2: Double = 0.0, seed: Long = 42L, standardize: Boolean = true): LinearModel =
    // deterministic (seeded batches, fixed iteration count) → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "gs_fit",
      features.mkString(","), label, loss, lr, iters, batchFraction, l2, seed, standardize)) {
      fitUncached(df, features, label, loss, lr, iters, batchFraction, l2, seed, standardize)
    }

  private def fitUncached(df: DataFrame, features: Seq[String], label: String, loss: Loss,
                          lr: Double, iters: Int, batchFraction: Double,
                          l2: Double, seed: Long, standardize: Boolean): LinearModel = {
    require(loss != SoftmaxLoss, "SoftmaxLoss is fitted by fitQN")
    val p = features.size
    val data = Rows.cached(df, (features :+ label).map(col))
    try {
      // standardize features (stats from one pass) for a sane fixed lr
      val (shift, sc) =
        if (standardize) { val (_, mu, sd) = standardization(data, p); (mu, sd) }
        else (Array.fill(p)(0.0), Array.fill(p)(1.0))
      val w = Array.fill(p + 1)(0.0)
      var it = 0
      while (it < iters) {
        val batch = if (batchFraction >= 1.0) data
          else data.sample(withReplacement = false, batchFraction, seed + it)
        val wB = w.clone()
        val lossB = loss
        // acc = [Σg, Σg·x0..Σg·xp-1, n]
        val acc = batch.treeAggregate(new Array[Double](p + 2))(
          seqOp = (a, row) => {
            val m = marginAt(wB, 0, row, shift, sc, p)
            val yv = row(p)
            val g = (lossB: @unchecked) match {
              case SquaredLoss  => m - yv
              case LogisticLoss => 1.0 / (1.0 + math.exp(-m)) - yv
              case HingeLoss =>
                val ypm = yv * 2.0 - 1.0
                if (ypm * m < 1.0) -ypm else 0.0
            }
            a(0) += g
            var i = 0
            while (i < p) { a(i + 1) += g * ((row(i) - shift(i)) / sc(i)); i += 1 }
            a(p + 1) += 1.0
            a
          },
          combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
          depth = 2)
        val n = math.max(acc(p + 1), 1.0)
        var i = 0
        while (i <= p) {
          val reg = if (i == 0) 0.0 else l2 * w(i)
          w(i) -= lr * (acc(i) / n + reg)
          i += 1
        }
        it += 1
      }
      unscaled(w, features, shift, sc, 1)
    } finally data.unpersist(blocking = false)
  }

  /** Quasi-Newton fit — cuML's QN solver surface, including its OWL-QN
    * dispatch (solvers/qn.pyx:179: "if non-zero l1, will run OWL-QN, else
    * L-BFGS"; Andrew & Gao ICML'07). One aggregate pass per objective
    * evaluation; breeze drives the search. LogisticLoss gives cuML's QN
    * logistic regression; SquaredLoss its 'normal' loss ½(m−y)² (least
    * squares); HingeLoss gives the squared-hinge linear SVC
    * (smooth, so L-BFGS converges — the same loss cuML's LinearSVC/QN
    * path optimizes); SoftmaxLoss its multinomial logistic regression, one
    * ("intercept" +: features) block per class. `l1 > 0` switches to
    * OWL-QN with the intercepts unpenalized; the L1 prox runs on the
    * STANDARDIZED coefficients (the scale on which the penalty is
    * comparable across features). */
  def fitQN(df: DataFrame, features: Seq[String], label: String,
            l2: Double = 0.0, maxIter: Int = 50,
            loss: Loss = LogisticLoss, tol: Double = 1e-9,
            l1: Double = 0.0): LinearModel =
    // deterministic (fixed start, deterministic line search) → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "qn_fit",
      features.mkString(","), label, l2, maxIter, loss, tol, l1)) {
      val data = Rows.cached(df, (features :+ label).map(col))
      try qn(data, features, l2, maxIter, loss, tol, l1)
      finally data.unpersist(blocking = false)
    }

  /** [[fitQN]] over [[graft.core.Rows]] of the features, then the label; the caller owns them. */
  private[graft] def qn(data: RDD[Array[Double]], features: Seq[String], l2: Double,
                        maxIter: Int, loss: Loss, tol: Double, l1: Double): LinearModel = {
    val p = features.size
    // standardize: mixed feature scales stall the line search otherwise
    val stats = moments(data, p)
    val (n, mu, sd) = (stats.n.toDouble, stats.mean, stats.scales)
    val k = if (loss == SoftmaxLoss) stats.top.toInt + 1 else 1
    val d = k * (p + 1)
    val penalized = (0 until d).filter(_ % (p + 1) != 0)
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(w: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val acc = qnPass(data, w.toArray, loss, mu, sd, p, k)
        val lossV = acc(0) / n + 0.5 * l2 * penalized.map(i => w(i) * w(i)).sum
        val grad = DenseVector.tabulate(d) { i =>
          acc(i + 1) / n + (if (i % (p + 1) == 0) 0.0 else l2 * w(i))
        }
        (lossV, grad)
      }
    }
    val w =
      if (l1 > 0.0)
        new breeze.optimize.OWLQN[Int, DenseVector[Double]](maxIter, 7,
            (i: Int) => if (i % (p + 1) == 0) 0.0 else l1, tol)
          .minimize(f, DenseVector.zeros[Double](d))
      else
        new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 7, tolerance = tol)
          .minimize(f, DenseVector.zeros[Double](d))
    unscaled(w.toArray, features, mu, sd, k)
  }

  /** k standardized weight blocks w·(x−μ)/σ + b back on the original scale. */
  private def unscaled(w: Array[Double], features: Seq[String], mu: Array[Double],
                       sd: Array[Double], k: Int): LinearModel = {
    val p = features.size
    LinearModel(Seq.fill(k)("intercept" +: features).flatten, (0 until k).flatMap { c =>
      val coefs = Array.tabulate(p)(i => w(c * (p + 1) + i + 1) / sd(i))
      (w(c * (p + 1)) - (0 until p).map(i => coefs(i) * mu(i)).sum) +: coefs.toSeq
    })
  }
}
