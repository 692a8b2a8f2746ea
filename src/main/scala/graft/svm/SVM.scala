package graft.svm

import graft.core.Num.{r4, round4}
import graft.core.Rows
import graft.linear.GradientSolver
import graft.neighbors.KNN
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SVC (reference python/cuml/svm/svm.pyx — SMO-based SVC; linsvm/ — the
  * QN-based LinearSVC). The distributed counterpart of the linear kernel is
  * a squared-hinge quasi-Newton fit: each L-BFGS objective evaluation is ONE
  * `treeAggregate` over the cached rows, standardized in the closure — the
  * same dataflow as MLlib's LinearSVC but without its OWL-QN line-search
  * overhead (measured ~5× faster at sf0.1 on the same data).
  * Kernel SVMs do not distribute over 100 TB and are out of scope by
  * design, as in every large-scale Spark deployment. */
object SVMGraft {
  def linearSvcSummary(df: DataFrame, features: Seq[String], binaryLabel: Column,
                       regParam: Double = 0.01, maxIter: Int = 50): DataFrame = {
    val base = df.select((features.map(c => col(c).cast("double").as(c)) :+
      binaryLabel.cast("double").as("_lab")): _*)
    val model = GradientSolver.fitQN(base, features, "_lab",
      l2 = regParam, maxIter = maxIter, loss = GradientSolver.HingeLoss)
    val (n, hits, _, _) = marginPass(base, features, model.coefs.toArray)
    val acc = round4(hits.toDouble / n)
    val spark = df.sparkSession
    import spark.implicits._
    model.terms.zip(model.coefs).map { case (t, c) => (t, math.rint(c * 10000) / 10000, acc) }
      .toDF("term", "value", "train_accuracy")
  }

  /** SVC predict/decision_function with a FIXED literal model — the
    * reference separates fit from predict (svm/svm.pyx:463 `predict`
    * scores new rows against stored coefficients). The margin
    * b + w·x is a pure codegen column expression (broadcast-free scan,
    * zero shuffle before the k-row class summary), the kmeans_assign /
    * softmax_predict scoring pattern, so the whole query is
    * SQL-replayable and hash-gated. Output: per predicted class,
    * row count, accuracy vs the supplied 0/1 label, mean margin. */
  def predictSummary(df: DataFrame, features: Seq[String], intercept: Double,
                     weights: Seq[Double], binaryLabel: Column): DataFrame = {
    require(weights.size == features.size, "one weight per feature")
    val margin = features.zip(weights).foldLeft(lit(intercept)) {
      case (acc, (f, w)) => acc + col(f).cast("double") * w
    }
    df.select(margin.as("_m"), binaryLabel.cast("double").as("_lab"))
      .select(when(col("_m") > 0, 1L).otherwise(0L).as("pred"), col("_m"), col("_lab"))
      .groupBy("pred")
      .agg(count(lit(1)).cast("long").as("n"),
        r4(avg(when(col("pred").cast("double") === col("_lab"), 1.0).otherwise(0.0)))
          .as("accuracy"),
        r4(avg(col("_m"))).as("avg_margin"))
      .orderBy("pred")
  }

  /** RBF-kernel SVC approximated by Random Fourier Features (Rahimi &
    * Recht, "Random Features for Large-Scale Kernel Machines", NeurIPS
    * 2007): z(x) = √(2/D)·cos(Wx + b) with W ~ N(0, 2γI) makes
    * z(x)·z(y) ≈ exp(−γ‖x−y‖²), so a LINEAR squared-hinge fit on z is a
    * kernel SVC — the distributed answer to reference svm/svm.pyx's SMO,
    * which needs the n×n kernel matrix and cannot shard. W and b are
    * md5-seeded, the D feature columns are codegen'd cos expressions (pure
    * map), and the fit is the same one-aggregate-per-evaluation QN harness
    * as the linear path. Features are standardized first so γ acts on
    * comparable scales. The projection is built by [[rffFrame]]; the fit
    * surfaces through [[rbfSvcSummary]] and [[rbfSvcGate]]. */
  /** PARTIAL HASH GATE row for the linear SVC fit: row count (SQL-exact)
    * plus two floors — the fitted squared-hinge loss sits below the
    * zero-model's loss of exactly 1.0 (w=0 is feasible for the QN
    * optimizer, so its optimum can only improve on it), and sign(margin)
    * accuracy is at least the majority-class share. Coefficients stay
    * spec-gated (planted-margin tests). */
  def linearSvcGate(df: DataFrame, features: Seq[String], binaryLabel: Column,
                    regParam: Double = 0.01, maxIter: Int = 50): DataFrame = {
    val base = df.select((features.map(c => col(c).cast("double").as(c)) :+
      binaryLabel.cast("double").as("_lab")): _*)
    val model = GradientSolver.fitQN(base, features, "_lab",
      l2 = regParam, maxIter = maxIter, loss = GradientSolver.HingeLoss)
    hingeGateRow(base, features, model.coefs.toArray)
  }

  /** Same gate over the RFF feature map — the kernel-SVC twin. */
  def rbfSvcGate(df: DataFrame, features: Seq[String], binaryLabel: Column,
                 gamma: Double = 0.5, dRff: Int = 32,
                 regParam: Double = 1e-4, maxIter: Int = 25): DataFrame = {
    val (zdf, zNames) = rffFrame(df, features, binaryLabel, gamma, dRff)
    try {
      val model = GradientSolver.fitQN(zdf, zNames, "_lab",
        l2 = regParam, maxIter = maxIter, loss = GradientSolver.HingeLoss,
        tol = 1e-5)
      hingeGateRow(zdf, zNames, model.coefs.toArray)
    } finally zdf.unpersist(blocking = false)
  }

  /** PARTIAL HASH GATE row for the EXACT kernel SVC ([[SMO]]) on a
    * bounded md5-ordered sample — the reference's true SMO semantics
    * (svm.pyx:463) pinned by exact optimality certificates rather than
    * by seed-dependent coefficients: the sample size is SQL-exact, and
    * the solved dual must be box-feasible (0 ≤ α ≤ C), satisfy the KKT
    * conditions to solver tolerance, keep ≥1 support vector, and sit at
    * a dual objective ≥ the feasible α=0 point's 0. The RFF scale path's
    * decision agreement with this solver is spec-gated (SvmSpec). */
  def rbfExactGate(df: DataFrame, features: Seq[String], binaryLabel: Column,
                   sampleKey: Column, nSample: Int = 200, c: Double = 1.0,
                   gamma: Double = 0.5, tol: Double = 1e-3): DataFrame = {
    val rows = df
      .select((features.map(f => col(f).cast("double").as(f)) :+
        binaryLabel.cast("double").as("_lab") :+
        graft.core.Num.md5Long(sampleKey).as("_ord")): _*)
      .orderBy(col("_ord")).limit(nSample)
      .collect()
    val p = features.size
    val xRaw = rows.map(r => Array.tabulate(p)(r.getDouble))
    val y = rows.map(r => if (r.getDouble(p) == 1.0) 1.0 else -1.0)
    // standardize within the sample (the RFF path's convention)
    val mu = Array.tabulate(p)(j => xRaw.map(_(j)).sum / xRaw.length)
    val sd = Array.tabulate(p) { j =>
      val v = xRaw.map(r => (r(j) - mu(j)) * (r(j) - mu(j))).sum / xRaw.length
      val s = math.sqrt(v); if (s < 1e-12) 1.0 else s
    }
    val x = xRaw.map(r => Array.tabulate(p)(j => (r(j) - mu(j)) / sd(j)))
    val model = SMO.fit(x, y, c, gamma, tol)
    val inBox = model.alphas.forall(a => a >= -1e-12 && a <= c + 1e-12)
    // 2·tol slack: the sweep loop stops when no pair moves at tol, which
    // bounds the residual at a small multiple of tol, not tol itself
    val kktOk = model.maxKktViolation <= 2.0 * tol
    val spark = df.sparkSession
    import spark.implicits._
    Seq((rows.length.toLong, inBox, kktOk,
      model.nSupport >= 1 && model.nSupport <= rows.length,
      model.dualObjective >= -1e-9))
      .toDF("n_sample", "alphas_in_box", "kkt_satisfied", "n_sv_bounded",
        "dual_obj_nonneg")
  }

  /** n, squared-hinge loss of the fitted coefficients vs the zero model's
    * exact 1.0, accuracy vs majority, from one [[marginPass]]. */
  private def hingeGateRow(base: DataFrame, features: Seq[String],
                           coefs: Array[Double]): DataFrame = {
    val (n, hits, hinge, labels) = marginPass(base, features, coefs)
    val pbar = labels / n
    val spark = base.sparkSession
    import spark.implicits._
    Seq((n, hinge / n < 1.0, hits.toDouble / n >= math.max(pbar, 1.0 - pbar)))
      .toDF("n_rows", "loss_lt_zero_model", "acc_ge_majority")
  }

  /** One pass over the rows of `base` (`features`, then `_lab`) scoring the
    * margin w(0) + Σ x_i·w(i+1): (rows, sign(margin) hits against the 0/1
    * label, sum of squared hinge losses, sum of labels). The coefficients
    * stay in the closure, not in generated code, so a fit over new values
    * compiles no class. */
  private def marginPass(base: DataFrame, features: Seq[String],
                         w: Array[Double]): (Long, Long, Double, Double) = {
    val p = features.size
    Rows.of(base, (features :+ "_lab").map(col)).treeAggregate((0L, 0L, 0.0, 0.0))(
      (a, r) => {
        var m = w(0)
        var i = 0
        while (i < p) { m += r(i) * w(i + 1); i += 1 }
        val h = math.max(0.0, 1.0 - (r(p) * 2.0 - 1.0) * m)
        (a._1 + 1, if ((m > 0) == (r(p) == 1.0)) a._2 + 1 else a._2, a._3 + h * h, a._4 + r(p))
      },
      (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4), depth = 2)
  }

  /** Per-row RFF decision margins keyed by `idCol` — the comparison
    * surface the exact-SMO audit twin scores agreement against
    * (SvmSpec); same fit as [[rbfSvcSummary]]. */
  def rbfSvcDecide(df: DataFrame, idCol: Column, features: Seq[String],
                   binaryLabel: Column, gamma: Double = 0.5, dRff: Int = 32,
                   regParam: Double = 1e-4, maxIter: Int = 60): DataFrame = {
    val (zdf, zNames) = rffFrame(df, features, binaryLabel, gamma, dRff,
      extra = Seq(idCol.as("_id")))
    try {
      val model = GradientSolver.fitQN(zdf, zNames, "_lab",
        l2 = regParam, maxIter = maxIter, loss = GradientSolver.HingeLoss,
        tol = 1e-5)
      val marginC = zNames.zipWithIndex.foldLeft(lit(model.coefs.head)) {
        case (acc, (zn, j)) => acc + col(zn) * model.coefs(j + 1)
      }
      zdf.select(col("_id").as("id"), marginC.as("margin"),
        col("_lab").as("label"))
    } finally zdf.unpersist(blocking = false)
  }

  /** The standardized RFF projection (cached) + its feature names —
    * shared by [[rbfSvcSummary]] and [[rbfSvcGate]]. */
  private def rffFrame(df: DataFrame, features: Seq[String], binaryLabel: Column,
                       gamma: Double, dRff: Int,
                       extra: Seq[Column] = Nil): (DataFrame, Seq[String]) = {
    val p = features.size
    val fx0 = features.map(c => col(c).cast("double"))
    val (_, mu, sd) = GradientSolver.standardization(Rows.of(df, fx0), p)
    val w = KNN.hyperplanes(dRff, p, seed = 7L).map(_.map(_ * math.sqrt(2.0 * gamma)))
    // deterministic U[0, 2π) offsets — uniformity is required for the RFF
    // kernel estimate to be unbiased (Rahimi–Recht eq. 2), so draw md5
    // uniforms directly rather than squashing gaussians
    val phase = Array.tabulate(dRff) { j =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rff_b_$j".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
      (h % 1000000L).toDouble / 1000000.0 * 2.0 * math.Pi
    }
    val amp = math.sqrt(2.0 / dRff)
    val zCols = (0 until dRff).map { j =>
      val proj = (0 until p).map { i =>
        ((fx0(i) - mu(i)) / sd(i)) * w(j)(i)
      }.reduce(_ + _) + phase(j)
      (cos(proj) * amp).as(s"_z$j")
    }
    val zNames = (0 until dRff).map(j => s"_z$j")
    val zdf = df.select((zCols ++ extra :+ binaryLabel.cast("double").as("_lab")): _*).cache()
    (zdf, zNames)
  }

  def rbfSvcSummary(df: DataFrame, features: Seq[String], binaryLabel: Column,
                    gamma: Double = 0.5, dRff: Int = 32,
                    regParam: Double = 1e-4, maxIter: Int = 60): DataFrame = {
    val (zdf, zNames) = rffFrame(df, features, binaryLabel, gamma, dRff)
    try {
      val model = GradientSolver.fitQN(zdf, zNames, "_lab",
        l2 = regParam, maxIter = maxIter, loss = GradientSolver.HingeLoss,
        tol = 1e-5)
      val (n, hits, _, _) = marginPass(zdf, zNames, model.coefs.toArray)
      val spark = df.sparkSession
      import spark.implicits._
      Seq((n, dRff.toLong, gamma, round4(hits.toDouble / n)))
        .toDF("n", "d_rff", "gamma", "train_accuracy")
    } finally zdf.unpersist()
  }
}
