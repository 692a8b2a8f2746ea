package graft.queries

import graft.cluster.KMeansGraft
import graft.core.Tables
import graft.ensemble.Forest
import graft.core.Num.r4
import graft.linear.{ElasticNet, GradientSolver, Lasso, Softmax}
import graft.preprocessing.Preprocessing
import graft.svm.SVMGraft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative / seeded estimators (rows-only checks): the graft solver
  * harness and the MLlib ALS fit. Deterministic output shapes, coefficients
  * rounded — the driver checks row presence; ScalaTest checks semantics
  * against closed-form ground truth where it exists. */
object MLQueries {
  type Q = (SparkSession, String) => DataFrame

  private[queries] val LiFeatures = Seq("l_quantity", "l_discount", "l_tax")

  /** Literal softmax coefficients for the oracle-gated predict step
    * (the kmeans_assign pattern: fixed model, SQL-replayable scoring).
    * Shared with MetricsQueries (confusion / report / log-loss score the
    * same fixed model). */
  private[queries] val SoftmaxClasses = Seq("A", "N", "R")
  private[queries] val SoftmaxIntercepts = Seq(0.05, 0.0, -0.02)
  private[queries] val SoftmaxWeights = Seq(
    Seq(0.0, -2.0, 0.0),
    Seq(0.0, 1.5, -5.0),
    Seq(0.0, 1.0, 4.0))

  /** Literal linear-SVC model for the oracle-gated predict entry (same
    * fixed-model pattern as SoftmaxWeights above). */
  private[queries] val SvmIntercept = -0.1
  private[queries] val SvmWeights = Seq(0.004, 1.5, -2.0)

  /** Literal depth-2 regression tree over LiFeatures for the FIL-scoring
    * hash gate (features indexed 0 = quantity, 1 = discount, 2 = tax). */
  private[queries] val FilTree: Forest.TreeNode = Forest.Split(0, 24.0,
    Forest.Split(1, 0.05, Forest.Leaf(10.0), Forest.Leaf(20.0)),
    Forest.Split(2, 0.04, Forest.Leaf(30.0), Forest.Leaf(40.0)))

  /** The (customer, part) implicit-rating matrix behind als_recommend and
    * model_io_als — deterministic SQL (decimal-exact mass). */
  private[graft] def alsRatings(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("rating_d"))
      .withColumn("rating", col("rating_d").cast("float"))

  /** Seeded MLlib ALS fit over [[alsRatings]], FitCache-shared between
    * als_recommend and the model_io_als serve path. */
  private[graft] def alsModel(ratings: DataFrame): org.apache.spark.ml.recommendation.ALSModel =
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(ratings,
      "als", 8, 5, 0.1, 42L)) {
      new org.apache.spark.ml.recommendation.ALS()
        .setRank(8).setMaxIter(5).setRegParam(0.1).setSeed(42L)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .fit(ratings)
    }

  private def liWithLabel(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).withColumn("_bin",
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0))

  /** Numerically stable log(1 + exp(t)) as a codegen column. */
  private def softplus(t: Column): Column =
    greatest(t, lit(0.0)) + log1p(exp(-abs(t)))

  /** logreg and qn_logreg: one QN fit (breeze L-BFGS, engine-internal) and
    * its PARTIAL HASH GATE row (r11): the SQL-exact slice (row count,
    * positive count, term count) plus the optimality floor — the training
    * log-loss sits below the intercept-only MLE's entropy
    * −(p̄·ln p̄ + (1−p̄)·ln(1−p̄)), a feasible point. One codegen'd aggregate
    * over literal coefficients, whose values stay spec-gated (pinned to the
    * IRLS twin). */
  private val qnLogreg: Q = { (s, d) =>
    val base = liWithLabel(s, d)
    val coefs = GradientSolver.fitQN(base, LiFeatures, "_bin").coefs
    val margin = LiFeatures.zipWithIndex.foldLeft(lit(coefs.head)) {
      case (acc, (f, i)) => acc + col(f).cast("double") * coefs(i + 1)
    }
    val y = col("_bin").cast("double")
    base.agg(count(lit(1)).cast("long").as("_n"),
        sum(y).cast("long").as("_npos"),
        avg(softplus(-(y * 2.0 - 1.0) * margin)).as("_loss"),
        avg(y).as("_p"))
      .select(col("_n").as("n_rows"), col("_npos").as("n_pos"),
        lit(LiFeatures.size + 1).cast("long").as("n_terms"),
        (col("_loss") < -(col("_p") * log(col("_p")) +
          (lit(1.0) - col("_p")) * log(lit(1.0) - col("_p")))).as("loss_lt_null"))
  }

  val queries: Map[String, Q] = Map(
    "lasso_cd" -> { (s, d) =>
      Lasso.fit(Tables.lineitem(s, d), LiFeatures, "l_extendedprice", alpha = 10.0)
        .toDF(s).select(col("term"), (round(col("coef"), 2) + 0.0).as("coef")).orderBy("term")
    },
    "elastic_net" -> { (s, d) =>
      ElasticNet.fit(Tables.lineitem(s, d), LiFeatures, "l_extendedprice",
          alpha = 10.0, l1Ratio = 0.5)
        .toDF(s).select(col("term"), (round(col("coef"), 2) + 0.0).as("coef")).orderBy("term")
    },
    "logreg_irls" -> { (s, d) =>
      // the hash-gated sibling of logreg: fixed 8-round Newton/IRLS with
      // a 3×3 Cramer solve per round — unlike the QN path (engine-internal
      // L-BFGS, partially gated), every iterate replays in SQL
      graft.linear.GLM.logisticFrame(Tables.lineitem(s, d),
        (col("l_returnflag") === "R").cast("double"),
        col("l_quantity") / 10.0, col("l_discount"), rounds = 8)
    },
    "logreg" -> qnLogreg,
    "logreg_multi" -> { (s, d) =>
      // softmax multiclass on the 3-class returnflag — the reference's
      // LogisticRegression is multiclass (logistic_regression.pyx:41-42).
      // PARTIAL HASH GATE (r11): counts are SQL-exact; the fitted
      // multinomial log-loss must beat the uniform model's ln(k) (w=0 is
      // feasible for the MLE). Literal-coefficient scoring, one aggregate.
      val li = Tables.lineitem(s, d)
      val rows = Softmax.fit(li, LiFeatures, "l_returnflag")._1.collect()
      val classes = rows.map(_.getString(0)).distinct.sorted
      val cmap = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val scoreCols = Softmax.scoreColumns(LiFeatures.map(f => col(f).cast("double")),
        classes.toSeq.map(c => cmap((c, "intercept"))),
        classes.toSeq.map(c => LiFeatures.map(f => cmap((c, f)))))
      val smax = greatest(scoreCols: _*)
      val lse = log(scoreCols.map(sc => exp(sc - smax)).reduce(_ + _)) + smax
      val sTrue = classes.toSeq.zip(scoreCols).foldLeft(lit(0.0)) {
        case (acc, (c, sc)) => when(col("l_returnflag") === c, sc).otherwise(acc)
      }
      li.agg(count(lit(1)).cast("long").as("_n"),
          countDistinct(col("l_returnflag")).cast("long").as("_k"),
          avg(lse - sTrue).as("_loss"))
        .select(col("_n").as("n_rows"), col("_k").as("n_classes"),
          (col("_k") * (LiFeatures.size + 1)).cast("long").as("n_coef_rows"),
          (col("_loss") < log(col("_k").cast("double"))).as("loss_lt_uniform"))
    },
    "softmax_predict" -> { (s, d) =>
      val (pred, pMax) = Softmax.predict(
        LiFeatures.map(c => col(c)), SoftmaxClasses, SoftmaxIntercepts, SoftmaxWeights)
      Tables.lineitem(s, d).select(pred.as("class"), pMax.as("p"))
        .groupBy("class")
        .agg(count(lit(1)).as("n"), r4(avg(col("p"))).as("avg_pmax"))
        .orderBy("class")
    },
    "qn_logreg" -> qnLogreg,
    "qn_logreg_l1" -> { (s, d) =>
      // the reference's OWL-QN dispatch (qn.pyx: l1 > 0 → OWL-QN) — L1
      // drives weak coefficients to EXACTLY zero. PARTIAL HASH GATE (r11):
      // the regularized objective (loss + l1·‖w_std‖₁, penalty on the
      // standardized scale the solver optimizes) must beat the w=0 point's
      // exact ln 2 — OWL-QN's optimum can only improve on a feasible point.
      val base = liWithLabel(s, d)
      val l1 = 0.0015
      val model = GradientSolver.fitQN(base, LiFeatures, "_bin", l1 = l1)
      val sdAggs = LiFeatures.map(f => stddev_samp(col(f).cast("double")))
      val sdRow = base.agg(sdAggs.head, sdAggs.tail: _*).head()
      val penalty = LiFeatures.indices.map { i =>
        val sd = if (sdRow.isNullAt(i) || sdRow.getDouble(i) < 1e-12) 1.0 else sdRow.getDouble(i)
        l1 * math.abs(model.coefs(i + 1) * sd)
      }.sum
      val margin = LiFeatures.zipWithIndex.foldLeft(lit(model.coefs.head)) {
        case (acc, (f, i)) => acc + col(f).cast("double") * model.coefs(i + 1)
      }
      base.agg(count(lit(1)).cast("long").as("_n"),
          avg(softplus(-(col("_bin") * 2.0 - 1.0) * margin)).as("_loss"))
        .select(col("_n").as("n_rows"),
          lit(LiFeatures.size + 1).cast("long").as("n_terms"),
          (col("_loss") + penalty < math.log(2.0)).as("obj_lt_null"))
    },
    "sgd_linreg" -> { (s, d) =>
      GradientSolver.fit(Tables.lineitem(s, d), Seq("l_quantity"), "l_extendedprice",
          GradientSolver.SquaredLoss, lr = 0.1, iters = 60)
        .toDF(s).select(col("term"), round(col("coef"), 1).as("coef")).orderBy("term")
    },
    "mbsgd_classifier" -> { (s, d) =>
      // PARTIAL HASH GATE (r11): seeded minibatch SGD is engine-internal;
      // the fitted hinge loss must sit below the zero model's exact 1.0
      val base = liWithLabel(s, d)
      val model = GradientSolver.fit(base, LiFeatures, "_bin",
        GradientSolver.HingeLoss, lr = 0.05, iters = 40, batchFraction = 0.5)
      val margin = LiFeatures.zipWithIndex.foldLeft(lit(model.coefs.head)) {
        case (acc, (f, i)) => acc + col(f).cast("double") * model.coefs(i + 1)
      }
      val hz = greatest(lit(0.0), lit(1.0) - (col("_bin") * 2.0 - 1.0) * margin)
      base.agg(count(lit(1)).cast("long").as("_n"), avg(hz).as("_loss"))
        .select(col("_n").as("n_rows"),
          lit(LiFeatures.size + 1).cast("long").as("n_terms"),
          (col("_loss") < 1.0).as("loss_lt_zero_model"))
    },
    "mbsgd_regressor" -> { (s, d) =>
      // PARTIAL HASH GATE (r11): fitted MSE below the zero model's avg(y²)
      val li = Tables.lineitem(s, d)
      val model = GradientSolver.fit(li, Seq("l_quantity"), "l_extendedprice",
        GradientSolver.SquaredLoss, lr = 0.1, iters = 30, batchFraction = 0.5)
      val pred = lit(model.coefs.head) + col("l_quantity").cast("double") * model.coefs(1)
      val y = col("l_extendedprice").cast("double")
      li.agg(count(lit(1)).cast("long").as("_n"),
          avg((pred - y) * (pred - y)).as("_mse"), avg(y * y).as("_z"))
        .select(col("_n").as("n_rows"), lit(2L).as("n_terms"),
          (col("_mse") < col("_z")).as("mse_lt_zero_model"))
    },
    "kmeans" -> { (s, d) =>
      // PARTIAL HASH GATE (r11, bounded r12): count + the 1 ≤ k' ≤ k
      // non-empty-cluster invariant + the SSE < total-SS floor;
      // centroids stay spec-gated
      KMeansGraft.fitGate(Tables.lineitem(s, d),
        Seq("l_quantity", "l_discount", "l_tax"), k = 4, maxIter = 10)
    },
    "rf_classifier" -> { (s, d) =>
      Forest.classifierGate(Tables.lineitem(s, d), LiFeatures, "l_returnflag",
        numTrees = 10)
    },
    "rf_importance" -> { (s, d) =>
      Forest.importanceGate(Tables.lineitem(s, d), LiFeatures, "l_returnflag",
        numTrees = 10)
    },
    "rf_regressor" -> { (s, d) =>
      Forest.regressorGate(Tables.lineitem(s, d), LiFeatures, "l_extendedprice",
        numTrees = 10)
    },
    "fil_inference" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val split = Preprocessing.trainTestSplit(li, "l_orderkey", 0.25)
      Forest.inferenceGate(split.filter(col("split") === "train"),
        split.filter(col("split") === "test"), LiFeatures, "l_extendedprice",
        numTrees = 10)
    },
    "als_recommend" -> { (s, d) =>
      // collaborative filtering via MLlib ALS (seeded block-coordinate
      // solve). PARTIAL HASH GATE (the hw_fit_opt precedent): the
      // (customer, part) implicit-rating matrix is deterministic SQL —
      // counts and the decimal-exact rating mass are hash-gated — while
      // the factorization itself surfaces as the ≤-invariant
      // als_beats_mean (train RMSE below the mean-predictor's RMSE =
      // stddev_pop), with the continuous RMSE value spec-gated in
      // MLQueriesSpec. Ratings sum through DECIMAL so the mass is
      // order-independent; the float copy feeds ALS unchanged.
      val ratings = alsRatings(s, d)
      val model = alsModel(ratings)
      val pred = model.transform(ratings)
      pred.agg(count(lit(1)).cast("long").as("n_ratings"),
        countDistinct(col("user")).cast("long").as("n_users"),
        countDistinct(col("item")).cast("long").as("n_items"),
        round(sum(col("rating_d")).cast("double"), 2).as("sum_rating"),
        (sqrt(avg(pow(col("rating") - col("prediction"), 2))) <
          stddev_pop(col("rating"))).as("als_beats_mean"))
    },
    "svm_linear" -> { (s, d) =>
      SVMGraft.linearSvcGate(Tables.lineitem(s, d), LiFeatures,
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0), maxIter = 20)
    },
    "svm_rbf" -> { (s, d) =>
      SVMGraft.rbfSvcGate(Tables.lineitem(s, d), LiFeatures,
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0),
        gamma = 0.5, dRff = 16, maxIter = 25)
    },
    "svm_rbf_exact" -> { (s, d) =>
      // the TRUE kernel-SVM semantics (SMO dual solve, svm.pyx:463) on a
      // bounded md5-ordered sample — the audit twin pinning the RFF
      // scale path; gated on exact optimality certificates (box
      // feasibility, KKT residual, dual objective), not seed-dependent
      // coefficients
      SVMGraft.rbfExactGate(Tables.lineitem(s, d), LiFeatures,
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0),
        concat_ws("_", col("l_orderkey"), col("l_linenumber"), lit("smo")))
    },
    "tree_predict" -> { (s, d) =>
      // literal-tree FIL scoring (fixed-model pattern): the forest
      // family's hash gate — a CASE-chain codegen kernel, zero shuffle
      Forest.treePredictSummary(Tables.lineitem(s, d), LiFeatures,
        "l_extendedprice", FilTree)
    },
    "svm_predict" -> { (s, d) =>
      // fit/predict separation (svm.pyx:463): literal-coefficient margin
      // scoring on the held-out 25% hash split — the family's hash gate
      val held = Preprocessing.trainTestSplit(Tables.lineitem(s, d), "l_orderkey", 0.25)
        .filter(col("split") === "test")
      SVMGraft.predictSummary(held, LiFeatures, SvmIntercept, SvmWeights,
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    }
  )

  /** Coordinate-descent replayed in SQL: the centered Gram and response
    * moments come from one aggregate CTE; each of the 200 sweeps updates
    * the three coefficients sequentially (nested subselects) exactly as
    * CoordinateDescent.fit does. Gram-level FP noise (~1e-12)
    * perturbs converged coefficients far below the rounding grid. */
  private def cdOracle(alpha: Double, l1Ratio: Double): String = {
    val l1 = alpha * l1Ratio
    val l2 = alpha * (1.0 - l1Ratio)
    def soft(z: String, den: String) =
      s"(sign($z) * greatest(abs($z) - $l1, 0.0) / ($den + $l2))"
    s"""WITH RECURSIVE m AS (
       |  SELECT count(*)::DOUBLE n, sum(l_quantity) sx0, sum(l_discount) sx1, sum(l_tax) sx2,
       |    sum(l_quantity*l_quantity) p00, sum(l_quantity*l_discount) p01, sum(l_quantity*l_tax) p02,
       |    sum(l_discount*l_discount) p11, sum(l_discount*l_tax) p12, sum(l_tax*l_tax) p22,
       |    sum(l_extendedprice) sy, sum(l_quantity*l_extendedprice) xy0,
       |    sum(l_discount*l_extendedprice) xy1, sum(l_tax*l_extendedprice) xy2
       |  FROM lineitem),
       |g AS (SELECT n, sx0, sx1, sx2, sy,
       |    (p00 - sx0*sx0/n)/n g00, (p01 - sx0*sx1/n)/n g01, (p02 - sx0*sx2/n)/n g02,
       |    (p11 - sx1*sx1/n)/n g11, (p12 - sx1*sx2/n)/n g12, (p22 - sx2*sx2/n)/n g22,
       |    (xy0 - sx0*sy/n)/n c0, (xy1 - sx1*sy/n)/n c1, (xy2 - sx2*sy/n)/n c2
       |  FROM m),
       |cd AS (
       |  SELECT g.*, 0.0::DOUBLE b0, 0.0::DOUBLE b1, 0.0::DOUBLE b2, 0 it FROM g
       |  UNION ALL
       |  SELECT n, sx0, sx1, sx2, sy, g00, g01, g02, g11, g12, g22, c0, c1, c2,
       |    b0n, b1n, b2n, it + 1
       |  FROM (
       |    SELECT q2.*, ${soft("c2 - (g02*b0n + g12*b1n)", "g22")} AS b2n FROM (
       |      SELECT q1.*, ${soft("c1 - (g01*b0n + g12*b2)", "g11")} AS b1n FROM (
       |        SELECT cd.*, ${soft("c0 - (g01*b1 + g02*b2)", "g00")} AS b0n
       |        FROM cd WHERE it < 200) q1) q2) q3),
       |fin AS (SELECT * FROM cd WHERE it = 200)
       |SELECT term, coef FROM (
       |  SELECT 'intercept' AS term, round(sy/n - (b0*sx0/n + b1*sx1/n + b2*sx2/n), 2) + 0.0 AS coef FROM fin
       |  UNION ALL SELECT 'l_quantity', round(b0, 2) + 0.0 FROM fin
       |  UNION ALL SELECT 'l_discount', round(b1, 2) + 0.0 FROM fin
       |  UNION ALL SELECT 'l_tax', round(b2, 2) + 0.0 FROM fin
       |) ORDER BY term""".stripMargin
  }

  /** Full-batch SGD on one standardized feature is a deterministic affine
    * recursion in (b, w): the per-row gradient sums collapse onto the data
    * moments, so the 60 steps replay as a recursive CTE. Spark's per-row
    * FP summation differs from the moment algebra at ~1e-12 per step; the
    * map is contractive, so converged weights agree far below the 0.1
    * rounding grid. */
  private def sgdOracle: String =
    """WITH RECURSIVE m0 AS (
      |  SELECT avg(l_quantity) mu, stddev_samp(l_quantity) sd,
      |    count(*)::DOUBLE n FROM lineitem),
      |m AS (
      |  SELECT m0.n, m0.mu, m0.sd,
      |    sum((l_quantity - mu)/sd) sxs, sum(((l_quantity - mu)/sd)*((l_quantity - mu)/sd)) sxs2,
      |    sum(((l_quantity - mu)/sd)*l_extendedprice) sxsy, sum(l_extendedprice) sy
      |  FROM lineitem, m0 GROUP BY m0.n, m0.mu, m0.sd),
      |gd AS (
      |  SELECT m.*, 0.0::DOUBLE b, 0.0::DOUBLE w, 0 it FROM m
      |  UNION ALL
      |  SELECT n, mu, sd, sxs, sxs2, sxsy, sy,
      |    b - 0.1 * ((n*b + w*sxs - sy) / n) AS b,
      |    w - 0.1 * ((b*sxs + w*sxs2 - sxsy) / n) AS w,
      |    it + 1
      |  FROM gd WHERE it < 60),
      |fin AS (SELECT * FROM gd WHERE it = 60)
      |SELECT term, coef FROM (
      |  SELECT 'intercept' AS term, round(b - (w/sd)*mu, 1) AS coef FROM fin
      |  UNION ALL SELECT 'l_quantity', round(w/sd, 1) FROM fin
      |) ORDER BY term""".stripMargin

  /** det of the 3×3 whose rows are the given column triples. */
  private def det3(m: Seq[Seq[String]]): String = {
    val Seq(Seq(a, b, c), Seq(d, e, f), Seq(g, h, i)) = m
    s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
  }

  private lazy val logregIrlsOracle: String = {
    val rounds = (1 to 8).map { k =>
      val full = Seq(Seq("s00", "s01", "s02"), Seq("s01", "s11", "s12"), Seq("s02", "s12", "s22"))
      val c0 = Seq(Seq("r0", "s01", "s02"), Seq("r1", "s11", "s12"), Seq("r2", "s12", "s22"))
      val c1 = Seq(Seq("s00", "r0", "s02"), Seq("s01", "r1", "s12"), Seq("s02", "r2", "s22"))
      val c2 = Seq(Seq("s00", "s01", "r0"), Seq("s01", "s11", "r1"), Seq("s02", "s12", "r2"))
      s"""p$k AS MATERIALIZED (SELECT
         |    ${det3(c0)} / ${det3(full)} AS b0,
         |    ${det3(c1)} / ${det3(full)} AS b1,
         |    ${det3(c2)} / ${det3(full)} AS b2
         |  FROM (SELECT sum(w) AS s00, sum(w * x1) AS s01, sum(w * x2) AS s02,
         |      sum(w * x1 * x1) AS s11, sum(w * x1 * x2) AS s12, sum(w * x2 * x2) AS s22,
         |      sum(w * z) AS r0, sum(w * x1 * z) AS r1, sum(w * x2 * z) AS r2
         |    FROM (SELECT x1, x2, p * (1.0 - p) AS w,
         |        eta + (y - p) / (p * (1.0 - p)) AS z
         |      FROM (SELECT v.y, v.x1, v.x2, p.b0 + p.b1 * v.x1 + p.b2 * v.x2 AS eta,
         |          1.0 / (1.0 + exp(-(p.b0 + p.b1 * v.x1 + p.b2 * v.x2))) AS p
         |        FROM xv v, p${k - 1} p))))""".stripMargin
    }.mkString(",\n")
    s"""WITH xv AS MATERIALIZED (SELECT
       |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
       |    l_quantity / 10.0 AS x1, l_discount::DOUBLE AS x2 FROM lineitem),
       |p0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |$rounds,
       |fin AS (SELECT count(*)::BIGINT AS n,
       |    avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) AS ll
       |  FROM (SELECT v.y, 1.0 / (1.0 + exp(-(p.b0 + p.b1 * v.x1 + p.b2 * v.x2))) AS p
       |    FROM xv v, p8 p))
       |SELECT fin.n, round(p8.b0, 6) AS b0, round(p8.b1, 6) AS b1,
       |  round(p8.b2, 6) AS b2, round(fin.ll, 6) AS log_loss
       |FROM p8, fin""".stripMargin
  }

  /** Shared SQL fragment: the driver-replayable md5 hash split used by
    * trainTestSplit (test side = bucket < 250 of 1000). */
  private val TestSplitPredicate =
    "('0x' || substr(md5(l_orderkey::VARCHAR || '_42'), 1, 15))::BIGINT % 1000 < 250"

  private val QnLogregSql =
    """SELECT count(*)::BIGINT AS n_rows,
      |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_pos,
      |  4::BIGINT AS n_terms, TRUE AS loss_lt_null FROM lineitem""".stripMargin

  val oracles: Map[String, String] = Map(
    // ---- r11 partial hash gates for the seeded/iterative estimators:
    // counts are SQL-exact; invariant booleans assert the optimality /
    // structural floors the Spark side computes from the real fit ----
    "logreg" -> QnLogregSql,
    "qn_logreg" -> QnLogregSql,
    "qn_logreg_l1" ->
      """SELECT count(*)::BIGINT AS n_rows, 4::BIGINT AS n_terms,
        |  TRUE AS obj_lt_null FROM lineitem""".stripMargin,
    "logreg_multi" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  count(DISTINCT l_returnflag)::BIGINT AS n_classes,
        |  (count(DISTINCT l_returnflag) * 4)::BIGINT AS n_coef_rows,
        |  TRUE AS loss_lt_uniform FROM lineitem""".stripMargin,
    "mbsgd_classifier" ->
      """SELECT count(*)::BIGINT AS n_rows, 4::BIGINT AS n_terms,
        |  TRUE AS loss_lt_zero_model FROM lineitem""".stripMargin,
    "mbsgd_regressor" ->
      """SELECT count(*)::BIGINT AS n_rows, 2::BIGINT AS n_terms,
        |  TRUE AS mse_lt_zero_model FROM lineitem""".stripMargin,
    "kmeans" ->
      """SELECT count(*)::BIGINT AS n_points, TRUE AS n_clusters_bounded,
        |  TRUE AS sse_lt_totss FROM lineitem""".stripMargin,
    "rf_classifier" ->
      """SELECT count(*)::BIGINT AS n_rows, TRUE AS preds_in_label_set,
        |  TRUE AS acc_ge_majority FROM lineitem""".stripMargin,
    "rf_importance" ->
      """SELECT * FROM (VALUES ('l_discount', TRUE, TRUE),
        |  ('l_quantity', TRUE, TRUE), ('l_tax', TRUE, TRUE))
        |  t(feature, imp_nonneg, sums_to_one) ORDER BY feature""".stripMargin,
    "rf_regressor" ->
      """SELECT count(*)::BIGINT AS n_rows, TRUE AS preds_in_label_range,
        |  TRUE AS rmse_le_sd FROM lineitem""".stripMargin,
    "fil_inference" ->
      s"""SELECT count(*)::BIGINT AS n_scored, TRUE AS preds_in_train_range
         |FROM lineitem WHERE $TestSplitPredicate""".stripMargin,
    "svm_linear" ->
      """SELECT count(*)::BIGINT AS n_rows, TRUE AS loss_lt_zero_model,
        |  TRUE AS acc_ge_majority FROM lineitem""".stripMargin,
    "svm_rbf" ->
      """SELECT count(*)::BIGINT AS n_rows, TRUE AS loss_lt_zero_model,
        |  TRUE AS acc_ge_majority FROM lineitem""".stripMargin,
    // exact-SMO audit twin: sample size SQL-exact, optimality
    // certificates (dual feasibility / KKT / objective) as invariants
    "svm_rbf_exact" ->
      """SELECT least(200, count(*))::BIGINT AS n_sample,
        |  TRUE AS alphas_in_box, TRUE AS kkt_satisfied,
        |  TRUE AS n_sv_bounded, TRUE AS dual_obj_nonneg
        |FROM lineitem""".stripMargin,
    "als_recommend" ->
      """WITH r AS (
        |  SELECT o_custkey::INT AS u, l_partkey::INT AS it,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS rating_d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_ratings,
        |  count(DISTINCT u)::BIGINT AS n_users,
        |  count(DISTINCT it)::BIGINT AS n_items,
        |  round(CAST(sum(rating_d) AS DOUBLE), 2) AS sum_rating,
        |  TRUE AS als_beats_mean
        |FROM r""".stripMargin,
    "logreg_irls" -> logregIrlsOracle,
    "sgd_linreg" -> sgdOracle,
    "lasso_cd" -> cdOracle(10.0, 1.0),
    "elastic_net" -> cdOracle(10.0, 0.5),
    "softmax_predict" ->
      """WITH sc AS (SELECT
        |    0.05 + 0.0 * l_quantity + -2.0 * l_discount + 0.0 * l_tax AS sa,
        |    0.0 + 0.0 * l_quantity + 1.5 * l_discount + -5.0 * l_tax AS sn,
        |    -0.02 + 0.0 * l_quantity + 1.0 * l_discount + 4.0 * l_tax AS sr
        |  FROM lineitem),
        |p AS (SELECT
        |    CASE WHEN sa >= sn AND sa >= sr THEN 'A'
        |         WHEN sn >= sr THEN 'N' ELSE 'R' END AS class,
        |    1.0 / (exp(sa - greatest(sa, sn, sr)) + exp(sn - greatest(sa, sn, sr)) + exp(sr - greatest(sa, sn, sr))) AS p
        |  FROM sc)
        |SELECT class, count(*)::BIGINT AS n, round(avg(p), 4) AS avg_pmax
        |FROM p GROUP BY class ORDER BY class""".stripMargin,
    "tree_predict" ->
      """WITH s AS (SELECT
        |    CASE WHEN l_quantity <= 24.0 THEN
        |      CASE WHEN l_discount <= 0.05 THEN 10.0 ELSE 20.0 END
        |    ELSE
        |      CASE WHEN l_tax <= 0.04 THEN 30.0 ELSE 40.0 END
        |    END AS prediction,
        |    l_extendedprice AS y
        |  FROM lineitem)
        |SELECT prediction, count(*)::BIGINT AS n, round(avg(y), 4) AS mean_label
        |FROM s GROUP BY prediction ORDER BY prediction""".stripMargin,
    "svm_predict" ->
      """WITH t AS (SELECT
        |    -0.1 + 0.004 * l_quantity + 1.5 * l_discount + -2.0 * l_tax AS m,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS lab
        |  FROM lineitem
        |  WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || '_42'), 1, 15))::BIGINT % 1000 < 250)
        |SELECT (CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS pred,
        |  count(*)::BIGINT AS n,
        |  round(avg(CASE WHEN (CASE WHEN m > 0 THEN 1.0 ELSE 0.0 END) = lab
        |    THEN 1.0 ELSE 0.0 END), 4) AS accuracy,
        |  round(avg(m), 4) AS avg_margin
        |FROM t GROUP BY 1 ORDER BY pred""".stripMargin)
}
