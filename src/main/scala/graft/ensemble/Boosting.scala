package graft.ensemble

import graft.core.Num.{r4, r6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-round boosted decision stumps — the gradient-boosting /
  * AdaBoost surface the reference serves through ForestInference
  * (`fil/fil.pyx` scores externally-trained boosted-tree models; graft
  * adds the distributed FIT, which cuML delegates to XGBoost).
  *
  * Scale shape: each round is ONE corpus scan — the model-so-far is a
  * literal CASE-chain column (pure codegen, the tree_predict pattern), the
  * candidate-split evaluation is a map-side-combined groupBy on the
  * bounded (feature, distinct-value) key followed by cumulative windows
  * over that bounded frame (the stump_fit discipline: split-search sweeps
  * the distinct-value frame, never re-scans the corpus per candidate).
  * The driver holds only the per-round stump parameters (the gmm_em
  * state-on-driver split); T rounds = T+1 scans of the cached base.
  *
  * Determinism: leaf values / alphas are ROUNDED (6 dp) before they enter
  * the next round's composed model, and the winning split is chosen on the
  * ROUNDED (4 dp) score with (feature, value) tie-break — so every round
  * replays bit-for-bit as chained CTEs in the DuckDB oracle.
  */
object Boosting {

  /** One fitted stump: predicts `leftVal` where `feature <= thr`. */
  final case class Stump(feature: String, thr: Double, leftVal: Double, rightVal: Double)

  /** The stump's prediction as a pure codegen column (raw threshold,
    * rounded leaf values — matching the oracle's CASE replay). */
  def stumpColumn(st: Stump): Column = stumpCol(st)

  private def stumpCol(st: Stump): Column =
    when(col(st.feature) <= lit(st.thr), lit(st.leftVal)).otherwise(lit(st.rightVal))

  /** The fitted GBT model as a pure codegen column. `overrides` substitutes
    * an expression for a feature's value — the partial-dependence scoring
    * hook (grid literal in, marginalized prediction out). */
  def gbtPredict(f0: Double, model: Seq[Stump], lr: Double,
                 overrides: Map[String, Column] = Map.empty): Column =
    model.foldLeft(lit(f0): Column) { (acc, st) =>
      val x = overrides.getOrElse(st.feature, col(st.feature))
      acc + lit(lr) * when(x <= lit(st.thr), lit(st.leftVal)).otherwise(lit(st.rightVal))
    }

  /** Unpivot the feature columns to (f, v) rows next to named carried
    * columns — one explode, so the candidate aggregation is a single
    * corpus pass. */
  private def unpivot(df: DataFrame, features: Seq[String],
                      carries: (String, Column)*): DataFrame =
    df.select(explode(array(features.map(f =>
        struct(lit(f).as("f"), col(f).cast("double").as("v"))): _*)).as("u") +:
        carries.map { case (n, c) => c.as(n) }: _*)
      .select(col("u.f").as("f") +: col("u.v").as("v") +: carries.map(c => col(c._1)): _*)

  /** Gradient-boosted regression stumps (squared loss, shrinkage `lr`,
    * `rounds` rounds). Returns (f0, stumps): f0 = 4-dp-rounded global mean,
    * each stump's leaves = 6-dp-rounded mean residuals of its split.
    * One fit shared by `gbt_stumps` and `partial_dependence` — two views
    * of the same fitted estimator, memoized in FitCache: the fit is
    * deterministic (rounded-argmin winners) and the model is a handful of
    * driver-local stump parameters. */
  def fitGBT(df: DataFrame, features: Seq[String], label: Column,
             rounds: Int, lr: Double): (Double, Seq[Stump]) =
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "gbt",
      features.mkString(","), label, rounds, lr)) {
      fitGBTUncached(df, features, label, rounds, lr)
    }

  private def fitGBTUncached(df: DataFrame, features: Seq[String], label: Column,
                             rounds: Int, lr: Double): (Double, Seq[Stump]) = {
    val base = df.select(features.map(c => col(c).cast("double").as(c)) :+ label.as("_y"): _*)
      .cache()
    try {
      val f0 = BigDecimal(base.agg(avg(col("_y"))).head().getDouble(0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      var model = List.empty[Stump]
      for (_ <- 1 to rounds) {
        val pred = model.foldLeft(lit(f0): Column)((acc, st) => acc + lit(lr) * stumpCol(st))
        val un = unpivot(base, features, "_res" -> (col("_y") - pred))
        val g = un.groupBy("f", "v")
          .agg(count(lit(1)).cast("double").as("_n"), sum(col("_res")).as("_s"))
        val wCum = Window.partitionBy("f").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy("f")
        val cands = g
          .withColumn("_nle", sum(col("_n")).over(wCum))
          .withColumn("_sle", sum(col("_s")).over(wCum))
          .withColumn("_nt", sum(col("_n")).over(wAll))
          .withColumn("_st", sum(col("_s")).over(wAll))
          .filter(col("_nle") < col("_nt"))
        val score = r4(col("_sle") * col("_sle") / col("_nle") +
          (col("_st") - col("_sle")) * (col("_st") - col("_sle")) /
            (col("_nt") - col("_nle")))
        val w = cands.select(col("f"), col("v"), score.as("_sc"),
            r6(col("_sle") / col("_nle")).as("_ll"),
            r6((col("_st") - col("_sle")) / (col("_nt") - col("_nle"))).as("_lr"))
          .orderBy(col("_sc").desc, col("f"), col("v")).limit(1).head()
        model = model :+ Stump(w.getString(0), w.getDouble(1), w.getDouble(3), w.getDouble(4))
      }
      (f0, model)
    } finally base.unpersist()
  }

  /** Per-round summary frame for the GBT fit: (round, feature, threshold,
    * leaf_left, leaf_right, mse) — ALL rounds' MSEs from ONE final scan
    * (rounds+1 aggregate expressions over the same pass). */
  def gbtFrame(spark: SparkSession, df: DataFrame, features: Seq[String], label: Column,
               rounds: Int, lr: Double): DataFrame = {
    val (f0, model) = fitGBT(df, features, label, rounds, lr)
    val base = df.select(features.map(c => col(c).cast("double").as(c)) :+ label.as("_y"): _*)
    val mseExprs = (1 to rounds).map { k =>
      val pred = model.take(k).foldLeft(lit(f0): Column)((acc, st) => acc + lit(lr) * stumpCol(st))
      avg((col("_y") - pred) * (col("_y") - pred)).as(s"_m$k")
    }
    val mses = base.agg(mseExprs.head, mseExprs.tail: _*).head()
    import spark.implicits._
    model.zipWithIndex.map { case (st, i) =>
      (i + 1L, st.feature,
        BigDecimal(st.thr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        st.leftVal, st.rightVal,
        BigDecimal(mses.getDouble(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("round", "feature", "threshold", "leaf_left", "leaf_right", "mse")
      .orderBy("round")
  }

  /** One fitted AdaBoost stump: polarity +1 predicts +1 on
    * `feature <= thr`, −1 above; polarity −1 the reverse. */
  final case class AdaStump(feature: String, thr: Double, polarity: Int,
                            eps: Double, alpha: Double)

  private def adaCol(st: AdaStump): Column = {
    val le = when(col(st.feature) <= lit(st.thr), lit(1.0)).otherwise(lit(-1.0))
    if (st.polarity > 0) le else -le
  }

  /** AdaBoost.M1 with decision stumps over the distinct-value candidate
    * frame: per round ONE scan — the sample weights are a composed literal
    * expression exp(−y·Σ αⱼhⱼ(x)) (never materialized), the weighted error
    * of EVERY candidate (both polarities) comes off cumulative windows
    * over the bounded (feature, value) frame, ε is a ratio of weighted
    * sums (so weight normalization is implicit). */
  def fitAdaBoost(df: DataFrame, features: Seq[String], labelPm1: Column,
                  rounds: Int): Seq[AdaStump] =
    // deterministic (rounded-argmin winners) → fit-once, like fitGBT
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "adaboost",
      features.mkString(","), labelPm1, rounds)) {
      fitAdaBoostUncached(df, features, labelPm1, rounds)
    }

  private def fitAdaBoostUncached(df: DataFrame, features: Seq[String], labelPm1: Column,
                                  rounds: Int): Seq[AdaStump] = {
    val base = df.select(features.map(c => col(c).cast("double").as(c)) :+ labelPm1.as("_y"): _*)
      .cache()
    try {
      var model = List.empty[AdaStump]
      for (_ <- 1 to rounds) {
        val wExpr = exp(model.foldLeft(lit(0.0): Column)((acc, st) =>
          acc - lit(st.alpha) * col("_y") * adaCol(st)))
        val un = unpivot(base, features,
          "_cwp" -> when(col("_y") > 0, wExpr).otherwise(lit(0.0)),
          "_cwn" -> when(col("_y") < 0, wExpr).otherwise(lit(0.0)))
        val g = un.groupBy("f", "v")
          .agg(sum(col("_cwp")).as("_wp"), sum(col("_cwn")).as("_wn"))
        val wCum = Window.partitionBy("f").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy("f")
        val cands = g
          .withColumn("_wple", sum(col("_wp")).over(wCum))
          .withColumn("_wnle", sum(col("_wn")).over(wCum))
          .withColumn("_wpt", sum(col("_wp")).over(wAll))
          .withColumn("_wnt", sum(col("_wn")).over(wAll))
          .filter(col("_wple") + col("_wnle") < col("_wpt") + col("_wnt"))
        val wt = col("_wpt") + col("_wnt")
        // polarity +1: wrong on negatives left of thr and positives right
        val epsP = r6((col("_wnle") + (col("_wpt") - col("_wple"))) / wt)
        val epsN = r6((col("_wple") + (col("_wnt") - col("_wnle"))) / wt)
        val both = cands.select(col("f"), col("v"), lit(1).as("pol"), epsP.as("_e"))
          .unionAll(cands.select(col("f"), col("v"), lit(-1).as("pol"), epsN.as("_e")))
        val w = both.orderBy(col("_e"), col("f"), col("v"), col("pol").desc)
          .limit(1).head()
        val eps = w.getDouble(3)
        val alpha = BigDecimal(0.5 * math.log((1.0 - eps) / eps))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        model = model :+ AdaStump(w.getString(0), w.getDouble(1), w.getInt(2), eps, alpha)
      }
      model
    } finally base.unpersist()
  }

  /** Per-round summary frame: (round, feature, threshold, polarity, eps,
    * alpha, ens_err) — every round's ensemble training error from ONE
    * final scan. */
  def adaBoostFrame(spark: SparkSession, df: DataFrame, features: Seq[String],
                    labelPm1: Column, rounds: Int): DataFrame = {
    val model = fitAdaBoost(df, features, labelPm1, rounds)
    val base = df.select(features.map(c => col(c).cast("double").as(c)) :+ labelPm1.as("_y"): _*)
    val errExprs = (1 to rounds).map { k =>
      val score = model.take(k).foldLeft(lit(0.0): Column)((acc, st) =>
        acc + lit(st.alpha) * adaCol(st))
      val pred = when(score > 0, lit(1.0)).otherwise(lit(-1.0))
      avg(when(pred =!= col("_y"), 1.0).otherwise(0.0)).as(s"_e$k")
    }
    val errs = base.agg(errExprs.head, errExprs.tail: _*).head()
    import spark.implicits._
    model.zipWithIndex.map { case (st, i) =>
      (i + 1L, st.feature,
        BigDecimal(st.thr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        st.polarity.toLong, st.eps, st.alpha,
        BigDecimal(errs.getDouble(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("round", "feature", "threshold", "polarity", "eps", "alpha", "ens_err")
      .orderBy("round")
  }
}
