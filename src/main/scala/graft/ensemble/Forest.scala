package graft.ensemble

import graft.core.Num.r4
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random forests + forest inference (reference python/cuml/ensemble/
  * randomforestclassifier.pyx, randomforestregressor.pyx, fil/fil.pyx).
  *
  * MLlib's distributed histogram-based tree growth IS the Spark-native
  * answer to cuML's GPU forest builder. ForestInference (FIL) maps to a
  * broadcast model applied through a codegen'd transform — a pure map at
  * scoring time, which is the part that runs over 100 TB.
  */
object Forest {
  private def withFeatures(df: DataFrame, features: Seq[String],
                           extra: Seq[(String, Column)]): DataFrame = {
    val base = df.select(features.map(c => col(c).cast("double").as(c)) ++
      extra.map { case (n, c) => c.as(n) }: _*)
    new VectorAssembler().setInputCols(features.toArray).setOutputCol("_fv")
      .transform(base)
  }

  /** Histogram resolution matching the reference's default (n_bins = 8 in
    * randomforestclassifier.pyx:308) — MLlib's 32-bin default quadruples the
    * split-stats cost for no fidelity gain over the reference. maxDepth
    * stays at 5 (vs the reference's 16): depth-16 level-wise training is a
    * 2¹⁶-node frontier — not a 100 TB-viable setting on any engine. */
  private val MaxBins = 8

  /** One seeded classifier fit shared by [[classifierSummary]] and
    * [[classifierImportances]] — the two queries are different VIEWS of the
    * same fitted estimator (exactly the reference's fit-once object with
    * `predict` and `feature_importances_` accessors), so the fit is
    * memoized in FitCache. The fit is deterministic given the seed, the
    * model holds only driver-local trees, and both queries stay
    * independently callable. */
  private def fitClassifier(df: DataFrame, features: Seq[String], labelCol: String,
                            numTrees: Int, maxDepth: Int,
                            seed: Long): (DataFrame, RandomForestClassificationModel) = {
    val input = indexedInput(df, features, labelCol)
    // key on the RAW caller plan, not the assembled/indexed one:
    // VectorAssembler and StringIndexerModel wrap per-instance UDF closures
    // whose canonical form differs on every call
    (input, graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "rf_cls",
        features.mkString(","), labelCol, numTrees, maxDepth, seed, MaxBins)) {
      new RandomForestClassifier().setFeaturesCol("_fv").setLabelCol("_lab")
        .setNumTrees(numTrees).setMaxDepth(maxDepth).setMaxBins(MaxBins).setSeed(seed)
        .fit(input)
    })
  }

  private def indexedInput(df: DataFrame, features: Seq[String], labelCol: String): DataFrame = {
    val input0 = withFeatures(df, features, Seq("_labstr" -> col(labelCol)))
    val si = new StringIndexer().setInputCol("_labstr").setOutputCol("_lab")
      .setStringOrderType("alphabetAsc")
    si.fit(input0).transform(input0)
  }

  /** The seeded regressor fit shared by [[regressorSummary]] and
    * [[regressorGate]], memoized like [[fitClassifier]] (keyed on the raw
    * caller frame). Returns the assembled input with the model. */
  private def fitRegressor(df: DataFrame, features: Seq[String], labelCol: String,
                           numTrees: Int, maxDepth: Int,
                           seed: Long): (DataFrame, RandomForestRegressionModel) = {
    val input = withFeatures(df, features, Seq("_y" -> col(labelCol).cast("double")))
    (input, graft.core.FitCache.getOrFit(graft.core.FitCache.key(df,
        "rf_reg", features.mkString(","), labelCol, numTrees, maxDepth, seed, MaxBins)) {
      new RandomForestRegressor().setFeaturesCol("_fv").setLabelCol("_y")
        .setNumTrees(numTrees).setMaxDepth(maxDepth).setMaxBins(MaxBins).setSeed(seed)
        .fit(input)
    })
  }

  /** The depth-5 train-split fit shared by [[inferenceSummary]] and
    * [[inferenceGate]], memoized on the raw train frame. */
  private def fitInference(train: DataFrame, features: Seq[String], labelCol: String,
                           numTrees: Int, seed: Long): RandomForestRegressionModel =
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(train,
      "rf_infer", features.mkString(","), labelCol, numTrees, seed, MaxBins)) {
      // cache the assembled train split: MLlib's tree growth iterates over it,
      // and the upstream split filter (md5 per row) must not re-run per pass
      val input = withFeatures(train, features, Seq("_y" -> col(labelCol).cast("double")))
        .select(col("_fv"), col("_y")).cache()
      input.count() // materialize before the iterative fit
      try {
        new RandomForestRegressor().setFeaturesCol("_fv").setLabelCol("_y")
          .setNumTrees(numTrees).setMaxDepth(5).setMaxBins(MaxBins).setSeed(seed).fit(input)
      } finally input.unpersist(blocking = false)
    }

  /** Train a seeded RF classifier; return per-class prediction counts and
    * per-class precision (deterministic given the seed). */
  def classifierSummary(df: DataFrame, features: Seq[String], labelCol: String,
                        numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val (input, model) = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed)
    val scored = model.transform(input)
    scored.groupBy(col("prediction").cast("long").as("pred_class"))
      .agg(count(lit(1)).cast("long").as("n"),
        r4(avg(when(col("prediction") === col("_lab"), 1.0).otherwise(0.0))).as("class_precision"))
      .orderBy(col("pred_class"))
  }

  /** Gini-based feature importances of the seeded RF classifier (reference
    * randomforest's feature_importances_): MLlib accumulates per-split
    * impurity gains during the distributed fit, so this is free at any
    * scale — the output is just the normalized vector. */
  def classifierImportances(df: DataFrame, features: Seq[String], labelCol: String,
                            numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val imp = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed)._2
      .featureImportances
    val spark = df.sparkSession
    import spark.implicits._
    features.zipWithIndex.map { case (f, i) =>
      (f, math.rint(imp(i) * 10000) / 10000)
    }.toDF("feature", "importance").orderBy(col("importance").desc, col("feature"))
  }

  def regressorSummary(df: DataFrame, features: Seq[String], labelCol: String,
                       numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val (input, model) = fitRegressor(df, features, labelCol, numTrees, maxDepth, seed)
    val scored = model.transform(input)
    scored.agg(
      r4(sqrt(avg((col("prediction") - col("_y")) * (col("prediction") - col("_y"))))).as("train_rmse"),
      r4(avg(abs(col("prediction") - col("_y")))).as("train_mae"),
      count(lit(1)).cast("long").as("n"))
  }

  /** PARTIAL HASH GATE row for the seeded RF classifier (ann_ivf
    * precedent): the SQL-exact slice (scored-row count) plus the exact
    * forest invariant — every prediction is a label index — and the
    * quality floor acc >= majority-class share (the constant majority
    * predictor is the forest's floor; spec-gated separately). The seeded
    * tree structure itself stays engine-internal. */
  def classifierGate(df: DataFrame, features: Seq[String], labelCol: String,
                     numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val (input, model) = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed)
    val scored = model.transform(input)
    val kMax = (model.numClasses - 1).toDouble
    scored.agg(
        count(lit(1)).cast("long").as("_n"),
        max(col("prediction")).as("_pmax"), min(col("prediction")).as("_pmin"),
        avg(when(col("prediction") === col("_lab"), 1.0).otherwise(0.0)).as("_acc"))
      .select(col("_n").as("n_rows"),
        (col("_pmax") <= kMax && col("_pmin") >= 0.0).as("preds_in_label_set"),
        (col("_acc") >= majorityShare(input)).as("acc_ge_majority"))
  }

  /** Majority-class share of the indexed input — class-count groupBy
    * collects <= numClasses rows (bounded driver state). */
  private def majorityShare(input: DataFrame): Double = {
    val counts = input.groupBy(col("_lab")).agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1))
    counts.max.toDouble / counts.sum
  }

  /** Gini importances as a PARTIAL HASH GATE: per-feature non-negativity
    * plus the normalization invariant sum == 1 (exact — MLlib normalizes
    * the accumulated impurity gains); the continuous vector stays
    * spec-gated. */
  def importanceGate(df: DataFrame, features: Seq[String], labelCol: String,
                     numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val imp = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed)._2
      .featureImportances
    val sumOk = math.abs((0 until features.size).map(imp(_)).sum - 1.0) < 1e-9
    val spark = df.sparkSession
    import spark.implicits._
    features.zipWithIndex.map { case (f, i) => (f, imp(i) >= 0.0, sumOk) }
      .toDF("feature", "imp_nonneg", "sums_to_one").orderBy("feature")
  }

  /** PARTIAL HASH GATE for the RF regressor: count (SQL-exact) + two
    * invariants — tree leaves are subsample means, so forest predictions
    * stay inside the train label range (exact), and the depth-5 forest's
    * train RMSE does not exceed the constant-mean predictor's stddev. */
  def regressorGate(df: DataFrame, features: Seq[String], labelCol: String,
                    numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val (input, model) = fitRegressor(df, features, labelCol, numTrees, maxDepth, seed)
    model.transform(input).agg(
        count(lit(1)).cast("long").as("_n"),
        min(col("prediction")).as("_plo"), max(col("prediction")).as("_phi"),
        min(col("_y")).as("_ylo"), max(col("_y")).as("_yhi"),
        sqrt(avg((col("prediction") - col("_y")) * (col("prediction") - col("_y")))).as("_rmse"),
        stddev_pop(col("_y")).as("_sd"))
      .select(col("_n").as("n_rows"),
        (col("_plo") >= col("_ylo") && col("_phi") <= col("_yhi")).as("preds_in_label_range"),
        (col("_rmse") <= col("_sd")).as("rmse_le_sd"))
  }

  /** PARTIAL HASH GATE for forest inference on a held-out split: the
    * scored-row count is SQL-exact (the md5 hash split replays in DuckDB)
    * and out-of-sample predictions inherit the train label range (exact —
    * forest outputs are averages of train leaf means). */
  def inferenceGate(train: DataFrame, score: DataFrame, features: Seq[String],
                    labelCol: String, numTrees: Int = 20, seed: Long = 42L): DataFrame = {
    val model = fitInference(train, features, labelCol, numTrees, seed)
    val r = train.agg(min(col(labelCol).cast("double")), max(col(labelCol).cast("double"))).head()
    val (ylo, yhi) = (r.getDouble(0), r.getDouble(1))
    model.transform(withFeatures(score, features, Seq.empty)).agg(
        count(lit(1)).cast("long").as("_n"),
        min(col("prediction")).as("_plo"), max(col("prediction")).as("_phi"))
      .select(col("_n").as("n_scored"),
        (col("_plo") >= ylo && col("_phi") <= yhi).as("preds_in_train_range"))
  }

  /** A literal decision tree scored as a pure codegen CASE chain — the
    * kmeans_assign/softmax_predict fixed-model pattern applied to forest
    * inference: this is EXACTLY what FIL compiles a tree to (a branch-free
    * scoring kernel over broadcast node parameters; fil/fil.pyx), so the
    * claim "forest scoring is a zero-shuffle codegen map at any corpus
    * size" gets a hash gate the seeded MLlib fits can't provide.
    * `tree` = (featureIdx, threshold, left, right) recursive spec. */
  sealed trait TreeNode
  final case class Leaf(value: Double) extends TreeNode
  final case class Split(feature: Int, threshold: Double,
                         left: TreeNode, right: TreeNode) extends TreeNode

  /** Score expression: features(f) <= thr → left else right. */
  def treeScore(features: Seq[Column], tree: TreeNode): Column = tree match {
    case Leaf(v) => lit(v)
    case Split(f, thr, l, r) =>
      when(features(f) <= thr, treeScore(features, l))
        .otherwise(treeScore(features, r))
  }

  /** Per-leaf summary of a literal-tree scoring pass: (prediction, n,
    * mean_label) — one codegen scan + one tiny aggregate. */
  def treePredictSummary(df: DataFrame, features: Seq[String], labelCol: String,
                         tree: TreeNode): DataFrame = {
    val cols = features.map(c => col(c).cast("double"))
    df.select(treeScore(cols, tree).as("prediction"),
        col(labelCol).cast("double").as("_y"))
      .groupBy(col("prediction"))
      .agg(count(lit(1)).cast("long").as("n"), r4(avg(col("_y"))).as("mean_label"))
      .orderBy("prediction")
  }

  /** FIL-style inference: train once, broadcast the model, score a stream
    * of rows through the codegen'd transform; output is the score
    * distribution — the inference pass itself is shuffle-free. */
  def inferenceSummary(train: DataFrame, score: DataFrame, features: Seq[String],
                       labelCol: String, numTrees: Int = 20, seed: Long = 42L): DataFrame = {
    val scored = fitInference(train, features, labelCol, numTrees, seed)
      .transform(withFeatures(score, features, Seq.empty))
    scored.agg(
      count(lit(1)).cast("long").as("n_scored"),
      r4(avg(col("prediction"))).as("mean_pred"),
      r4(stddev_samp(col("prediction"))).as("sd_pred"))
  }
}
