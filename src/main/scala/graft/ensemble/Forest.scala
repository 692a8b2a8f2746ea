package graft.ensemble

import scala.collection.mutable

import graft.core.{FitCache, Rows}
import graft.core.Num.{r4, round4}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random forests + forest inference (reference python/cuml/ensemble/
  * randomforestclassifier.pyx, randomforestregressor.pyx, fil/fil.pyx).
  *
  * graft grows the trees itself, level by level from per-node histograms:
  * the design of cuML's GPU builder and of PLANET (Panda et al., VLDB
  * 2009). A fit is:
  *  - a prepare pass over the caller's frame: the sorted distinct labels
  *    (the classifier's class indexes) and a bounded seeded sample that
  *    fixes at most [[MaxBins]] bins per feature;
  *  - the features and the label index (classifier) or y (regressor)
  *    cached once as primitive rows ([[graft.core.Rows]]);
  *  - one pass over those rows per tree level, building the (tree, node,
  *    feature, bin) histograms of every tree's frontier (class weights, or
  *    the weight, Σy and Σy²) merged in partition order, so a fit repeats
  *    bit for bit; the driver picks each node's best Gini / variance split
  *    and accumulates the feature importances;
  *  - one last pass that scores the training rows with the trees in the
  *    closure (the summary and gate views read its statistics).
  * Bootstrap is a seeded Poisson(1) weight per (tree, partition, row
  * offset); each node draws a seeded feature subset, √p for the
  * classifier and p/3 for the regressor. A one-tree forest uses every row
  * and every feature, as MLlib's "auto" strategy does. No fitted value
  * enters a Catalyst plan, so a fit compiles no class of its own. The
  * trees are [[TreeNode]]s: forest inference (FIL) scores them as the
  * codegen'd CASE chains of [[treeScore]].
  */
object Forest {
  /** A decision tree: features(f) <= threshold goes left. Fitted forests,
    * literal scoring trees and ModelIO's tree codec all use it. */
  sealed trait TreeNode
  final case class Leaf(value: Double) extends TreeNode
  final case class Split(feature: Int, threshold: Double,
                         left: TreeNode, right: TreeNode) extends TreeNode

  /** Histogram resolution matching the reference's default (n_bins = 8 in
    * randomforestclassifier.pyx:308). maxDepth stays at 5 (vs the
    * reference's 16): depth-16 level-wise training is a 2¹⁶-node frontier,
    * not a 100 TB-viable setting on any engine. */
  private val MaxBins = 8

  /** Rows in the bounded sample that places the bins of a feature with
    * more than [[MaxBins]] distinct values. */
  private val SampleN = 10000

  /** A fitted forest: the trees, the normalized importances, the sorted
    * labels (classifier), the training label range (regressor) and the
    * training-scoring statistics of [[trainPass]] (empty unless scored). */
  private[graft] final case class Fit(trees: IndexedSeq[TreeNode], importances: Array[Double],
                                      labels: Array[String], yRange: (Double, Double),
                                      train: Array[Double])

  /** SplitMix64 finalizer: the seeded keys of the sample, the bootstrap
    * weights and the feature subsets. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def key(seed: Long, a: Long, b: Long, c: Long): Long = mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)

  /** A Poisson(1) draw by inversion of the uniform in a key's top 53 bits. */
  private def poisson(h: Long): Int = {
    val u = (h >>> 11) * (1.0 / (1L << 53))
    var k = 0
    var pk = math.exp(-1.0)
    var cdf = pk
    while (u > cdf && k < 64) { k += 1; pk /= k; cdf += pk }
    k
  }

  /** The prepare pass's partial: the row count, per feature its sorted
    * distinct values while there are at most MaxBins (null past that), the
    * SampleN rows of lowest seeded key (a uniform sample without
    * replacement), the label's distinct strings (classifier) and its range
    * (regressor). */
  private final case class Prep(n: Long, distinct: Array[Array[Double]],
                                sample: Array[(Long, Array[Double])], labels: Array[String],
                                lo: Double, hi: Double)

  private def mergePrep(a: Prep, b: Prep): Prep = Prep(a.n + b.n,
    a.distinct.zip(b.distinct).map { case (x, y) =>
      if (x == null || y == null) null
      else { val u = (x ++ y).distinct.sorted; if (u.length > MaxBins) null else u }
    },
    (a.sample ++ b.sample).sortBy(_._1).take(SampleN), (a.labels ++ b.labels).distinct.sorted,
    math.min(a.lo, b.lo), math.max(a.hi, b.hi))

  /** One closure pass over the caller's frame. A null feature or label
    * fails the fit, as MLlib's VectorAssembler and StringIndexer do. */
  private def prepare(df: DataFrame, features: Seq[String], labelCol: String,
                      classify: Boolean, seed: Long): Prep = {
    val p = features.size
    val label = col(labelCol).cast(if (classify) "string" else "double")
    Rows.fold(df.select(features.map(f => col(f).cast("double")) :+ label: _*).rdd) { (part, it) =>
      val distinct = Array.fill[mutable.Set[Double]](p)(mutable.Set.empty)
      val heap = mutable.PriorityQueue.empty[(Long, Array[Double])](Ordering.by(_._1))
      val labels = mutable.Set.empty[String]
      var (n, lo, hi) = (0L, Double.PositiveInfinity, Double.NegativeInfinity)
      it.foreach { r =>
        if (r.isNullAt(p)) throw new IllegalArgumentException(s"null $labelCol in row $r")
        val x = Array.tabulate(p) { i =>
          if (r.isNullAt(i)) throw new IllegalArgumentException(s"null ${features(i)} in row $r")
          r.getDouble(i)
        }
        if (classify) labels += r.getString(p)
        else { lo = math.min(lo, r.getDouble(p)); hi = math.max(hi, r.getDouble(p)) }
        for (f <- 0 until p if distinct(f) != null) {
          distinct(f) += x(f)
          if (distinct(f).size > MaxBins) distinct(f) = null
        }
        val k = key(seed, -1L, part, n)
        if (heap.size < SampleN) heap.enqueue((k, x))
        else if (k < heap.head._1) { heap.dequeue(); heap.enqueue((k, x)) }
        n += 1
      }
      Prep(n, distinct.map(s => if (s == null) null else s.toArray.sorted),
        heap.toArray.sortBy(_._1), labels.toArray.sorted, lo, hi)
    }(mergePrep)
  }

  /** Each feature's split thresholds (x <= t goes left), at most
    * MaxBins − 1 of them, so at most MaxBins bins: every distinct value but
    * the largest where the feature has at most MaxBins, else the
    * MaxBins-quantiles of the sample below its largest value. */
  private def thresholds(prep: Prep, p: Int): Array[Array[Double]] = Array.tabulate(p) { f =>
    val d = prep.distinct(f)
    if (d != null) d.dropRight(1)
    else {
      val s = prep.sample.map(_._2(f)).sorted
      val m = s.length
      (1 until MaxBins).map(b => s(math.max(0, b * m / MaxBins - 1))).distinct
        .filter(_ < s.last).toArray
    }
  }

  /** The bin of `x` under thresholds `t`: the first b with x <= t(b), else
    * t.length (NaN goes right, as it does in [[treeScore]]). */
  private def bin(t: Array[Double], x: Double): Int = {
    var b = 0
    while (b < t.length && !(x <= t(b))) b += 1
    b
  }

  /** A tree as flat arrays, the form the passes carry in their closures:
    * node i splits on feat(i) at thr(i) into left(i)/right(i), or is a
    * leaf (feat -1) with value(i). */
  private final case class Flat(feat: Array[Int], thr: Array[Double], left: Array[Int],
                                right: Array[Int], value: Array[Double]) {
    def leafOf(x: Array[Double]): Int = {
      var i = 0
      while (feat(i) >= 0) i = if (x(feat(i)) <= thr(i)) left(i) else right(i)
      i
    }

    def node(i: Int = 0): TreeNode =
      if (feat(i) < 0) Leaf(value(i)) else Split(feat(i), thr(i), node(left(i)), node(right(i)))
  }

  /** A tree the driver grows: nodes are appended as leaves and turned into
    * splits. */
  private final class Growing {
    val feat, left, right = mutable.ArrayBuffer.empty[Int]
    val thr, value = mutable.ArrayBuffer.empty[Double]

    def leaf(v: Double): Int = {
      feat += -1; thr += 0.0; left += -1; right += -1; value += v
      feat.length - 1
    }

    def flat: Flat = Flat(feat.toArray, thr.toArray, left.toArray, right.toArray, value.toArray)
  }

  /** One level: for every frontier node (slot s of trees(t), slots(t)(node)
    * >= 0) and feature f, the per-bin statistics of the rows that reach it,
    * weighted by their bootstrap draw: class weights (k classes, label
    * index in column p) or (w, Σw·y, Σw·y²) (k = 0, y in column p). Layout:
    * slot, then feature (`off`), then bin, then statistic. */
  private def levelPass(rows: RDD[Array[Double]], thr: Array[Array[Double]], trees: Array[Flat],
                        slots: Array[Array[Int]], nSlots: Int, off: Array[Int], k: Int,
                        bootstrap: Boolean, seed: Long): Array[Double] = {
    val p = thr.length
    val width = off(p)
    val s = if (k > 0) k else 3
    Rows.fold(rows) { (part, it) =>
      val h = new Array[Double](nSlots * width)
      val bins = new Array[Int](p)
      var i = 0L
      it.foreach { x =>
        var f = 0
        while (f < p) { bins(f) = bin(thr(f), x(f)); f += 1 }
        var t = 0
        while (t < trees.length) {
          val w = if (bootstrap) poisson(key(seed, t, part, i)) else 1
          val slot = if (w > 0) slots(t)(trees(t).leafOf(x)) else -1
          if (slot >= 0) {
            f = 0
            while (f < p) {
              val o = slot * width + off(f) + bins(f) * s
              if (k > 0) h(o + x(p).toInt) += w
              else { val y = x(p); h(o) += w; h(o + 1) += w * y; h(o + 2) += w * y * y }
              f += 1
            }
          }
          t += 1
        }
        i += 1
      }
      h
    }(Rows.add)
  }

  /** Gini impurity of class weights, or variance of (w, Σwy, Σwy²). */
  private def impurity(st: Array[Double], k: Int): Double =
    if (k > 0) {
      val w = st.sum
      1.0 - st.map(c => (c / w) * (c / w)).sum
    } else st(2) / st(0) - (st(1) / st(0)) * (st(1) / st(0))

  private def weight(st: Array[Double], k: Int): Double = if (k > 0) st.sum else st(0)

  /** The majority class index (the lowest on a tie), or the weighted mean. */
  private def prediction(st: Array[Double], k: Int): Double =
    if (k > 0) st.indices.maxBy(c => (st(c), -c)).toDouble else st(1) / st(0)

  /** Grows `numTrees` trees of depth at most `maxDepth` over the cached
    * rows (features, then the label index of `k` classes or, k = 0, y):
    * one [[levelPass]] per level while a frontier remains. Returns the
    * trees and the importances: each split's gain times its node weight,
    * normalized per tree, summed over trees and normalized (MLlib's
    * featureImportances). */
  private def grow(rows: RDD[Array[Double]], thr: Array[Array[Double]], k: Int, numTrees: Int,
                   maxDepth: Int, seed: Long): (IndexedSeq[Flat], Array[Double]) = {
    require(numTrees >= 1 && maxDepth >= 0, s"numTrees $numTrees, maxDepth $maxDepth")
    val p = thr.length
    val s = if (k > 0) k else 3
    val off = thr.map(_.length + 1).scanLeft(0)(_ + _).map(_ * s)
    val sampling = numTrees > 1
    val nSub = if (!sampling) p
      else if (k > 0) math.ceil(math.sqrt(p.toDouble)).toInt else math.ceil(p / 3.0).toInt
    val trees = Array.fill(numTrees)(new Growing)
    trees.foreach(_.leaf(0.0))
    val imp = Array.fill(numTrees)(new Array[Double](p))
    var frontier: Seq[(Int, Int)] = (0 until numTrees).map(t => (t, 0))
    var depth = 0
    while (frontier.nonEmpty) {
      val slots = trees.map(tr => Array.fill(tr.feat.length)(-1))
      frontier.zipWithIndex.foreach { case ((t, node), slot) => slots(t)(node) = slot }
      val h = levelPass(rows, thr, trees.map(_.flat), slots, frontier.size, off, k, sampling, seed)
      val next = mutable.ArrayBuffer.empty[(Int, Int)]
      for (((t, node), slot) <- frontier.zipWithIndex) {
        val base = slot * off(p)
        // the statistics of feature f's bins b0 until b1
        def stats(f: Int, b0: Int, b1: Int): Array[Double] = {
          val a = new Array[Double](s)
          for (b <- b0 until b1; c <- 0 until s) a(c) += h(base + off(f) + b * s + c)
          a
        }
        val tot = stats(0, 0, thr(0).length + 1)
        val tr = trees(t)
        tr.value(node) = prediction(tot, k)
        val parent = impurity(tot, k)
        val w = weight(tot, k)
        var best = (0.0, -1, -1, tot, tot)
        if (depth < maxDepth && parent > 0.0) {
          val feats = if (nSub >= p) 0 until p
            else new scala.util.Random(key(seed, t, node, -2L)).shuffle((0 until p).toVector)
              .take(nSub).sorted
          for (f <- feats; j <- thr(f).indices) {
            val (l, r) = (stats(f, 0, j + 1), stats(f, j + 1, thr(f).length + 1))
            val (wl, wr) = (weight(l, k), weight(r, k))
            if (wl > 0 && wr > 0) {
              val gain = parent - wl / w * impurity(l, k) - wr / w * impurity(r, k)
              if (gain > best._1) best = (gain, f, j, l, r)
            }
          }
        }
        val (gain, f, j, l, r) = best
        if (f >= 0) {
          tr.feat(node) = f
          tr.thr(node) = thr(f)(j)
          tr.left(node) = tr.leaf(prediction(l, k))
          tr.right(node) = tr.leaf(prediction(r, k))
          imp(t)(f) += gain * w
          for ((child, st) <- Seq((tr.left(node), l), (tr.right(node), r))
               if depth + 1 < maxDepth && impurity(st, k) > 0.0) next += ((t, child))
        }
      }
      frontier = next.toSeq
      depth += 1
    }
    val total = new Array[Double](p)
    for (v <- imp) {
      val sum = v.sum
      if (sum > 0) for (f <- 0 until p) total(f) += v(f) / sum
    }
    val sum = total.sum
    (trees.map(_.flat).toIndexedSeq, if (sum > 0) total.map(_ / sum) else total)
  }

  /** Scores the training rows with the trees in the closure, in one pass.
    * Classifier (k classes): the k×k confusion counts, predicted class
    * major, the prediction the trees' majority vote (the lowest class on
    * a tie). Regressor: (n, Σ(pred − y)², Σ|pred − y|, rows predicted
    * outside [lo, hi], mean y, Σ(y − mean)²), the prediction the mean of
    * the trees' leaves; y's moments merge as Welford/Chan. */
  private def trainPass(rows: RDD[Array[Double]], trees: IndexedSeq[Flat], p: Int, k: Int,
                        lo: Double, hi: Double): Array[Double] =
    if (k > 0) Rows.fold(rows) { (_, it) =>
      val a = new Array[Double](k * k)
      val votes = new Array[Int](k)
      it.foreach { x =>
        java.util.Arrays.fill(votes, 0)
        trees.foreach(tr => votes(tr.value(tr.leafOf(x)).toInt) += 1)
        var best = 0
        for (c <- 1 until k) if (votes(c) > votes(best)) best = c
        a(best * k + x(p).toInt) += 1
      }
      a
    }(Rows.add)
    else Rows.fold(rows) { (_, it) =>
      val a = new Array[Double](6)
      it.foreach { x =>
        val y = x(p)
        val pred = trees.map(tr => tr.value(tr.leafOf(x))).sum / trees.size
        a(0) += 1
        a(1) += (pred - y) * (pred - y)
        a(2) += math.abs(pred - y)
        if (pred < lo || pred > hi) a(3) += 1
        val d = y - a(4)
        a(4) += d / a(0)
        a(5) += d * (y - a(4))
      }
      a
    } { (a, b) =>
      if (a(0) == 0) b
      else if (b(0) == 0) a
      else {
        val nt = a(0) + b(0)
        val d = b(4) - a(4)
        a(5) += b(5) + d * d * a(0) * b(0) / nt
        a(4) += d * b(0) / nt
        for (i <- 0 until 4) a(i) += b(i)
        a
      }
    }

  /** One seeded fit: the prepare pass, the rows cached once, one pass per
    * level, and (`score`) one training-scoring pass; the rows are
    * unpersisted before it returns. */
  private[graft] def fit(df: DataFrame, features: Seq[String], labelCol: String,
                         classify: Boolean, numTrees: Int, maxDepth: Int, seed: Long,
                         score: Boolean = true): Fit = {
    val p = features.size
    val prep = prepare(df, features, labelCol, classify, seed)
    require(prep.n > 0, "forest: no rows")
    val labels = prep.labels
    val label = if (classify) {
      val index = udf((s: String) => labels.indexOf(s).toDouble)
      index(col(labelCol).cast("string"))
    } else col(labelCol)
    val k = labels.length
    val rows = Rows.cached(df, features.map(col) :+ label)
    try {
      val (trees, imp) = grow(rows, thresholds(prep, p), k, numTrees, maxDepth, seed)
      Fit(trees.map(_.node()), imp, labels, (prep.lo, prep.hi),
        if (score) trainPass(rows, trees, p, k, prep.lo, prep.hi) else Array.empty)
    } finally rows.unpersist(blocking = false)
  }

  /** The seeded classifier fit shared by [[classifierSummary]],
    * [[classifierGate]], [[classifierImportances]] and [[importanceGate]]:
    * different views of one fitted estimator (the reference's fit-once
    * object with `predict` and `feature_importances_`), memoized in
    * FitCache on the caller's frame. */
  private def fitClassifier(df: DataFrame, features: Seq[String], labelCol: String,
                            numTrees: Int, maxDepth: Int, seed: Long): Fit =
    FitCache.getOrFit(FitCache.key(df, "rf_cls", features.mkString(","), labelCol, numTrees,
      maxDepth, seed, MaxBins)) {
      fit(df, features, labelCol, classify = true, numTrees, maxDepth, seed)
    }

  /** The seeded regressor fit shared by [[regressorSummary]] and
    * [[regressorGate]], memoized like [[fitClassifier]]. */
  private def fitRegressor(df: DataFrame, features: Seq[String], labelCol: String,
                           numTrees: Int, maxDepth: Int, seed: Long): Fit =
    FitCache.getOrFit(FitCache.key(df, "rf_reg", features.mkString(","), labelCol, numTrees,
      maxDepth, seed, MaxBins)) {
      fit(df, features, labelCol, classify = false, numTrees, maxDepth, seed)
    }

  /** The depth-5 train-split fit shared by [[inferenceSummary]] and
    * [[inferenceGate]], memoized on the raw train frame. */
  private def fitInference(train: DataFrame, features: Seq[String], labelCol: String,
                           numTrees: Int, seed: Long): Fit =
    FitCache.getOrFit(FitCache.key(train, "rf_infer", features.mkString(","), labelCol,
      numTrees, seed, MaxBins)) {
      fit(train, features, labelCol, classify = false, numTrees, maxDepth = 5, seed,
        score = false)
    }

  /** The confusion counts of a classifier fit, predicted class major. */
  private def confusion(f: Fit): Array[Array[Long]] =
    f.train.map(_.toLong).grouped(f.labels.length).toArray

  /** Train a seeded RF classifier; return per-class prediction counts and
    * per-class precision (deterministic given the seed). */
  def classifierSummary(df: DataFrame, features: Seq[String], labelCol: String,
                        numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val cm = confusion(fitClassifier(df, features, labelCol, numTrees, maxDepth, seed))
    val spark = df.sparkSession
    import spark.implicits._
    cm.indices.filter(c => cm(c).sum > 0).map { c =>
      (c.toLong, cm(c).sum, round4(cm(c)(c).toDouble / cm(c).sum))
    }.toDF("pred_class", "n", "class_precision")
  }

  /** Gini-based feature importances of the seeded RF classifier (reference
    * randomforest's feature_importances_), accumulated during the split
    * search: the output is just the normalized vector. */
  def classifierImportances(df: DataFrame, features: Seq[String], labelCol: String,
                            numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val imp = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed).importances
    val spark = df.sparkSession
    import spark.implicits._
    features.zip(imp.map(v => math.rint(v * 10000) / 10000))
      .sortBy { case (f, v) => (-v, f) }.toDF("feature", "importance")
  }

  def regressorSummary(df: DataFrame, features: Seq[String], labelCol: String,
                       numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val a = fitRegressor(df, features, labelCol, numTrees, maxDepth, seed).train
    val spark = df.sparkSession
    import spark.implicits._
    Seq((round4(math.sqrt(a(1) / a(0))), round4(a(2) / a(0)), a(0).toLong))
      .toDF("train_rmse", "train_mae", "n")
  }

  /** PARTIAL HASH GATE row for the seeded RF classifier (ann_ivf
    * precedent): the SQL-exact slice (scored-row count) plus the exact
    * forest invariant — every leaf, and so every prediction, is a label
    * index — and the quality floor acc >= majority-class share (the
    * constant majority predictor is the forest's floor). The seeded tree
    * structure itself stays engine-internal. */
  def classifierGate(df: DataFrame, features: Seq[String], labelCol: String,
                     numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val f = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed)
    val cm = confusion(f)
    val n = cm.map(_.sum).sum
    val majority = f.labels.indices.map(c => cm.map(_(c)).sum).max
    def leaves(t: TreeNode): Seq[Double] = t match {
      case Leaf(v) => Seq(v)
      case Split(_, _, l, r) => leaves(l) ++ leaves(r)
    }
    val inSet = f.trees.flatMap(leaves).forall(v => v >= 0 && v < f.labels.length && v == v.floor)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, inSet, cm.indices.map(c => cm(c)(c)).sum.toDouble / n >= majority.toDouble / n))
      .toDF("n_rows", "preds_in_label_set", "acc_ge_majority")
  }

  /** Gini importances as a PARTIAL HASH GATE: per-feature non-negativity
    * plus the normalization invariant sum == 1; the continuous vector
    * stays spec-gated. */
  def importanceGate(df: DataFrame, features: Seq[String], labelCol: String,
                     numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val imp = fitClassifier(df, features, labelCol, numTrees, maxDepth, seed).importances
    val sumOk = math.abs(imp.sum - 1.0) < 1e-9
    val spark = df.sparkSession
    import spark.implicits._
    features.zip(imp).map { case (f, v) => (f, v >= 0.0, sumOk) }.sortBy(_._1)
      .toDF("feature", "imp_nonneg", "sums_to_one")
  }

  /** PARTIAL HASH GATE for the RF regressor: count (SQL-exact) + two
    * invariants — tree leaves are subsample means, so forest predictions
    * stay inside the train label range (exact), and the forest's train
    * RMSE does not exceed the constant-mean predictor's stddev. */
  def regressorGate(df: DataFrame, features: Seq[String], labelCol: String,
                    numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val a = fitRegressor(df, features, labelCol, numTrees, maxDepth, seed).train
    val spark = df.sparkSession
    import spark.implicits._
    Seq((a(0).toLong, a(3) == 0, math.sqrt(a(1) / a(0)) <= math.sqrt(a(5) / a(0))))
      .toDF("n_rows", "preds_in_label_range", "rmse_le_sd")
  }

  /** The forest's prediction as a column: the mean of its trees'
    * [[treeScore]] chains. */
  private def forestScore(features: Seq[String], trees: Seq[TreeNode]): Column = {
    val cols = features.map(c => col(c).cast("double"))
    trees.map(treeScore(cols, _)).reduce(_ + _) / trees.size.toDouble
  }

  /** PARTIAL HASH GATE for forest inference on a held-out split: the
    * scored-row count is SQL-exact (the md5 hash split replays in DuckDB)
    * and out-of-sample predictions inherit the train label range (exact —
    * forest outputs are averages of train leaf means). */
  def inferenceGate(train: DataFrame, score: DataFrame, features: Seq[String],
                    labelCol: String, numTrees: Int = 20, seed: Long = 42L): DataFrame = {
    val f = fitInference(train, features, labelCol, numTrees, seed)
    val (ylo, yhi) = f.yRange
    score.select(forestScore(features, f.trees).as("prediction")).agg(
        count(lit(1)).cast("long").as("_n"),
        min(col("prediction")).as("_plo"), max(col("prediction")).as("_phi"))
      .select(col("_n").as("n_scored"),
        (col("_plo") >= ylo && col("_phi") <= yhi).as("preds_in_train_range"))
  }

  /** A tree scored as a pure codegen CASE chain — the kmeans_assign/
    * softmax_predict fixed-model pattern applied to forest inference: this
    * is EXACTLY what FIL compiles a tree to (a branch-free scoring kernel
    * over broadcast node parameters; fil/fil.pyx), so forest scoring is a
    * zero-shuffle codegen map at any corpus size. */
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

  /** FIL-style inference: train once, score a stream of rows through the
    * trees' codegen'd CASE chains; output is the score distribution — the
    * inference pass itself is shuffle-free. */
  def inferenceSummary(train: DataFrame, score: DataFrame, features: Seq[String],
                       labelCol: String, numTrees: Int = 20, seed: Long = 42L): DataFrame = {
    val f = fitInference(train, features, labelCol, numTrees, seed)
    score.select(forestScore(features, f.trees).as("prediction")).agg(
      count(lit(1)).cast("long").as("n_scored"),
      r4(avg(col("prediction"))).as("mean_pred"),
      r4(stddev_samp(col("prediction"))).as("sd_pred"))
  }
}
