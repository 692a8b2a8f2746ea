package graft

import graft.cluster.KMeansGraft
import graft.core.{FitCache, Tables}
import graft.ensemble.{Boosting, Forest}
import graft.linear.GradientSolver
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the fit-once memoization discipline: identical
  * (input plan, hyperparameters) must HIT (same model instance, no
  * refit), while different data or different hyperparameters must MISS
  * (a distinct fit). The key must also be stable across separate reads
  * of the same table — that is what lets benchmark repeat runs and
  * sibling queries share one fit. */
class FitCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("same plan + params returns the memoized instance across fresh reads") {
    // two INDEPENDENT reads of the same table: the canonicalized plan
    // hash must agree or cross-query sharing silently degrades to refits
    val a = GradientSolver.fit(Tables.lineitem(spark, sf), Seq("l_quantity"),
      "l_extendedprice", GradientSolver.SquaredLoss, lr = 0.1, iters = 5)
    val b = GradientSolver.fit(Tables.lineitem(spark, sf), Seq("l_quantity"),
      "l_extendedprice", GradientSolver.SquaredLoss, lr = 0.1, iters = 5)
    assert(a eq b, "expected a memo hit (same instance) for identical plan+params")
  }

  test("different hyperparameters and different data both refit") {
    val li = Tables.lineitem(spark, sf)
    val base = GradientSolver.fit(li, Seq("l_quantity"), "l_extendedprice",
      GradientSolver.SquaredLoss, lr = 0.1, iters = 5)
    val moreIters = GradientSolver.fit(li, Seq("l_quantity"), "l_extendedprice",
      GradientSolver.SquaredLoss, lr = 0.1, iters = 6)
    assert(!(base eq moreIters), "different iters must not share a fit")
    val filtered = GradientSolver.fit(li.filter(col("l_orderkey") % 2 === 0),
      Seq("l_quantity"), "l_extendedprice", GradientSolver.SquaredLoss,
      lr = 0.1, iters = 5)
    assert(!(base eq filtered), "different input data must not share a fit")
  }

  test("key distinguishes sessions, plans, and stringified params") {
    val li = Tables.lineitem(spark, sf)
    val k1 = FitCache.key(li, "tag", 1, 2.0, "x")
    assert(k1 == FitCache.key(li, "tag", 1, 2.0, "x"))
    assert(k1 != FitCache.key(li, "tag", 1, 2.0, "y"))
    assert(k1 != FitCache.key(li.filter(col("l_orderkey") > 0), "tag", 1, 2.0, "x"))
  }

  test("LRU bound evicts the least-recently-served entry, not the hot one") {
    // direct string keys: eviction is a store property, independent of
    // plan hashing. Fill to the cap, keep touching entry "hot", then
    // overflow — "hot" must survive and the stale head must refit.
    val tag = s"evict_${System.nanoTime()}"
    (0 until FitCache.MaxEntries).foreach { i =>
      FitCache.getOrFit(s"$tag:$i")(java.lang.Integer.valueOf(i))
    }
    val hot = FitCache.getOrFit(s"$tag:0")(java.lang.Integer.valueOf(-1))
    assert(hot.intValue() == 0, "touching inside the cap must be a hit")
    // one past the cap evicts exactly one victim: the least-recently-used
    // entry (key 1 — key 0 was just served)
    FitCache.getOrFit(s"$tag:overflow")(java.lang.Integer.valueOf(999))
    val survivor = FitCache.getOrFit(s"$tag:0")(java.lang.Integer.valueOf(-2))
    assert(survivor.intValue() == 0, "recently-served entry must survive eviction")
    val evicted = FitCache.getOrFit(s"$tag:1")(java.lang.Integer.valueOf(-3))
    assert(evicted.intValue() == -3, "LRU victim must have been evicted (refit)")
  }

  test("stats counts hits and misses and live stays within the cap") {
    val (h0, m0, _) = FitCache.stats
    val tag = s"stats_${System.nanoTime()}"
    FitCache.getOrFit(s"$tag:a")(java.lang.Integer.valueOf(1))
    FitCache.getOrFit(s"$tag:a")(java.lang.Integer.valueOf(2))
    val (h1, m1, live) = FitCache.stats
    assert(m1 - m0 >= 1, "first request must count as a miss")
    assert(h1 - h0 >= 1, "second request must count as a hit")
    assert(live <= FitCache.MaxEntries, s"live entries $live exceed the cap")
  }

  test("getOrFit refuses a Dataset and stores nothing") {
    val k = s"frame_${System.nanoTime()}"
    intercept[IllegalArgumentException](FitCache.getOrFit(k)(spark.range(3).toDF()))
    val v = java.lang.Integer.valueOf(7)
    assert(FitCache.getOrFit(k)(v) eq v, "the refused frame must not have been stored")
  }

  /** (hits, misses) since the last FitCache.clear(). */
  private def hitsMisses: (Long, Long) = { val (h, m, _) = FitCache.stats; (h, m) }

  test("the forest's two views share one FitCache fit, and clear() reaches it") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    FitCache.clear()
    Forest.classifierSummary(li, feats, "l_returnflag", numTrees = 3, maxDepth = 3)
    assert(hitsMisses == ((0L, 1L)), "summary")
    Forest.classifierImportances(li, feats, "l_returnflag", numTrees = 3, maxDepth = 3)
    assert(hitsMisses == ((1L, 1L)), "importances")
    FitCache.clear()
    Forest.classifierImportances(li, feats, "l_returnflag", numTrees = 3, maxDepth = 3)
    assert(hitsMisses == ((0L, 1L)), "after clear")
  }

  test("the forest regressor's gate and summary share one FitCache fit") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    FitCache.clear()
    Forest.regressorGate(li, feats, "l_extendedprice", numTrees = 3, maxDepth = 3)
    assert(hitsMisses == ((0L, 1L)), "gate")
    Forest.regressorSummary(li, feats, "l_extendedprice", numTrees = 3, maxDepth = 3)
    assert(hitsMisses == ((1L, 1L)), "summary")
  }

  test("forest inference's gate and summary share one FitCache fit") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val (train, score) = (li.filter(col("l_orderkey") % 4 =!= 0), li.filter(col("l_orderkey") % 4 === 0))
    FitCache.clear()
    Forest.inferenceGate(train, score, feats, "l_extendedprice", numTrees = 3)
    assert(hitsMisses == ((0L, 1L)), "gate")
    Forest.inferenceSummary(train, score, feats, "l_extendedprice", numTrees = 3)
    assert(hitsMisses == ((1L, 1L)), "summary")
  }

  test("KMeans' summary and gate share one FitCache fit") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    FitCache.clear()
    KMeansGraft.fitSummary(li, feats, 4, maxIter = 5)
    assert(hitsMisses == ((0L, 1L)), "summary")
    KMeansGraft.fitGate(li, feats, 4, maxIter = 5)
    assert(hitsMisses == ((1L, 1L)), "gate")
  }

  test("logreg and qn_logreg share one FitCache fit") {
    FitCache.clear()
    SparkEntry.queries("logreg")(spark, sf).collect()
    assert(hitsMisses == ((0L, 1L)), "logreg")
    SparkEntry.queries("qn_logreg")(spark, sf).collect()
    assert(hitsMisses == ((1L, 1L)), "qn_logreg")
  }

  test("repeated fitGBT calls share one FitCache fit, and clear() reaches it") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount")
    val label = col("l_extendedprice") / 100000.0
    FitCache.clear()
    val a = Boosting.fitGBT(li, feats, label, rounds = 2, lr = 0.5)
    assert(hitsMisses == ((0L, 1L)), "first")
    assert(Boosting.fitGBT(li, feats, label, rounds = 2, lr = 0.5) eq a)
    assert(hitsMisses == ((1L, 1L)), "second")
    FitCache.clear()
    assert(!(Boosting.fitGBT(li, feats, label, rounds = 2, lr = 0.5) eq a))
    assert(hitsMisses == ((0L, 1L)), "after clear")
  }
}
