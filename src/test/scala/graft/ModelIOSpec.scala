package graft

import graft.core.Tables
import graft.ensemble.{Boosting, Forest}
import graft.io.ModelIO
import graft.linear.{OLS, Softmax}
import graft.neighbors.PQ
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Save/load round-trip + scoring-parity gates — the graft counterpart of
  * the reference's pickle suite (python/cuml/test/test_pickle.py): every
  * persisted model must load back parameter-exact and score identically
  * to the freshly-fitted one. */
class ModelIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_modeliospec_$tag").toString

  test("linear model round-trips bit-exact and scores identically") {
    val li = Tables.lineitem(spark, sf)
    val m = OLS.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice")
    val path = tmp("lin")
    ModelIO.saveLinear(spark, m, path)
    val loaded = ModelIO.loadLinear(spark, path)
    assert(loaded.terms == m.terms)
    // bit-exact doubles (parquet stores IEEE754 doubles losslessly)
    assert(loaded.coefs.zip(m.coefs).forall { case (a, b) => a == b })
    // scoring parity: identical predictions on every row
    def score(mm: graft.linear.LinearModel) =
      li.select((lit(mm.coefs(0)) + lit(mm.coefs(1)) * col("l_quantity") +
        lit(mm.coefs(2)) * col("l_discount")).as("p"))
    assert(score(loaded).except(score(m)).isEmpty)
  }

  test("a load reads with the ParamRow schema: one job, no schema inference") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = tmp("onejob")
    ModelIO.saveLinear(spark, graft.linear.LinearModel(Seq("intercept", "x"), Seq(0.5, 2.0)), path)
    val sc = spark.sparkContext
    val group = "modelio-load"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ModelIO.loadLinear")
      val m = try ModelIO.loadLinear(spark, path) finally sc.clearJobGroup()
      org.apache.spark.graft.Codegen.drainListeners(sc)
      assert(m.coefs == Seq(0.5, 2.0))
      assert(jobs.get == 1, s"${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
    // a directory holding another table still fails on the model type
    val other = tmp("other")
    spark.range(3).write.mode("overwrite").parquet(other)
    val e = intercept[IllegalArgumentException](ModelIO.loadLinear(spark, other))
    assert(e.getMessage.contains("model_type"), e.getMessage)
  }

  test("kmeans centroids round-trip and assignment parity") {
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val cents = graft.queries.TabularQueries.Centroids
    val path = tmp("km")
    ModelIO.saveCentroids(spark, feats, cents, path)
    val (lf, lc) = ModelIO.loadCentroids(spark, path)
    assert(lf == feats)
    assert(lc == cents)
    val li = Tables.lineitem(spark, sf)
    val direct = li.select(
      graft.cluster.KMeansGraft.assign(feats.map(col), cents).as("c"))
    val viaLoad = li.select(
      graft.cluster.KMeansGraft.assign(lf.map(col), lc).as("c"))
    assert(direct.except(viaLoad).isEmpty && viaLoad.except(direct).isEmpty)
  }

  test("softmax model round-trips and predicts identically") {
    val classes = Seq("A", "N", "R")
    val icepts = Seq(0.05, 0.0, -0.02)
    val weights = Seq(Seq(0.0, -2.0, 0.0), Seq(0.0, 1.5, -5.0), Seq(0.0, 1.0, 4.0))
    val path = tmp("sm")
    ModelIO.saveSoftmax(spark, classes, icepts, weights, path)
    val (lc, li2, lw) = ModelIO.loadSoftmax(spark, path)
    assert(lc == classes && li2 == icepts && lw == weights)
    val li = Tables.lineitem(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
    val (p1, _) = Softmax.predict(feats, classes, icepts, weights)
    val (p2, _) = Softmax.predict(feats, lc, li2, lw)
    assert(li.select(p1.as("c")).except(li.select(p2.as("c"))).isEmpty)
  }

  test("GBT stump ensemble round-trips and predicts identically") {
    val li = Tables.lineitem(spark, sf)
    val (f0, stumps) = Boosting.fitGBT(li, Seq("l_quantity", "l_discount"),
      col("l_extendedprice"), rounds = 3, lr = 0.5)
    val path = tmp("gbt")
    ModelIO.saveGBT(spark, f0, 0.5, stumps, path)
    val (lf0, llr, ls) = ModelIO.loadGBT(spark, path)
    assert(lf0 == f0 && llr == 0.5 && ls == stumps)
    val direct = li.select(Boosting.gbtPredict(f0, stumps, 0.5).as("p"))
    val viaLoad = li.select(Boosting.gbtPredict(lf0, ls, llr).as("p"))
    assert(direct.except(viaLoad).isEmpty)
  }

  test("AdaBoost stumps round-trip exactly") {
    val stumps = Seq(
      Boosting.AdaStump("l_discount", 0.05, 1, 0.31, 0.4001),
      Boosting.AdaStump("l_tax", 0.03, -1, 0.42, 0.1613))
    val path = tmp("ada")
    ModelIO.saveAdaBoost(spark, stumps, path)
    assert(ModelIO.loadAdaBoost(spark, path) == stumps)
  }

  test("decision tree round-trips and scores identically (FIL persistence)") {
    val tree: Forest.TreeNode = Forest.Split(0, 24.0,
      Forest.Split(1, 0.05, Forest.Leaf(10.0), Forest.Leaf(20.0)),
      Forest.Split(2, 0.04, Forest.Leaf(30.0), Forest.Leaf(40.0)))
    val path = tmp("tree")
    ModelIO.saveTree(spark, tree, path)
    val loaded = ModelIO.loadTree(spark, path)
    assert(loaded == tree)
    val li = Tables.lineitem(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
      .map(_.cast("double"))
    val direct = li.select(Forest.treeScore(feats, tree).as("p"))
    val viaLoad = li.select(Forest.treeScore(feats, loaded).as("p"))
    assert(direct.except(viaLoad).isEmpty)
  }

  test("PQ codebook round-trips bit-exact") {
    val emb = Tables.embeddings(spark, sf)
    val cb = PQ.train(emb, "embedding", m = 4, k = 8, sampleN = 500)
    val path = tmp("pq")
    ModelIO.savePQ(spark, cb, path)
    val loaded = ModelIO.loadPQ(spark, path)
    assert(loaded.m == cb.m && loaded.k == cb.k)
    for (s <- 0 until cb.m; c <- 0 until cb.k)
      assert(java.util.Arrays.equals(loaded.centers(s)(c), cb.centers(s)(c)))
  }

  test("IVF coarse quantizer round-trips bit-exact and probes identically") {
    val emb = Tables.embeddings(spark, sf)
    val idx = graft.neighbors.IVF.train(emb, "embedding", nCells = 8)
    val path = tmp("ivf")
    ModelIO.saveIVF(spark, idx, path)
    val loaded = ModelIO.loadIVF(spark, path)
    assert(loaded.centers.length == idx.centers.length)
    for (i <- idx.centers.indices)
      assert(java.util.Arrays.equals(loaded.centers(i), idx.centers(i)))
  }

  test("scalar param bag round-trips in order") {
    val params = Seq("b0" -> 1.25, "b1" -> -0.035, "deviance" -> 812.5)
    val path = tmp("par")
    ModelIO.saveParams(spark, "poisson", params, path)
    assert(ModelIO.loadParams(spark, path, "poisson") == params)
    assert(ModelIO.loadDF(spark, path).count() == 3)
    // wrong model type fails loudly instead of returning wrong parameters
    assertThrows[IllegalArgumentException](ModelIO.loadParams(spark, path, "gbt"))
  }

  test("model_io_* queries match their direct-scoring twins row-for-row") {
    for ((a, b) <- Seq("model_io_linreg" -> "linreg_ols",
                       "model_io_kmeans" -> "kmeans_assign",
                       "model_io_softmax" -> "softmax_predict",
                       "model_io_hw_forecast" -> "hw_fit_forecast",
                       "model_io_ar_forecast" -> "ar_p_forecast",
                       "model_io_arima_forecast" -> "arima_ml_forecast",
                       "model_io_svm" -> "svm_predict")) {
      val viaIo = SparkEntry.queries(a)(spark, sf)
      val direct = SparkEntry.queries(b)(spark, sf)
      assert(viaIo.collect().toSeq == direct.collect().toSeq, s"$a vs $b")
    }
  }

  test("per-series model round-trips bit-exact and rejects a swapped type") {
    import graft.tsa.TimeSeries
    val series = TimeSeries.dailySeries(Tables.events(spark, sf))
    // grouped AR coefficients — the other DataFrame-valued model family
    val ar = TimeSeries.arFit2(series)
      .select(col("series"), col("term").as("key"), col("coef").as("value"))
    val path = tmp("ar")
    ModelIO.saveSeriesModel(ar, "ar2", path)
    val loaded = ModelIO.loadSeriesModel(spark, path, "ar2")
    // bit-exact: symmetric difference empty at FULL double precision
    assert(loaded.except(ar).isEmpty && ar.except(loaded).isEmpty)
    assertThrows[IllegalArgumentException](
      ModelIO.loadSeriesModel(spark, path, "hw_additive"))
  }

  test("ALS factors round-trip exactly; loaded serve matches the model and rejects a swap") {
    import graft.queries.MLQueries
    val ratings = MLQueries.alsRatings(spark, sf)
    val model = MLQueries.alsModel(ratings)
    val path = tmp("als")
    ModelIO.saveALS(model.userFactors, model.itemFactors, path)
    val (uf, itf) = ModelIO.loadALS(spark, path)
    // row counts: every (id, dim) factor persisted on both sides
    assert(uf.count() == model.userFactors.count() * model.rank)
    assert(itf.count() == model.itemFactors.count() * model.rank)
    // float→double widening is exact: spot-check one user's vector
    val someId = model.userFactors.select(min(col("id"))).head().getInt(0)
    val direct = model.userFactors.filter(col("id") === someId)
      .head().getSeq[Float](1).map(_.toDouble)
    val loaded = uf.filter(col("id") === someId).orderBy("f")
      .collect().map(_.getDouble(2)).toSeq
    assert(loaded == direct, s"factor vector changed in round-trip for id=$someId")
    // the driver query's parity gate holds end to end
    val gate = SparkEntry.queries("model_io_als")(spark, sf).head()
    assert(gate.getAs[Boolean]("recs_in_item_set"))
    assert(gate.getAs[Boolean]("serve_matches_model"))
    // a swapped model_type fails loudly (fresh dir: writing into `path`
    // would race the lazy uf/itf scans still reading it)
    val swapped = tmp("als_swap")
    ModelIO.saveSeriesModel(
      spark.range(2).select(lit("x").as("series"), col("id").cast("string").as("key"),
        col("id").cast("double").as("value")),
      "ar2", swapped)
    assertThrows[IllegalArgumentException](ModelIO.loadALS(spark, swapped))
  }

  test("forecast through persisted HW state equals forecast at fit time") {
    import graft.tsa.TimeSeries
    val series = TimeSeries.dailySeries(Tables.events(spark, sf))
    val (as, bs, gs) = (Seq(0.2, 0.4, 0.6, 0.8), Seq(0.1, 0.3), Seq(0.1, 0.3, 0.5))
    val state = TimeSeries.hwFitStateRaw(series, 7, as, bs, gs)
    val path = tmp("hws")
    ModelIO.saveSeriesModel(state, "hw_additive", path)
    val served = TimeSeries.hwForecastFromState(
      ModelIO.loadSeriesModel(spark, path, "hw_additive"), 7, h = 5)
    val atFit = TimeSeries.hwFitForecast(series, 7, as, bs, gs, h = 5)
    assert(served.except(atFit).isEmpty && atFit.except(served).isEmpty)
  }
}
