package graft

import graft.cluster.{DBSCAN, KMeansGraft}
import graft.core.Tables
import graft.dedup.Dedup
import graft.decomposition.{PCAGraft, RandomProjection}
import graft.linear._
import graft.metrics.Metrics
import graft.preprocessing.Preprocessing
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local(4)
}

class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import scala.math.abs

  test("OLS matches closed-form simple regression") {
    val li = Tables.lineitem(spark, sf)
    val m = OLS.fit(li, Seq("l_quantity"), "l_extendedprice")
    val r = li.agg(
      (covar_pop(col("l_extendedprice"), col("l_quantity")) / var_pop(col("l_quantity"))).as("slope"),
      avg("l_extendedprice").as("my"), avg("l_quantity").as("mx")).head()
    val slope = r.getDouble(0)
    assert(abs(m.coefs(1) - slope) < 1e-6)
    assert(abs(m.coefs(0) - (r.getDouble(1) - slope * r.getDouble(2))) < 1e-4)
  }

  test("Ridge with lambda=0 equals OLS; large lambda shrinks") {
    val li = Tables.lineitem(spark, sf)
    val ols = OLS.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice")
    val r0 = Ridge.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice", 0.0)
    ols.coefs.zip(r0.coefs).foreach { case (a, b) => assert(abs(a - b) < 1e-5) }
    val rBig = Ridge.fit(li, Seq("l_quantity"), "l_extendedprice", 1e9)
    assert(abs(rBig.coefs(1)) < abs(ols.coefs(1)))
  }

  test("Lasso alpha=0 reduces to OLS; huge alpha zeroes coefs") {
    val li = Tables.lineitem(spark, sf)
    val ols = OLS.fit(li, Seq("l_quantity"), "l_extendedprice")
    val l0 = Lasso.fit(li, Seq("l_quantity"), "l_extendedprice", 0.0)
    assert(abs(ols.coefs(1) - l0.coefs(1)) < 1e-4)
    val lBig = Lasso.fit(li, Seq("l_quantity"), "l_extendedprice", 1e9)
    assert(abs(lBig.coefs(1)) < 1e-6)
  }

  test("SGD converges near OLS on single feature") {
    val li = Tables.lineitem(spark, sf)
    val ols = OLS.fit(li, Seq("l_quantity"), "l_extendedprice")
    val sgd = GradientSolver.fit(li, Seq("l_quantity"), "l_extendedprice",
      GradientSolver.SquaredLoss, lr = 0.1, iters = 60)
    assert(abs(sgd.coefs(1) - ols.coefs(1)) / abs(ols.coefs(1)) < 0.05,
      s"sgd=${sgd.coefs} ols=${ols.coefs}")
  }

  test("QN logistic separates a planted threshold label") {
    val li = Tables.lineitem(spark, sf)
      .withColumn("_lab", when(col("l_quantity") > 25, 1.0).otherwise(0.0))
    val m = GradientSolver.fitQN(li, Seq("l_quantity"), "_lab", l2 = 1e-6)
    assert(m.coefs(1) > 0.1) // positive slope on quantity
  }

  test("PCA narrow: eigenvalues sum to total variance, sorted desc") {
    val li = Tables.lineitem(spark, sf)
    val fs = Seq("l_quantity", "l_discount", "l_tax")
    val r = PCAGraft.fitNarrow(li, fs)
    val vars = li.agg(var_samp(col(fs(0))), var_samp(col(fs(1))), var_samp(col(fs(2)))).head()
    val tot = (0 until 3).map(vars.getDouble).sum
    assert(abs(r.explainedVar.sum - tot) / tot < 1e-9)
    assert(r.explainedVar.sliding(2).forall(p => p(0) >= p(1)))
    assert(abs(r.ratio.sum - 1.0) < 1e-9)
  }

  test("KMeans assign picks nearest centroid") {
    val c = Seq(Seq(0.0), Seq(10.0))
    import spark.implicits._
    val df = Seq(1.0, 2.0, 9.0, 8.0).toDF("x")
    val got = df.select(KMeansGraft.assign(Seq(col("x")), c).as("cl"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 1, 1))
  }

  test("DBSCAN 1-D: two planted clusters + noise") {
    import spark.implicits._
    val pts = (Seq(1.0, 1.5, 2.0, 2.5) ++ Seq(100.0, 100.5, 101.0) ++ Seq(500.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = pts.toDF("id", "v")
    val r = DBSCAN.oneD(df, "id", "v", eps = 1.0, minPts = 3)
      .collect().map(x => (x.getLong(0), x.getLong(3))).toMap
    assert(r(0) == r(1) && r(1) == r(2) && r(2) == r(3)) // cluster A
    assert(r(4) == r(5) && r(5) == r(6))                 // cluster B
    assert(r(0) != r(4))
    assert(r(7) == -1L)                                  // noise
  }

  test("DBSCAN 1-D: bucketed scan matches the single-bucket formulation") {
    import spark.implicits._
    // values engineered so chains CROSS bucket boundaries at several
    // widths: dense run 0..30 (one cluster), a gap, dense run 60..75,
    // singletons — nBuckets=1 degenerates to the global-window shape,
    // so equality across bucket counts proves the boundary stitching
    val vals = (0 to 60 by 2).map(_ / 2.0) ++ (120 to 150 by 2).map(_ / 2.0) ++
      Seq(400.0, 500.0, 43.0, 44.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val expect = DBSCAN.oneD(df, "id", "v", eps = 1.0, minPts = 3, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    for (nb <- Seq(2, 3, 5, 8, 32)) {
      val got = DBSCAN.oneD(df, "id", "v", eps = 1.0, minPts = 3, nBuckets = nb)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == expect, s"nBuckets=$nb diverged")
    }
  }

  test("MinHash: identical docs share full signature; candidates found") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (2L, "completely different words appear in this very unrelated document text", "s"))
      .toDF("doc_id", "text", "source")
    val cand = Dedup.minhashCandidates(docs, "text", "doc_id").collect()
    assert(cand.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    assert(!cand.exists(r => r.getLong(1) == 2L))
  }

  test("SimHash band pairs find planted near-dups, skip unrelated docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("w7", "w7x")),          // one token changed → tiny hamming
      (3L, (100 to 140).map(i => s"q$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, _) => a == 1L && b == 2L }, pairs.mkString(","))
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L }, pairs.mkString(","))
  }

  test("stratified sample honors per-group fractions deterministically") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, if (i % 2 == 0) "en" else "zh"))
      .toDF("id", "lang")
    val kept = graft.preprocessing.Preprocessing
      .stratifiedSample(df, "id", "lang", Map("en" -> 0.5, "zh" -> 0.1))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") > 200 && kept("en") < 300, kept.toString) // ~250 of 500
    assert(kept("zh") > 20 && kept("zh") < 80, kept.toString)   // ~50 of 500
    val again = graft.preprocessing.Preprocessing
      .stratifiedSample(df, "id", "lang", Map("en" -> 0.5, "zh" -> 0.1))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == again)
  }

  test("decontamination flags shingle overlap with the benchmark set only") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro words alpha beta gamma delta epsilon outro"),
      (11L, "zeta eta theta iota kappa nothing shared here")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.benchmarkOverlap(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 10 has 6 trigram shingles, 3 of which ("alpha_beta_gamma" …) are
    // benchmark shingles; doc 11 shares none and must be absent
    assert(got.contains(10L) && got(10L) == ((3L, 6L)), got.toString)
    assert(!got.contains(11L), got.toString)
  }

  test("Exact dedup groups identical normalized text") {
    import spark.implicits._
    val docs = Seq((10L, "a  b c"), (11L, "a b  c"), (12L, "x y z")).toDF("doc_id", "text")
    val r = Dedup.exact(docs, "text", "doc_id").collect()
    assert(r.length == 2)
    assert(r.find(_.getLong(2) == 2L).get.getLong(1) == 10L) // keeper = min id
  }

  test("train_test_split fractions roughly honored and deterministic") {
    val o = Tables.orders(spark, sf)
    val s1 = Preprocessing.trainTestSplit(o, "o_orderkey", 0.25)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = s1.values.sum.toDouble
    assert(abs(s1("test") / n - 0.25) < 0.05)
    val s2 = Preprocessing.trainTestSplit(o, "o_orderkey", 0.25)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("adjusted rand of identical partitions is 1") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"), ("c", "z"))
      .toDF("p", "q")
    val ari = Metrics.adjustedRand(df, col("p"), col("q")).head().getDouble(0)
    assert(abs(ari - 1.0) < 1e-9)
  }

  test("JL min dim matches the closed-form bound") {
    // ceil(4·ln(1000) / (0.1²/2 − 0.1³/3)) = 5921; monotone in n, anti-monotone in eps
    assert(RandomProjection.jlMinDim(1000, 0.1) == 5921L)
    assert(RandomProjection.jlMinDim(1000000, 0.1) > RandomProjection.jlMinDim(1000, 0.1))
    assert(RandomProjection.jlMinDim(1000, 0.5) < RandomProjection.jlMinDim(1000, 0.1))
  }

  test("langid is deterministic and favors marker-bearing text") {
    import spark.implicits._
    val df = Seq(Tuple1("el la de y los hola")).toDF("text")
    val got = df.select(TextOps.langIdScore(col("text"))).head().getString(0)
    assert(got == "es")
  }
}
