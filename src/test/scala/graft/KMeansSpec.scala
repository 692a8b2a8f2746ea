package graft

import graft.cluster.{KMeansGraft, Lloyd}
import graft.core.{FitCache, Tables}
import graft.neighbors.{IVF, IVFPQ, PQ}
import graft.preprocessing.Datasets
import graft.tools.StageListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library's one k-means ([[graft.cluster.Lloyd]]) behind KMeansGraft,
  * the IVF quantizer and the PQ codebooks: it finds planted centers, is
  * deterministic, survives k above the distinct-point count, fails loudly on
  * a null feature and leaves no storage behind. */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private val Planted = Seq((-6.0, -6.0), (0.0, 6.0), (6.0, -3.0))

  // above the 10 000-row seeding sample bound, so the fit seeds on a sample
  private def blobs = Datasets.makeBlobs(spark, 12000, Planted, 0.5)

  test("planted blobs: centers within 0.2 and assignment purity above 0.99") {
    val b = blobs
    val got = KMeansGraft.fitSummary(b, Seq("x", "y"), 3, seed = 7L).collect()
    assert(got.map(_.getLong(0)).sum == 12000L)
    val centers = got.map(r => Seq(r.getDouble(1), r.getDouble(2))).toSeq
    for ((x, y) <- Planted)
      assert(centers.exists(c => math.hypot(c(0) - x, c(1) - y) < 0.2),
        s"no center near ($x, $y): ${centers.mkString(", ")}")
    val perPair = b.groupBy(col("cluster"),
        KMeansGraft.assign(Seq(col("x"), col("y")), centers).as("pred")).count().collect()
    val purity = perPair.groupBy(_.getInt(0)).values.map(_.map(_.getLong(2)).max).sum / 12000.0
    assert(purity > 0.99, s"purity $purity")
  }

  test("two fits on freshly built identical frames return identical centers") {
    FitCache.clear()
    val a = KMeansGraft.fitSummary(blobs, Seq("x", "y"), 3).collect()
    FitCache.clear()
    val b = KMeansGraft.fitSummary(blobs, Seq("x", "y"), 3).collect()
    assert(a.toSeq == b.toSeq)
    FitCache.clear()
    val i1 = IVF.train(Tables.embeddings(spark, sf), "embedding", 8).centers
    FitCache.clear()
    val i2 = IVF.train(Tables.embeddings(spark, sf), "embedding", 8).centers
    assert(i1.length == 8 && i1.zip(i2).forall { case (p, q) => p.sameElements(q) })
  }

  test("a round over 16 partitions merges through 4 groups in a fixed order") {
    val sc = spark.sparkContext
    val rng = new scala.util.Random(3)
    val pts = Array.fill(4000)(Array(rng.nextGaussian(), rng.nextGaussian() * 3, rng.nextDouble()))
    val cs = Array(Array(-1.0, 0.0, 0.5), Array(1.0, 2.0, 0.5), Array(0.0, -2.0, 0.0))
    val flat = Lloyd.pass(sc.parallelize(pts.toSeq, 1), cs)
    val rows = sc.parallelize(pts.toSeq, 16)
    val listener = new StageListener
    sc.addSparkListener(listener)
    val tree = try {
      val p = Lloyd.pass(rows, cs)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.stages.count(_.done) < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      // the partial stage has one task per partition; the driver collects
      // one partial per group of 4 consecutive partitions
      assert(listener.stages.map(_.taskMs.size).sorted == Seq(4, 16),
        listener.stages.mkString("\n"))
      p
    } finally sc.removeSparkListener(listener)
    assert(tree.counts.toSeq == flat.counts.toSeq && tree.counts.sum == 4000L)
    for ((a, b) <- tree.sums.flatMap(_.toSeq).zip(flat.sums.flatMap(_.toSeq))) assert(math.abs(a - b) < 1e-9)
    assert(math.abs(tree.sse - flat.sse) < 1e-9 * flat.sse)
    val again = Lloyd.pass(rows, cs)
    assert(again.sums.flatMap(_.toSeq).sameElements(tree.sums.flatMap(_.toSeq)) && again.sse == tree.sse)
  }

  test("k above the distinct-point count: no NaN center, sizes sum to n") {
    import spark.implicits._
    val df = (0 until 30).map(i => ((i % 3).toDouble, (i % 3) * 2.0)).toDF("x", "y")
    val got = KMeansGraft.fitSummary(df, Seq("x", "y"), 5).collect()
    assert(got.map(_.getLong(0)).sum == 30L)
    assert(got.forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isNaN), got.mkString(","))
    assert(got.length == 3, got.mkString(","))
    val gate = KMeansGraft.fitGate(df, Seq("x", "y"), 5).head()
    assert(gate.getLong(0) == 30L && gate.getBoolean(1) && gate.getBoolean(2))
    val idx = IVF.train(df.select(array(col("x"), col("y")).as("v")), "v", 5)
    assert(idx.centers.length == 5 && idx.centers.forall(_.forall(!_.isNaN)))
  }

  test("a null feature fails the fit loudly") {
    import spark.implicits._
    val df = Seq[(Option[Double], Double)]((Some(1.0), 1.0), (None, 2.0), (Some(3.0), 3.0))
      .toDF("x", "y")
    val e = intercept[Exception](KMeansGraft.fitSummary(df, Seq("x", "y"), 2).collect())
    assert(e.getMessage.contains("null"), e.getMessage)
    val v = Seq((1L, Seq(1.0, 2.0)), (2L, null)).toDF("id", "v")
    val e2 = intercept[Exception](IVF.train(v, "v", 2))
    assert(e2.getMessage.contains("null"), e2.getMessage)
  }

  test("fitSummary, fitGate, IVF.train and IVFPQ.train leave no persisted RDD") {
    val sc = spark.sparkContext
    def leavesNothing(name: String)(fit: => Any): Unit = {
      FitCache.clear()
      val before = sc.getPersistentRDDs.keySet
      fit
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"$name left persisted RDDs ${added.mkString(", ")}")
    }
    val li = Tables.lineitem(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    leavesNothing("fitSummary")(KMeansGraft.fitSummary(li, feats, 4).collect())
    leavesNothing("fitGate")(KMeansGraft.fitGate(li, feats, 4).collect())
    val e = Tables.embeddings(spark, sf)
    leavesNothing("IVF.train")(IVF.train(e, "embedding", 8))
    leavesNothing("IVFPQ.train")(IVFPQ.train(e, "embedding", 8, m = 8, kCodes = 16))
  }

  test("PQ codebook digests are pinned") {
    // PQ seeds with the shared best-of-8 local Lloyd; any change to that
    // seeding or its restart choice moves these bits
    for ((k, want) <- Seq(16 -> "8162d9ecac53395254c82d8706ede862",
        64 -> "10958072b34a94b61f7af2e96b2b43e1")) {
      FitCache.clear()
      val cb = PQ.train(Tables.embeddings(spark, sf), "embedding", m = 8, k = k)
      val bits = cb.centers.flatten.flatten.map(java.lang.Double.doubleToLongBits)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(bits.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(digest == want, s"k=$k")
    }
  }
}
