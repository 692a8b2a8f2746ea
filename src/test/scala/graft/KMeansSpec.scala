package graft

import graft.cluster.{KMeansGraft, Lloyd}
import graft.core.{FitCache, Rows, Tables}
import graft.manifold.Manifold
import graft.neighbors.{IVF, IVFPQ, KNN, PQ}
import graft.preprocessing.Datasets
import graft.tools.StageListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The library's one k-means ([[graft.cluster.Lloyd]]) behind KMeansGraft,
  * the IVF quantizer and the PQ codebooks: it finds planted centers, is
  * deterministic, survives k above the distinct-point count, fails loudly on
  * a null feature and leaves no storage behind. Its one nearest-center
  * kernel ([[Lloyd.nearest]], [[Lloyd.nearestN]]) equals the sort-based
  * rule it replaced, the bits of every quantizer output at sf0.001 (cell
  * ids, probe lists, PQ and IVFPQ codes, Lloyd centers) are pinned, and the
  * ANN indexes on it keep their argument and job contracts. */
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

  private def cases[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  // the rule every quantizer used before the shared kernel
  private def sqRef(v: Seq[Double], c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val t = v(i) - c(i); d += t * t; i += 1 }
    d
  }
  private def argminRef(v: Seq[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) { val d = sqRef(v, cs(c)); if (d < bestD) { bestD = d; best = c }; c += 1 }
    best
  }
  private def probesRef(v: Seq[Double], cs: Array[Array[Double]], n: Int): Seq[Int] =
    cs.indices.map(c => (sqRef(v, cs(c)), c)).sortBy(identity).take(n).map(_._2)

  // small integer coordinates, and some centers repeated: distance ties
  private val centerSets = for {
    dim <- Gen.choose(1, 6)
    k <- Gen.choose(1, 12)
    coord = Gen.choose(-3, 3).map(_.toDouble)
    base <- Gen.listOfN(k, Gen.listOfN(dim, coord))
    dups <- Gen.listOfN(k, Gen.choose(0, k - 1))
    dupMask <- Gen.listOfN(k, Gen.oneOf(true, false))
    v <- Gen.listOfN(dim, Gen.oneOf(coord, Gen.choose(-4.0, 4.0)))
  } yield {
    val cs = base.indices.map(j => if (dupMask(j)) base(dups(j)) else base(j))
    (cs.map(_.toArray).toArray, v.toArray)
  }

  test("nearest and nearestN equal the argmin loop and the sort-and-take probe list") {
    cases(centerSets, 400).foreach { case (cs, v) =>
      val k = cs.length
      assert(Lloyd.nearest(v, cs) == argminRef(v.toSeq, cs), s"v=${v.toSeq} cs=${cs.map(_.toSeq).toSeq}")
      for (n <- Seq(1, 2, k - 1, k, k + 1, k + 5).distinct.filter(_ >= 1)) {
        assert(Lloyd.nearestN(v, cs, n).toSeq == probesRef(v.toSeq, cs, n),
          s"n=$n v=${v.toSeq} cs=${cs.map(_.toSeq).toSeq}")
      }
      assert(Lloyd.nearestN(v, cs, k + 3).length == k)
      assert(Lloyd.nearestN(v, cs, 1).toSeq == Seq(Lloyd.nearest(v, cs)))
    }
  }

  test("the subspace offset reads the same slice encodeVec cut out") {
    val gen = for {
      m <- Gen.choose(1, 4)
      sub <- Gen.choose(1, 4)
      k <- Gen.choose(1, 8)
      cs <- Gen.listOfN(k, Gen.listOfN(sub, Gen.choose(-2.0, 2.0)))
      v <- Gen.listOfN(m * sub, Gen.choose(-2.0, 2.0))
      s <- Gen.choose(0, m - 1)
    } yield (cs.map(_.toArray).toArray, v.toArray, s * sub, sub)
    cases(gen, 300).foreach { case (cs, v, off, sub) =>
      val slice = java.util.Arrays.copyOfRange(v, off, off + sub)
      assert(Lloyd.nearest(v, cs, off) == argminRef(slice.toSeq, cs))
      cs.foreach(c => assert(java.lang.Double.doubleToLongBits(Lloyd.sq(v, c, off)) ==
        java.lang.Double.doubleToLongBits(sqRef(slice.toSeq, c))))
    }
  }

  private def md5(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bits(xs: Iterable[Double]): String =
    xs.map(java.lang.Double.doubleToLongBits).mkString(",")

  /** Sorted rows, arrays spelled out element by element. */
  private def rowsDigest(df: DataFrame): String =
    md5(df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq)

  test("quantizer outputs at sf0.001 keep their pinned bits") {
    // recorded before the quantizers shared Lloyd.nearest / nearestN: the
    // shared kernel moves no cell id, probe list, code or center
    FitCache.clear()
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 20)
    val li = Tables.lineitem(spark, sf)
    val rows = Rows.cached(li, Seq("l_quantity", "l_discount", "l_tax").map(col))
    val (lloydCenters, lloydPass) =
      try {
        val cs = Lloyd.fit(rows, 4, 20, 1e-8, 42L)
        (cs, Lloyd.pass(rows, cs))
      } finally rows.unpersist(blocking = false)
    val ivf = IVF.train(e, "embedding", 16)
    val ivfpq = IVFPQ.train(e, "embedding", 16, m = 8, kCodes = 16)
    val ivfpqCodes = IVFPQ.encode(e, "vec_id", "embedding", ivfpq)
    val cb = PQ.train(e, "embedding", m = 8, k = 16)
    val pqCodes = PQ.encode(e, "vec_id", "embedding", cb)
    val got = Seq(
      "Lloyd.fit centers" -> md5(Seq(bits(lloydCenters.flatten.toSeq))),
      "Lloyd.pass" -> md5(Seq(lloydPass.counts.mkString(","),
        bits(lloydPass.sums.flatten.toSeq), bits(Seq(lloydPass.sse)))),
      "IVF.train centers" -> md5(Seq(bits(ivf.centers.flatten.toSeq))),
      "IVF.topK rows" -> rowsDigest(IVF.topK(e, q, "vec_id", "embedding", ivf, k = 5, nprobe = 4)),
      "IVFPQ.encode rows" -> rowsDigest(ivfpqCodes),
      "IVFPQ.topK rows" -> rowsDigest(
        IVFPQ.topK(ivfpqCodes, q, "vec_id", "embedding", ivfpq, k = 5, nprobe = 4)),
      "IVFPQ.topKRefined rows" -> rowsDigest(IVFPQ.topKRefined(ivfpqCodes, e, q,
        "vec_id", "embedding", ivfpq, k = 5, nprobe = 4, shortlist = 20)),
      "PQ.encode rows" -> rowsDigest(pqCodes),
      "PQ.topKRefined rows" -> rowsDigest(
        PQ.topKRefined(pqCodes, e, q, "vec_id", "embedding", cb, k = 5, shortlist = 20)))
    val want = Seq(
      "Lloyd.fit centers" -> "3f9ac6c6bb0ff747410c9e7b3b7114a1",
      "Lloyd.pass" -> "233b5451eb42463cee98122955064cbf",
      "IVF.train centers" -> "57f61a26276a27e17afc3c4a714980cd",
      "IVF.topK rows" -> "ee36641863801d7013007be773eaafa1",
      "IVFPQ.encode rows" -> "1a10f3218b9396ad11f18e2da15918ed",
      "IVFPQ.topK rows" -> "ec75dbeb48733b28d4fe50bdfdbf4ef8",
      "IVFPQ.topKRefined rows" -> "cf72149fb951c5ccbb00b80efd068bf6",
      "PQ.encode rows" -> "c190add566c89755ee70d603e5b72c1f",
      "PQ.topKRefined rows" -> "5b3158746b08a421a6d323a3575d25d8")
    assert(got == want, got.map { case (n, d) => s"$n -> $d" }.mkString("\n", "\n", ""))
  }

  test("nprobe below 1 fails; nprobe above nCells clamps to nCells") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val ivf = IVF.train(e, "embedding", 8)
    val ivfpq = IVFPQ.train(e, "embedding", 8, m = 8, kCodes = 16)
    val codes = IVFPQ.encode(e, "vec_id", "embedding", ivfpq)
    spark.sql("DROP TABLE IF EXISTS q_ivf_nprobe")
    IVF.writeBucketed(e, "vec_id", "embedding", ivf, "q_ivf_nprobe", nBuckets = 4)
    try {
      for (bad <- Seq(0, -1)) {
        intercept[IllegalArgumentException](IVF.topK(e, q, "vec_id", "embedding", ivf, 5, bad))
        intercept[IllegalArgumentException](
          IVF.topKBucketed(spark, "q_ivf_nprobe", q, "vec_id", "embedding", ivf, 5, bad))
        intercept[IllegalArgumentException](
          IVFPQ.topK(codes, q, "vec_id", "embedding", ivfpq, 5, bad))
      }
      def same(over: DataFrame, all: DataFrame): Unit =
        assert(rowsDigest(over) == rowsDigest(all) && over.count() == 50L)
      same(IVF.topK(e, q, "vec_id", "embedding", ivf, 5, 20),
        IVF.topK(e, q, "vec_id", "embedding", ivf, 5, 8))
      same(IVF.topKBucketed(spark, "q_ivf_nprobe", q, "vec_id", "embedding", ivf, 5, 20),
        IVF.topKBucketed(spark, "q_ivf_nprobe", q, "vec_id", "embedding", ivf, 5, 8))
      same(IVFPQ.topK(codes, q, "vec_id", "embedding", ivfpq, 5, 20),
        IVFPQ.topK(codes, q, "vec_id", "embedding", ivfpq, 5, 8))
    } finally spark.sql("DROP TABLE IF EXISTS q_ivf_nprobe")
  }

  test("building a top-k frame starts no job") {
    // the top-k is a lazy aggregate: no broadcast side is collected, no
    // dimension is read off the corpus, until the frame is run
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val ivf = IVF.train(e, "embedding", 8)
    val ivfpq = IVFPQ.train(e, "embedding", 8, m = 8, kCodes = 16)
    val ivfpqCodes = IVFPQ.encode(e, "vec_id", "embedding", ivfpq)
    val cb = PQ.train(e, "embedding", m = 8, k = 16)
    val pqCodes = PQ.encode(e, "vec_id", "embedding", cb)
    val layout = q.select(col("vec_id").as("id"), lit(0.0).as("x"), lit(1.0).as("y"))
    val builders = Seq[(String, () => DataFrame)](
      "KNN.bruteForce" -> (() => KNN.bruteForce(q, e, "vec_id", "vec_id", "embedding",
        "embedding", 5, KNN.Cosine)),
      "IVF.topK" -> (() => IVF.topK(e, q, "vec_id", "embedding", ivf, k = 5, nprobe = 2)),
      "IVFPQ.topK" -> (() =>
        IVFPQ.topK(ivfpqCodes, q, "vec_id", "embedding", ivfpq, k = 5, nprobe = 2)),
      "IVFPQ.topKRefined" -> (() => IVFPQ.topKRefined(ivfpqCodes, e, q, "vec_id",
        "embedding", ivfpq, k = 5, nprobe = 2, shortlist = 20)),
      "PQ.topKRefined" -> (() =>
        PQ.topKRefined(pqCodes, e, q, "vec_id", "embedding", cb, k = 5, shortlist = 20)),
      "Manifold.umapTransform" -> (() =>
        Manifold.umapTransform(e, q, layout, "vec_id", "embedding", k = 5)))
    val sc = spark.sparkContext
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("topk-build:"))
          .foreach(g => jobs.add(s"$g: ${j.stageInfos.map(_.name).mkString(", ")}"))
    }
    sc.addSparkListener(listener)
    try {
      for ((name, build) <- builders) {
        sc.setJobGroup(s"topk-build:$name", "build only")
        try build() finally sc.clearJobGroup()
      }
      org.apache.spark.graft.Codegen.drainListeners(sc)
      assert(jobs.isEmpty, s"jobs started while building the frames: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}
