package graft

import graft.cluster.DBSCANGrid
import graft.neighbors.IVF
import graft.preprocessing.Datasets
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import scala.math.abs

  test("DBSCANGrid finds two planted 2-D clusters and flags noise") {
    import spark.implicits._
    val a = for (i <- 0 until 20) yield (i.toLong, i % 5 * 0.3, i / 5 * 0.3)
    val b = for (i <- 0 until 20) yield (100L + i, 50.0 + i % 5 * 0.3, 50.0 + i / 5 * 0.3)
    val noise = Seq((999L, 200.0, 200.0))
    val df = (a ++ b ++ noise).toDF("id", "x", "y")
    val r = DBSCANGrid.fit(df, "id", "x", "y", eps = 1.0, minPts = 4)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toMap
    val clA = r(0L); val clB = r(100L)
    assert(clA != clB && clA >= 0 && clB >= 0)
    assert((0 until 20).forall(i => r(i.toLong) == clA))
    assert((0 until 20).forall(i => r(100L + i) == clB))
    assert(r(999L) == -1L)
  }

  test("literal tree routes rows to the correct leaves") {
    import spark.implicits._
    import graft.ensemble.Forest._
    val tree: TreeNode = Split(0, 5.0, Split(1, 0.5, Leaf(1.0), Leaf(2.0)),
      Leaf(3.0))
    val df = Seq((4.0, 0.4, 10.0), (4.0, 0.6, 20.0), (5.0, 0.9, 30.0),
      (6.0, 0.0, 40.0)).toDF("f0", "f1", "y")
    val r = treePredictSummary(df, Seq("f0", "f1"), "y", tree)
      .collect().map(x => x.getDouble(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1.0) == ((1L, 10.0)), r.toString)  // f0<=5, f1<=0.5
    assert(r(2.0) == ((2L, 25.0)), r.toString)  // f0<=5 (incl boundary), f1>0.5
    assert(r(3.0) == ((1L, 40.0)), r.toString)  // f0>5
  }

  test("salted join returns exactly the plain-join multiset on skewed keys") {
    import spark.implicits._
    // 90% of fact rows hit one hot key
    val fact = (0 until 500).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong, i * 1.5))
      .toDF("custkey", "o_orderkey", "v")
    val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("custkey", "name")
    val got = graft.core.Salting.saltedJoin(fact, dim, "custkey", "o_orderkey", salts = 8)
      .select("custkey", "o_orderkey", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val want = fact.join(dim, "custkey").select("custkey", "o_orderkey", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.length == want.length && got.sameElements(want),
      s"${got.length} vs ${want.length}")
  }

  test("interval overlap join equals the brute-force theta join, each pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // long and short intervals, negative coords, exact-boundary touches
    val left = (0 until 120).map { i =>
      val lo = rnd.nextDouble() * 400 - 200
      (i.toLong, lo, lo + rnd.nextDouble() * 150)
    }
    val right = (0 until 90).map { i =>
      val lo = rnd.nextDouble() * 400 - 200
      (i.toLong, lo, lo + rnd.nextDouble() * 40)
    }
    val got = graft.events.RangeJoin.intervalOverlap(
        left.toDF("id", "lo", "hi"), right.toDF("rid", "lo", "hi"),
        "id", "lo", "hi", "rid", "lo", "hi", bucketWidth = 50.0)
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = (for (l <- left; r <- right if l._2 <= r._3 && r._2 <= l._3)
      yield (l._1, r._1)).sorted
    assert(got == want, s"${got.size} vs ${want.size}")
  }

  test("PageRank matches driver power iteration, incl. dangling redistribution") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // random directed graph; nodes 15..19 have no out-edges (dangling)
    val edges = (0 until 60).map { _ =>
      (s"n${rnd.nextInt(15)}", s"n${rnd.nextInt(20)}")
    }.distinct
    val got = graft.graph.PageRank.run(edges.toDF("src", "dst"), "src", "dst",
        rounds = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // independent power iteration
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until 8) {
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => rank(e._1) / out(e._1)).sum
      }
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    assert(math.abs(rank.values.sum - 1.0) < 1e-9)
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-5, s"$v: ${got(v)} vs ${rank(v)}")
    }
  }

  test("ljungBox rejects a planted AR(1) and not white noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val wn = (0 until 400).map(t => ("wn", t.toLong, rnd.nextGaussian()))
    val ar = Iterator.iterate(0.0)(v => 0.8 * v + rnd.nextGaussian())
      .take(400).toIndexedSeq.zipWithIndex.map { case (x, t) => ("ar", t.toLong, x) }
    val df = (wn ++ ar).toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.ljungBox(df, h = 6, crit = 12.5916)
      .collect().map(x => x.getString(0) -> ((x.getDouble(2), x.getBoolean(3)))).toMap
    assert(r("ar")._2, s"AR(1) q=${r("ar")._1} should reject")
    assert(!r("wn")._2, s"white noise q=${r("wn")._1} should not reject")
  }

  test("range join equals the brute-force theta join (incl. negatives and boundary hits)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pts = (0 until 200).map(i => (i.toLong, rnd.nextDouble() * 400 - 200))
    val ivs = (0 until 40).map { i =>
      val lo = rnd.nextDouble() * 380 - 200
      (1000L + i, lo, lo + rnd.nextDouble() * 60)
    } :+ ((2000L, -50.0, -50.0)) // degenerate single-point interval
    val got = graft.events.RangeJoin.pointInInterval(
        pts.toDF("id", "p"), ivs.toDF("rid", "lo", "hi"),
        "id", "p", "rid", "lo", "hi", bucketWidth = 25.0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = (for ((id, p) <- pts; (rid, lo, hi) <- ivs if lo <= p && p <= hi)
      yield (id, rid)).toSet
    assert(got == want, s"got ${got.size} want ${want.size}; " +
      s"missing ${(want -- got).take(5)}; extra ${(got -- want).take(5)}")
  }

  test("cardinality approx twin tracks the exact distinct count within HLL error") {
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val exact = graft.stats.Cardinality.exact(e, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = graft.stats.Cardinality.approx(e, "event_type", "user_id", rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      // HLL++ at rsd 0.02: allow 5 sigma
      assert(math.abs(ap - ex).toDouble / ex <= 0.10,
        s"$k: approx $ap vs exact $ex")
    }
  }

  test("asof join picks the latest prior-or-equal right row per key") {
    import spark.implicits._
    // left (purchases): (key, t, lid); right (clicks): (key, t, rid, value)
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (1L, 50L, 12L),
      (2L, 100L, 20L)).toDF("user_id", "us", "event_id")
    val r2 = Seq((1L, 60L, 1L, 0.5), (1L, 100L, 2L, 0.7), (1L, 100L, 3L, 0.9),
      (1L, 150L, 4L, 0.2)).toDF("user_id", "us", "event_id", "value")
    val got = graft.events.AsOf.asofJoin(left, r2, "user_id", "us",
        "event_id", "event_id", "value")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2)),
         (if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(10L) == ((3L, 0L)),  // equal-time tie → right admitted, max rid wins
      got(10L).toString)
    assert(got(11L) == ((4L, 50L)), got(11L).toString) // latest prior click at t=150
    assert(got(12L) == ((-1L, -1L)), got(12L).toString) // no prior click → nulls
    assert(got(20L) == ((-1L, -1L)), got(20L).toString) // key with no right rows
  }

  test("DBSCAN coreSummary matches brute-force core/border/noise classification") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val pts = (0 until 120).map { i =>
      val (cx, cy) = if (i % 3 == 0) (0.0, 0.0) else if (i % 3 == 1) (8.0, 8.0) else (25.0, -5.0)
      (i.toLong, cx + rnd.nextGaussian() * 0.8, cy + rnd.nextGaussian() * 0.8)
    } :+ ((999L, 200.0, 200.0))
    val (eps, minPts) = (1.2, 5)
    // brute-force reference classification
    val arr = pts.toArray
    def nbrs(i: Int) = arr.indices.count(j => j != i &&
      math.hypot(arr(i)._2 - arr(j)._2, arr(i)._3 - arr(j)._3) <= eps)
    val isCore = arr.indices.map(i => nbrs(i) >= minPts - 1)
    val hasCoreNbr = arr.indices.map(i => arr.indices.exists(j => j != i && isCore(j) &&
      math.hypot(arr(i)._2 - arr(j)._2, arr(i)._3 - arr(j)._3) <= eps))
    val wantCore = isCore.count(identity)
    val wantBorder = arr.indices.count(i => !isCore(i) && hasCoreNbr(i))
    val wantNoise = arr.indices.count(i => !isCore(i) && !hasCoreNbr(i))
    val nPairs = (for (i <- arr.indices; j <- i + 1 until arr.length
      if math.hypot(arr(i)._2 - arr(j)._2, arr(i)._3 - arr(j)._3) <= eps) yield 1).size
    val r = graft.cluster.DBSCANGrid.coreSummary(
      pts.toDF("id", "x", "y"), "id", Seq("x", "y"), eps, minPts).head()
    assert(r.getLong(0) == arr.length.toLong)
    assert(r.getLong(1) == nPairs.toLong, s"pairs ${r.getLong(1)} vs $nPairs")
    assert(r.getLong(2) == wantCore.toLong, s"core ${r.getLong(2)} vs $wantCore")
    assert(r.getLong(3) == wantBorder.toLong, s"border ${r.getLong(3)} vs $wantBorder")
    assert(r.getLong(4) == wantNoise.toLong, s"noise ${r.getLong(4)} vs $wantNoise")
  }

  test("IVF with nprobe = nCells equals brute force (recall 1.0)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = IVF.recallSummary(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
      nCells = 4, k = 3, nprobe = 4).head()
    assert(r.getLong(0) == 5L)
    assert(abs(r.getDouble(1) - 1.0) < 1e-9)
  }

  test("IVF scanned_frac is the share of the corpus in the probed cells") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 20)
    val idx = IVF.train(e, "embedding", 16)
    def ranked(v: Seq[Double]) = idx.centers.indices.map { c =>
      (v.indices.map(i => (v(i) - idx.centers(c)(i)) * (v(i) - idx.centers(c)(i))).sum, c)
    }.sorted
    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0))
    val sizes = vecs(e).groupBy(ranked(_).head._2).map { case (c, vs) => c -> vs.length }
    val n = sizes.values.sum.toDouble
    val want = vecs(q).map(v => ranked(v).take(4).map(c => sizes.getOrElse(c._2, 0)).sum / n)
      .sum / 20
    val r = IVF.recallSummary(e, q, "vec_id", "embedding", nCells = 16, k = 5, nprobe = 4).head()
    assert(math.abs(r.getAs[Double]("scanned_frac") - want) <= 5e-5,
      s"scanned ${r.getAs[Double]("scanned_frac")} vs $want")
    val all = IVF.recallSummary(e, q, "vec_id", "embedding", nCells = 16, k = 5, nprobe = 16).head()
    assert(all.getAs[Double]("scanned_frac") == 1.0)
  }

  test("IVFPQ scanned_frac is the share of the corpus in the probed cells") {
    import spark.implicits._
    // seeded clusters of uneven size, so the cells hold uneven shares
    val rnd = new scala.util.Random(21)
    val hubs = Seq.fill(6)(Array.fill(16)(rnd.nextGaussian() * 4))
    val e = (0 until 480).map { i =>
      (i.toLong, hubs(math.min(i % 9, 5)).map(_ + rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 20)
    val centers = graft.neighbors.IVFPQ.train(e, "embedding", 16, m = 8, kCodes = 16).ivf.centers
    def ranked(v: Seq[Double]) = centers.indices.map { c =>
      (v.indices.map(i => (v(i) - centers(c)(i)) * (v(i) - centers(c)(i))).sum, c)
    }.sorted
    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0))
    val sizes = vecs(e).groupBy(ranked(_).head._2).map { case (c, vs) => c -> vs.length }
    val n = sizes.values.sum.toDouble
    val want = vecs(q).map(v => ranked(v).take(4).map(c => sizes.getOrElse(c._2, 0)).sum / n)
      .sum / 20
    def summary(nprobe: Int) = graft.neighbors.IVFPQ.recallSummary(e, q, "vec_id", "embedding",
      nCells = 16, m = 8, kCodes = 16, k = 5, nprobe = nprobe).head()
    val r = summary(4)
    assert(math.abs(r.getAs[Double]("scanned_frac") - want) <= 5e-5,
      s"scanned ${r.getAs[Double]("scanned_frac")} vs $want")
    assert(r.getAs[Double]("probed_frac") == 0.25)
    assert(summary(16).getAs[Double]("scanned_frac") == 1.0)
  }

  test("real-embedding ANN recalls sit in (floor, 1] — the continuous gate behind the query invariants") {
    // the ann_* queries hash-gate deterministic columns + recall-floor
    // booleans; the CONTINUOUS recall stays gated here on real data
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 20)
    val ivf = IVF.recallSummary(e, q, "vec_id", "embedding",
      nCells = 16, k = 5, nprobe = 4).head().getDouble(1)
    assert(ivf > 0.5 && ivf <= 1.0, s"ivf recall $ivf")
    val pq = graft.neighbors.PQ.recallSummary(e, q, "vec_id", "embedding",
      m = 8, kCodes = 16, k = 5).head().getDouble(1)
    assert(pq > 0.2 && pq <= 1.0, s"pq recall $pq")
    val ivfpq = graft.neighbors.IVFPQ.recallSummary(e, q, "vec_id", "embedding",
      nCells = 16, m = 8, kCodes = 16, k = 5, nprobe = 4).head().getDouble(1)
    assert(ivfpq > 0.2 && ivfpq <= 1.0, s"ivfpq recall $ivfpq")
  }

  test("ADC shortlist + exact rerank lifts PQ/IVFPQ recall above the unrefined scan") {
    // the r13 production configuration (FAISS IndexRefine / IVFADC+R):
    // refined recall must dominate unrefined at the same codebooks, and
    // clear the raised query floors with margin on real embeddings
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 20)
    val pqPlain = graft.neighbors.PQ.recallSummary(e, q, "vec_id", "embedding",
      m = 8, kCodes = 64, k = 5).head().getDouble(1)
    val pqRef = graft.neighbors.PQ.recallSummary(e, q, "vec_id", "embedding",
      m = 8, kCodes = 64, k = 5, shortlist = 50).head().getDouble(1)
    assert(pqRef >= pqPlain, s"refined $pqRef < unrefined $pqPlain")
    assert(pqRef >= 0.6 && pqRef <= 1.0, s"refined pq recall $pqRef")
    val ivfpqRef = graft.neighbors.IVFPQ.recallSummary(e, q, "vec_id", "embedding",
      nCells = 16, m = 8, kCodes = 64, k = 5, nprobe = 4, shortlist = 50)
      .head().getDouble(1)
    assert(ivfpqRef >= 0.5 && ivfpqRef <= 1.0, s"refined ivfpq recall $ivfpqRef")
  }

  test("PQ on a lattice corpus is lossless (recall 1.0) and reports compression") {
    import spark.implicits._
    // every 2-dim subvector takes one of 4 well-separated lattice values,
    // so k=4 per-subspace k-means recovers them exactly and the ADC
    // distance equals the true L2^2 -> PQ == brute force incl. tie order
    val pats = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(0.0, 10.0), Seq(10.0, 10.0))
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 4).flatMap(s => pats((i / (s + 1)) % 4)).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val r = graft.neighbors.PQ.recallSummary(df, df.filter(col("vec_id") < 5),
      "vec_id", "embedding", m = 4, kCodes = 4, k = 3).head()
    assert(r.getLong(0) == 5L)
    assert(abs(r.getDouble(1) - 1.0) < 1e-9, s"recall ${r.getDouble(1)}")
    assert(r.getLong(2) == 8L)  // dim*4 bytes / m codes = 8x
  }

  test("IVFPQ with full probing on a lattice corpus is lossless (recall 1.0)") {
    import spark.implicits._
    // ≤4 lattice values per 2-dim subvector and kCodes=16 per-cell residual
    // codes: residual subvectors stay within codebook capacity, so ADC
    // distance is exact; nprobe = nCells means IVF prunes nothing
    val pats = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(0.0, 10.0), Seq(10.0, 10.0))
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 4).flatMap(s => pats((i / (s + 1)) % 4)).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val r = graft.neighbors.IVFPQ.recallSummary(df, df.filter(col("vec_id") < 5),
      "vec_id", "embedding", nCells = 2, m = 4, kCodes = 16, k = 3, nprobe = 2).head()
    assert(r.getLong(0) == 5L)
    assert(abs(r.getDouble(1) - 1.0) < 1e-9, s"recall ${r.getDouble(1)}")
    assert(r.getLong(2) == 8L)
  }

  test("make_blobs is deterministic and centered") {
    val a = Datasets.makeBlobs(spark, 600, Seq((0.0, 0.0), (10.0, 10.0)), 1.0)
      .agg(sum("x")).head().getDouble(0)
    val b = Datasets.makeBlobs(spark, 600, Seq((0.0, 0.0), (10.0, 10.0)), 1.0)
      .agg(sum("x")).head().getDouble(0)
    assert(a == b)
    val m = Datasets.makeBlobs(spark, 2000, Seq((5.0, 0.0)), 1.0)
      .agg(avg("x"), stddev_samp(col("x"))).head()
    assert(abs(m.getDouble(0) - 5.0) < 0.1)
    assert(abs(m.getDouble(1) - 1.0) < 0.1)
  }

  test("make_regression recovers the planted coefficients") {
    val df = Datasets.makeRegression(spark, 4000, Seq(2.0, -1.0), 3.0, 0.05)
    val m = graft.linear.OLS.fit(df, Seq("x0", "x1"), "y")
    assert(abs(m.coefs(0) - 3.0) < 0.05)
    assert(abs(m.coefs(1) - 2.0) < 0.05)
    assert(abs(m.coefs(2) + 1.0) < 0.05)
  }

  test("SES smoothed value equals the sequential recursion") {
    import spark.implicits._
    val xs = Seq(10.0, 12.0, 11.0, 15.0, 13.0)
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val got = graft.tsa.TimeSeries.sesSmoothed(df, 0.3)
      .orderBy("t").collect().map(_.getDouble(3))
    val want = xs.tail.scanLeft(xs.head)((s, x) => 0.3 * x + 0.7 * s)
    got.zip(want).foreach { case (g, w) => assert(abs(g - w) < 1e-9, s"$g vs $w") }
  }

  test("kalman filter converges toward a constant signal") {
    import spark.implicits._
    val df = (0 until 50).map(t => ("s", t.toLong, 5.0)).toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.kalman1D(df, 0.01, 1.0).head()
    assert(abs(r.getDouble(2) - 5.0) < 1e-6)
  }

  test("DBSCANGrid matches brute-force DBSCAN exactly on 2k random points") {
    import spark.implicits._
    // mixture of three dense blobs + uniform noise; plenty of near-eps
    // pairs, which is exactly where an eps-wide-cell grid over-merges
    val rnd = new scala.util.Random(42)
    val blob = (cx: Double, cy: Double, n: Int, o: Int) => (0 until n).map { i =>
      (o + i.toLong, cx + rnd.nextGaussian() * 1.5, cy + rnd.nextGaussian() * 1.5)
    }
    val pts = blob(0.0, 0.0, 600, 0) ++ blob(8.0, 2.0, 600, 1000) ++
      blob(3.0, 9.0, 500, 2000) ++
      (0 until 300).map(i => (5000L + i, rnd.nextDouble() * 24 - 6, rnd.nextDouble() * 24 - 6))
    val eps = 0.8; val minPts = 5
    // brute-force reference with the same labeling conventions:
    // cluster = min core id of the component, border -> min neighbor cluster
    val arr = pts.toArray
    val n = arr.length
    def d2(a: (Long, Double, Double), b: (Long, Double, Double)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3; dx * dx + dy * dy
    }
    val neigh = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; j <- i + 1 until n if d2(arr(i), arr(j)) <= eps * eps) {
      neigh(i) ::= j; neigh(j) ::= i
    }
    val isCore = (0 until n).map(i => neigh(i).size >= minPts - 1)
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var r = a; while (parent(r) != r) r = parent(r); parent(a) = r; r }
    for (i <- 0 until n if isCore(i); j <- neigh(i) if isCore(j)) {
      val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val compLabel = scala.collection.mutable.Map.empty[Int, Long]
    for (i <- 0 until n if isCore(i)) {
      val r = find(i)
      compLabel(r) = math.min(compLabel.getOrElse(r, Long.MaxValue), arr(i)._1)
    }
    val want = (0 until n).map { i =>
      val cl =
        if (isCore(i)) compLabel(find(i))
        else {
          val cs = neigh(i).filter(isCore).map(j => compLabel(find(j)))
          if (cs.isEmpty) -1L else cs.min
        }
      arr(i)._1 -> (isCore(i), cl)
    }.toMap
    val got = DBSCANGrid.fit(pts.toDF("id", "x", "y"), "id", "x", "y", eps, minPts)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(got.size == n)
    val bad = want.keys.filter(k => got(k) != want(k))
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g. ${bad.take(5).map(k => (k, got(k), want(k)))}")
  }

  test("distributed CC matches union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // ~300 nodes, sparse random edges + a long chain (exercises multi-round
    // propagation; the rounds must handle diameter > 8)
    val edges = (0 until 250).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2) ++ (400L until 430L).map(i => (i, i + 1))
    val df = edges.toDF("a", "b")
    val got = graft.graph.ConnectedComponents.distributed(df, "a", "b", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (n, l) => assert(l == want(n), s"node $n: $l vs ${want(n)}") }
  }

  test("pointer-jumping CC converges on a 500-node path in O(log n) rounds") {
    import spark.implicits._
    // diameter 500 — plain min propagation would need 500 rounds; the
    // jump-composed step must finish well inside 16
    val edges = (0L until 500L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.graph.ConnectedComponents.distributed(edges, "a", "b", maxRounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 501)
    assert(got.values.forall(_ == 0L), s"unconverged labels: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("union-find and distributed CC paths agree on random graphs") {
    import spark.implicits._
    import graft.graph.ConnectedComponents.{distributed, unionFind}
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(17)
    // sparse and dense random graphs with self-loops, duplicates and a chain
    val graphs = Seq(40 -> 30, 120 -> 60, 400 -> 90).map { case (m, n) =>
      (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (500L until 520L).map(i => (i, i + 1))
    }
    for ((edges, g) <- graphs.zipWithIndex) {
      val df = edges.toDF("a", "b")
      val want = labels(unionFind(df, "a", "b"))
      assert(want.size > 1, s"graph $g")
      assert(labels(distributed(df, "a", "b", 64)) == want, s"graph $g")
    }
  }

  test("DBSCAN distributed-CC path produces the same labels as the driver path") {
    import spark.implicits._
    import graft.graph.ConnectedComponents.{distributed, unionFind}
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(21)
    val (eps, minPts) = (0.8, 5)
    val pts = (0 until 400).map { i =>
      (i.toLong, (if (i % 2 == 0) 0.0 else 6.0) + rnd.nextGaussian(), rnd.nextGaussian())
    }
    def near(i: Int, j: Int): Boolean = {
      val (dx, dy) = (pts(i)._2 - pts(j)._2, pts(i)._3 - pts(j)._3)
      dx * dx + dy * dy <= eps * eps
    }
    val neigh = pts.indices.map(i => pts.indices.filter(j => j != i && near(i, j)))
    val core = neigh.map(_.size >= minPts - 1)
    // DBSCAN's cell graph: the core-core eps-pairs mapped to fine cells
    // (width eps/√2) under fitND's packed 62-bit keys, distinct
    val cw = eps / math.sqrt(2.0)
    def cell(i: Int): Long =
      ((math.floor(pts(i)._2 / cw).toLong + (1L << 30)) << 31) +
        math.floor(pts(i)._3 / cw).toLong + (1L << 30)
    val cellEdges = (for {
      i <- pts.indices if core(i); j <- neigh(i) if j > i && core(j)
    } yield (cell(i), cell(j))).distinct
    assert(cellEdges.exists(e => e._1 == e._2) && cellEdges.exists(e => e._1 != e._2))
    val df = cellEdges.toDF("a", "b")
    val root = labels(distributed(df, "a", "b", 64))
    assert(root == labels(unionFind(df, "a", "b")))
    // DBSCAN labels from the distributed roots, under fitND's conventions:
    // cluster = min core id of its root, border -> min core-neighbor
    // cluster, noise -1
    val rootOf = (i: Int) => root.getOrElse(cell(i), cell(i))
    val cluster = pts.indices.filter(core).groupBy(rootOf).values
      .flatMap(is => is.map(_ -> is.map(pts(_)._1).min)).toMap
    val want = pts.indices.map { i =>
      val cl =
        if (core(i)) cluster(i)
        else neigh(i).filter(core).map(cluster).reduceOption((a: Long, b: Long) => math.min(a, b)).getOrElse(-1L)
      pts(i)._1 -> (core(i), cl)
    }.toMap
    assert(want.values.filter(_._1).map(_._2).toSet.size >= 2)
    val got = DBSCANGrid.fit(pts.toDF("id", "x", "y"), "id", "x", "y", eps, minPts)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("SES stays finite on a 3000-point series (no closed-form overflow)") {
    import spark.implicits._
    val df = (0 until 3000).map(t => ("s", t.toLong, 100.0 + (t % 13).toDouble))
      .toDF("series", "t", "x")
    val last = graft.tsa.TimeSeries.sesSmoothed(df, 0.5)
      .orderBy(col("t").desc).limit(1).head().getDouble(3)
    assert(java.lang.Double.isFinite(last) && last > 90.0 && last < 120.0, s"got $last")
  }

  test("grouped AR fit: general-p Gaussian solve matches the p=2 Cramer path") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for (s <- Seq("a", "b"); t <- 0 until 60) yield
      (s, t.toLong, 5.0 + 0.6 * math.sin(t * 0.7) + rnd.nextDouble())
    val df = rows.toDF("series", "t", "x")
    val cramer = graft.tsa.TimeSeries.arFit2(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val general = graft.tsa.TimeSeries.arFit(df, 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(cramer.keySet == general.keySet)
    cramer.foreach { case (k, v) => assert(abs(v - general(k)) < 1e-8, s"$k: $v vs ${general(k)}") }
  }

  test("Holt-Winters seasonal tracks a planted period-7 pattern") {
    import spark.implicits._
    val season = Array(4.0, -2.0, 1.0, 0.0, -3.0, 2.0, -2.0)
    val xs = (0 until 56).map(t => 50.0 + 0.5 * t + season(t % 7))
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.holtWintersSeasonal(df, 0.3, 0.1, 0.2, 7).head()
    val forecast = r.getDouble(4)
    val actualNext = 50.0 + 0.5 * 56 + season(56 % 7)
    assert(abs(forecast - actualNext) < 1.0, s"forecast $forecast vs $actualNext")
    // trend channel should sit near the planted slope
    assert(abs(r.getDouble(3) - 0.5) < 0.2, s"trend ${r.getDouble(3)}")
  }

  test("HW h-step forecasts track a planted trend+period-7 pattern") {
    import spark.implicits._
    val season = Array(4.0, -2.0, 1.0, 0.0, -3.0, 2.0, -2.0)
    val xs = (0 until 56).map(t => 50.0 + 0.5 * t + season(t % 7))
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val fc = graft.tsa.TimeSeries.holtWintersForecast(df, 0.3, 0.1, 0.2, 7, h = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(fc.size == 10)
    (1 to 10).foreach { k =>
      val actual = 50.0 + 0.5 * (55 + k) + season((55 + k) % 7)
      assert(abs(fc(k.toLong) - actual) < 1.5, s"step $k: ${fc(k.toLong)} vs $actual")
    }
  }

  test("AR(2) forecasts extend a noiseless AR(2) recursion exactly") {
    import spark.implicits._
    // x_t = 2 + 0.5 x_{t-1} + 0.3 x_{t-2}: CLS recovers the coefficients on
    // noiseless data, so the h-step forecasts must equal the true recursion
    val xs = scala.collection.mutable.ArrayBuffer(10.0, 11.0)
    (2 until 50).foreach(t => xs += 2.0 + 0.5 * xs(t - 1) + 0.3 * xs(t - 2))
    val df = xs.toSeq.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }
      .toDF("series", "t", "x")
    val fc = graft.tsa.TimeSeries.arForecast(df, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    var (p2, p1) = (xs(48), xs(49))
    (1 to 5).foreach { k =>
      val expect = 2.0 + 0.5 * p1 + 0.3 * p2
      assert(abs(fc(k.toLong) - expect) < 1e-3, s"step $k: ${fc(k.toLong)} vs $expect")
      p2 = p1; p1 = expect
    }
  }

  test("force layout separates two planted clusters (umap + tsne modes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // two tight 8-dim clusters far apart
    val rows = (0 until 40).map { i =>
      val base = if (i < 20) 0.0 else 10.0
      (i.toLong, Array.fill(8)(base + rnd.nextGaussian() * 0.3).toSeq)
    }
    val df = rows.toDF("id", "v")
    for (mode <- Seq(graft.manifold.Manifold.UmapForces, graft.manifold.Manifold.TsneForces)) {
      val pos = graft.manifold.Manifold.forceLayout(df, "id", "v",
          k = 5, iters = 20, lr = if (mode == graft.manifold.Manifold.TsneForces) 20.0 else 1.0,
          mode = mode)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val (a, b) = pos.partition(_._1 < 20)
      def centroid(s: Array[(Long, Double, Double)]) =
        (s.map(_._2).sum / s.length, s.map(_._3).sum / s.length)
      val (cax, cay) = centroid(a); val (cbx, cby) = centroid(b)
      val inter = math.hypot(cax - cbx, cay - cby)
      val intra = (a.map(p => math.hypot(p._2 - cax, p._3 - cay)) ++
        b.map(p => math.hypot(p._2 - cbx, p._3 - cby))).sum / pos.length
      assert(inter > 1.5 * intra, s"$mode: inter $inter vs intra $intra")
    }
  }

  test("umap transform places held-out points near their cluster's fitted points") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // two tight 8-dim clusters; fit on 40, hold out 10 (5 from each)
    def pt(i: Long, base: Double) =
      (i, Array.fill(8)(base + rnd.nextGaussian() * 0.3).toSeq)
    val fitRows = (0 until 40).map(i => pt(i.toLong, if (i < 20) 0.0 else 10.0))
    val heldRows = (100 until 110).map(i => pt(i.toLong, if (i < 105) 0.0 else 10.0))
    val fit = fitRows.toDF("id", "v")
    val layout = graft.manifold.Manifold.forceLayout(fit, "id", "v",
      k = 5, iters = 20, lr = 1.0, mode = graft.manifold.Manifold.UmapForces)
    val placed = graft.manifold.Manifold.umapTransform(
        heldRows.toDF("id", "v"), fit, layout, "id", "v", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(placed.length == 10)
    val pos = layout.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def centroid(s: Array[(Long, Double, Double)]) =
      (s.map(_._2).sum / s.length, s.map(_._3).sum / s.length)
    val (ca, cb) = (centroid(pos.filter(_._1 < 20)), centroid(pos.filter(_._1 >= 20)))
    // every held-out point must land closer to its OWN cluster's fitted
    // centroid than to the other's (the test_umap.py shape)
    placed.foreach { case (id, x, y) =>
      val own = if (id < 105) ca else cb
      val other = if (id < 105) cb else ca
      val dOwn = math.hypot(x - own._1, y - own._2)
      val dOther = math.hypot(x - other._1, y - other._2)
      assert(dOwn < dOther, s"held-out $id landed at ($x,$y): own $dOwn vs other $dOther")
    }
  }

  test("TSVD transform: per-component score energy equals the squared singular value") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sv = graft.decomposition.TSVDGraft.singularValues(e, "embedding", 3)
    val scores = graft.decomposition.TSVDGraft.transform(e, "vec_id", "embedding", 3)
    val row = scores.agg(
      sum(col("pc0") * col("pc0")), sum(col("pc1") * col("pc1")),
      sum(col("pc2") * col("pc2"))).head()
    for (c <- 0 until 3)
      assert(abs(math.sqrt(row.getDouble(c)) - sv(c)) / sv(c) < 1e-6,
        s"pc$c energy ${math.sqrt(row.getDouble(c))} vs sigma ${sv(c)}")
  }

  test("PCA reconstruction MSE decreases in k and vanishes at full rank") {
    import spark.implicits._
    import graft.decomposition.PCAGraft
    val rnd = new scala.util.Random(17)
    // low-rank-ish 6-dim data: 2 strong directions + small noise
    val rows = (0 until 300).map { i =>
      val a = rnd.nextGaussian() * 3; val b = rnd.nextGaussian()
      (i.toLong, Seq(a, a * 0.5 + b, b, a - b, 0.1 * rnd.nextGaussian(), 0.1 * rnd.nextGaussian()))
    }
    val df = rows.toDF("id", "v")
    val r = PCAGraft.fitWide(df, "v")
    val mses = Seq(1, 2, 4, 6).map(k => PCAGraft.reconstructionMse(df, "v", r, k))
    assert(mses.zip(mses.tail).forall { case (a, b) => b <= a + 1e-12 }, mses.toString)
    assert(mses.last < 1e-10, s"full-rank reconstruction should be exact: ${mses.last}")
    assert(mses.head > mses(1), "rank-1 must lose more than rank-2 on rank-2 data")
  }

  test("negative-sampled layout still separates clusters at 1200 nodes") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 1200).map { i =>
      val base = if (i < 600) 0.0 else 10.0
      (i.toLong, Array.fill(8)(base + rnd.nextGaussian() * 0.3).toSeq)
    }
    val df = rows.toDF("id", "v")
    val pos = graft.manifold.Manifold.forceLayout(df, "id", "v",
        k = 5, iters = 15, lr = 1.0, mode = graft.manifold.Manifold.UmapForces)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val (a, b) = pos.partition(_._1 < 600)
    def centroid(s: Array[(Long, Double, Double)]) =
      (s.map(_._2).sum / s.length, s.map(_._3).sum / s.length)
    val (cax, cay) = centroid(a); val (cbx, cby) = centroid(b)
    val inter = math.hypot(cax - cbx, cay - cby)
    val intra = (a.map(p => math.hypot(p._2 - cax, p._3 - cay)) ++
      b.map(p => math.hypot(p._2 - cbx, p._3 - cby))).sum / pos.length
    assert(inter > 1.5 * intra, s"inter $inter vs intra $intra")
  }

  test("wide PCA transform: per-component score variance equals the eigenvalue") {
    import graft.decomposition.PCAGraft
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = PCAGraft.fitWide(e, "embedding")
    val scores = PCAGraft.transformWide(e, "vec_id", "embedding", r, 3)
    val row = scores.agg(
      var_samp(col("pc0")), var_samp(col("pc1")), var_samp(col("pc2")),
      avg(col("pc0")), avg(col("pc1")), avg(col("pc2"))).head()
    for (c <- 0 until 3) {
      assert(abs(row.getDouble(c) - r.explainedVar(c)) / r.explainedVar(c) < 1e-6,
        s"pc$c var ${row.getDouble(c)} vs eigenvalue ${r.explainedVar(c)}")
      assert(abs(row.getDouble(3 + c)) < 1e-8, s"pc$c mean ${row.getDouble(3 + c)}")
    }
  }

  test("whitened PCA transform: every component has unit variance") {
    import graft.decomposition.PCAGraft
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = PCAGraft.fitWide(e, "embedding")
    val scores = PCAGraft.transformWhitened(e, "vec_id", "embedding", r, 3)
    val row = scores.agg(
      var_samp(col("pc0")), var_samp(col("pc1")), var_samp(col("pc2"))).head()
    for (c <- 0 until 3)
      assert(abs(row.getDouble(c) - 1.0) < 1e-6, s"pc$c var ${row.getDouble(c)}")
  }

  test("squared-hinge QN SVC separates a planted margin with high accuracy") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // labels decided by 2*x0 - x1 + 0.5 with a small noise band
    val rows = (0 until 2000).map { i =>
      val x0 = rnd.nextDouble() * 10; val x1 = rnd.nextDouble() * 10
      val lab = if (2.0 * x0 - x1 + 0.5 + rnd.nextGaussian() * 0.3 > 0) 1.0 else 0.0
      (i.toLong, x0, x1, lab)
    }
    val df = rows.toDF("id", "x0", "x1", "lab")
    val out = graft.svm.SVMGraft.linearSvcSummary(df, Seq("x0", "x1"), col("lab"),
      regParam = 0.01, maxIter = 50).collect()
    val acc = out.head.getDouble(2)
    val coefs = out.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(acc > 0.95, s"accuracy $acc")
    assert(coefs("x0") > 0 && coefs("x1") < 0, s"sign structure: $coefs")
  }

  test("degenerate inputs: constant column and single row don't NaN-poison the QN fits") {
    import spark.implicits._
    // constant feature (stddev 0) alongside a real one
    val df = (0 until 200).map { i =>
      val x = i.toDouble / 10
      (i.toLong, x, 5.0, if (x > 10) 1.0 else 0.0)
    }.toDF("id", "x0", "xconst", "lab")
    val out = graft.svm.SVMGraft.linearSvcSummary(df, Seq("x0", "xconst"), col("lab"))
      .collect()
    assert(out.forall(r => java.lang.Double.isFinite(r.getDouble(1))), out.mkString(","))
    assert(out.head.getDouble(2) > 0.9, s"accuracy ${out.head.getDouble(2)}")
    // single row: stddev_samp is NaN; the fit must still return finite coefs
    val one = Seq((0L, 1.0, 0.0)).toDF("id", "x0", "lab")
    val m = graft.linear.GradientSolver.fitQN(one, Seq("x0"), "lab", maxIter = 5)
    assert(m.coefs.forall(java.lang.Double.isFinite), m.coefs.toString)
  }

  test("flagship entry pipeline (quality + dedup + per-language stats) returns rows") {
    val r = SparkEntry.entry(spark).collect()
    assert(r.nonEmpty, "entry produced no rows")
    r.foreach { row =>
      assert(row.getLong(1) > 0, s"empty language group: $row")
      assert(row.getDouble(2) > 0.4, s"quality filter leaked: $row")
    }
  }

  test("RFF kernel SVC separates XOR data that linear SVC cannot") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // XOR: label = sign(x0 * x1) — not linearly separable
    val rows = (0 until 1500).map { i =>
      val x0 = rnd.nextDouble() * 2 - 1; val x1 = rnd.nextDouble() * 2 - 1
      (i.toLong, x0, x1, if (x0 * x1 > 0) 1.0 else 0.0)
    }
    val df = rows.toDF("id", "x0", "x1", "lab")
    val lin = graft.svm.SVMGraft.linearSvcSummary(df, Seq("x0", "x1"), col("lab"))
      .head().getDouble(2)
    val rbf = graft.svm.SVMGraft.rbfSvcSummary(df, Seq("x0", "x1"), col("lab"),
      gamma = 2.0, dRff = 64, maxIter = 80).head().getDouble(3)
    assert(lin < 0.7, s"linear should fail on XOR: $lin")
    assert(rbf > 0.85, s"RFF should separate XOR: $rbf")
  }

  test("exact SMO solves XOR and the RFF scale path agrees with its decisions") {
    import spark.implicits._
    import graft.svm.{SMO, SVMGraft}
    val rnd = new scala.util.Random(9)
    val rows = (0 until 300).map { i =>
      val x0 = rnd.nextDouble() * 2 - 1; val x1 = rnd.nextDouble() * 2 - 1
      (i.toLong, x0, x1, if (x0 * x1 > 0) 1.0 else 0.0)
    }
    // exact SMO, standardized like the distributed paths
    val xRaw = rows.map(r => Array(r._2, r._3)).toArray
    val mu = Array.tabulate(2)(j => xRaw.map(_(j)).sum / xRaw.length)
    val sd = Array.tabulate(2) { j =>
      math.sqrt(xRaw.map(r => (r(j) - mu(j)) * (r(j) - mu(j))).sum / xRaw.length)
    }
    val x = xRaw.map(r => Array.tabulate(2)(j => (r(j) - mu(j)) / sd(j)))
    val y = rows.map(r => if (r._4 == 1.0) 1.0 else -1.0).toArray
    val smo = SMO.fit(x, y, c = 1.0, gamma = 2.0)
    // the exact kernel machine must separate XOR (linear cannot)
    val smoAcc = x.indices.count(i => smo.decide(x(i)) > 0 == (y(i) > 0)).toDouble / x.length
    assert(smoAcc > 0.9, s"exact SMO accuracy on XOR: $smoAcc")
    // optimality certificates — the svm_rbf_exact gate's invariants
    assert(smo.alphas.forall(a => a >= -1e-12 && a <= 1.0 + 1e-12))
    assert(smo.maxKktViolation <= 2e-3, s"KKT residual ${smo.maxKktViolation}")
    assert(smo.dualObjective >= 0.0, s"dual objective ${smo.dualObjective}")
    assert(smo.nSupport >= 1 && smo.nSupport <= x.length)
    // the RFF approximation's DECISIONS agree with the exact solver
    val df = rows.toDF("id", "x0", "x1", "lab")
    val rff = SVMGraft.rbfSvcDecide(df, col("id"), Seq("x0", "x1"), col("lab"),
        gamma = 2.0, dRff = 64, maxIter = 80)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val agree = rows.count { r =>
      (rff(r._1) > 0) == (smo.decide(x(r._1.toInt)) > 0)
    }.toDouble / rows.length
    assert(agree >= 0.85, s"RFF vs exact-SMO decision agreement: $agree")
  }

  test("multiplicative Holt-Winters tracks a planted multiplicative season") {
    import spark.implicits._
    val season = Array(1.3, 0.8, 1.1, 1.0, 0.7, 1.2, 0.9)
    val xs = (0 until 56).map(t => (40.0 + 0.5 * t) * season(t % 7))
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.holtWintersSeasonal(df, 0.3, 0.1, 0.2, 7,
      multiplicative = true).head()
    val forecast = r.getDouble(4)
    val actualNext = (40.0 + 0.5 * 56) * season(56 % 7)
    assert(math.abs(forecast - actualNext) / actualNext < 0.05,
      s"forecast $forecast vs $actualNext")
  }

  test("ARIMA(1,1,1) HR fit recovers a planted AR(1)-on-differences signal") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // dx_t = 0.5 * dx_{t-1} + noise  → integrated series x
    var dx = 0.0; var x = 100.0
    val rows = (0 until 400).map { t =>
      dx = 0.5 * dx + rnd.nextGaussian() * 0.3
      x += dx
      ("s", t.toLong, x)
    }
    val df = rows.toDF("series", "t", "x")
    val m = graft.tsa.TimeSeries.arimaHR(df)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(m.keySet == Set("intercept", "ar1", "ma1"))
    assert(abs(m("ar1") - 0.5) < 0.25, s"ar1 ${m("ar1")}")
    assert(abs(m("ma1")) < 0.35, s"ma1 ${m("ma1")}")
  }

  test("OWL-QN zeroes noise-feature coefficients that plain L-BFGS keeps") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // y depends ONLY on x0; x1/x2 are pure noise
    val rows = (0 until 600).map { _ =>
      val x0 = rnd.nextGaussian()
      (x0, rnd.nextGaussian(), rnd.nextGaussian(),
        if (1.0 / (1.0 + math.exp(-3.0 * x0)) > rnd.nextDouble()) 1.0 else 0.0)
    }
    val df = rows.toDF("x0", "x1", "x2", "y")
    val fs = Seq("x0", "x1", "x2")
    val m1 = graft.linear.GradientSolver.fitQN(df, fs, "y", l1 = 0.08)
    val l1 = m1.terms.zip(m1.coefs).toMap
    val m2 = graft.linear.GradientSolver.fitQN(df, fs, "y", l2 = 1e-6)
    val l2 = m2.terms.zip(m2.coefs).toMap
    assert(math.abs(l1("x0")) > 0.5, s"signal coef ${l1("x0")}")
    assert(l1("x1") == 0.0 && l1("x2") == 0.0, s"noise coefs ${l1("x1")}, ${l1("x2")}")
    assert(l2("x1") != 0.0 || l2("x2") != 0.0, "unregularized fit should keep noise coefs")
  }

  test("QN squared loss matches OLS on a planted y = Xw + b frame") {
    val fs = Seq("x0", "x1", "x2")
    val df = Datasets.makeRegression(spark, 2000, Seq(1.5, -2.0, 0.7), 0.3, 0.1)
    val qn = graft.linear.GradientSolver.fitQN(df, fs, "y",
      loss = graft.linear.GradientSolver.SquaredLoss)
    val ols = graft.linear.OLS.fit(df, fs, "y")
    assert(qn.terms == ols.terms)
    for ((t, (a, b)) <- qn.terms.zip(qn.coefs.zip(ols.coefs)))
      assert(abs(a - b) < 1e-4, s"$t: QN $a vs OLS $b")
  }

  test("MAD outliers: a planted spike is flagged, steady series stay clean") {
    import spark.implicits._
    val steady = (0 until 30).map(i => ("calm", i, 50.0 + (i % 5)))
    val spiky = (0 until 30).map(i => ("spiky", i, if (i == 17) 500.0 else 50.0 + (i % 5)))
    val df = (steady ++ spiky).map { case (s, i, x) => (s, f"2026-01-$i%02d", x) }
      .toDF("series", "day", "x")
    val r = graft.stats.Robust.outlierMad(df).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(4)))).toMap
    assert(r("calm") == ((30L, 0L)), r("calm").toString)
    assert(r("spiky") == ((30L, 1L)), r("spiky").toString)
  }

  test("outlierMad flags nothing on a majority-constant series (MAD = 0)") {
    import spark.implicits._
    // 29 identical values + one spike: MAD = 0 — the Hampel degenerate
    // case must suppress, not flag every nonidentical point
    val df = ((0 until 29).map(i => ("flat", f"2026-01-$i%02d", 42.0)) :+
      (("flat", "2026-01-99", 99.0))).toDF("series", "day", "x")
    val r = graft.stats.Robust.outlierMad(df).head()
    assert(r.getDouble(3) == 0.0, s"mad ${r.getDouble(3)}")
    assert(r.getLong(4) == 0L, s"n_outliers ${r.getLong(4)} — MAD=0 must flag nothing")
  }

  test("semDedup drops planted duplicate embeddings and keeps distinct ones") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(5)
    val distinct = (0 until 20).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // 3 exact copies: identical vectors land in the same cell and pair at
    // cosine 1.0 — the two higher ids must be dropped
    val dupBase = Array.fill(dim)(rnd.nextGaussian())
    val dups = Seq(100L, 101L, 102L).map(id => (id, dupBase.clone()))
    val r = graft.dedup.Dedup.semDedup((distinct ++ dups).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 4, dim = dim, seed = 7L, tau = 0.95)
    val t = r.agg(sum("n"), sum("n_dropped")).head()
    assert(t.getLong(0) == 23, s"n ${t.getLong(0)}")
    assert(t.getLong(1) == 2, s"dropped ${t.getLong(1)}")
  }

  test("semDedupAuto sizes the anchor count with the corpus (cells stay bounded)") {
    import spark.implicits._
    // k derivation: grows linearly with n, floored at 1, capped
    assert(graft.dedup.Dedup.semDedupAnchors(500, targetCellSize = 1000) == 1)
    assert(graft.dedup.Dedup.semDedupAnchors(10000, targetCellSize = 1000) == 10)
    assert(graft.dedup.Dedup.semDedupAnchors(10001, targetCellSize = 1000) == 11)
    assert(graft.dedup.Dedup.semDedupAnchors(Long.MaxValue) == 65536)
    // on a 4000-row corpus with targetCellSize=250 → k=16 anchors, the
    // MEAN cell size must hold near target (md5 anchors are ~uniform over
    // gaussian data; individual cells vary but none may swallow the corpus)
    val dim = 8
    val rnd = new scala.util.Random(11)
    val n = 4000
    val df = (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val cells = graft.dedup.Dedup.semDedupAuto(df, "vec_id", "embedding",
      dim = dim, seed = 7L, tau = 0.999, targetCellSize = 250L).collect()
    assert(cells.map(_.getLong(1)).sum == n)
    assert(cells.length > 8, s"only ${cells.length} non-empty cells of 16")
    val biggest = cells.map(_.getLong(1)).max
    assert(biggest < n / 2, s"one cell holds $biggest of $n rows — not bounded")
  }

  test("semDedupTwoLevel partitions the corpus and drops planted duplicates") {
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(5)
    val distinct = (0 until 400).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // 3 exact copies: identical vectors get identical dots at BOTH
    // quantizer levels → same fine cell → pair at cosine 1.0 → 2 dropped
    val dupBase = Array.fill(dim)(rnd.nextGaussian())
    val dups = Seq(1000L, 1001L, 1002L).map(id => (id, dupBase.clone()))
    // n=403, targetCellSize=50 → kTotal=9, kc=3, kf=3 → 9 fine cells
    val r = graft.dedup.Dedup.semDedupTwoLevel(
      (distinct ++ dups).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = dim, seed = 7L, tau = 0.95,
      targetCellSize = 50L)
    val rows = r.collect()
    assert(rows.map(_.getLong(1)).sum == 403L, "cells must partition the corpus")
    assert(rows.forall(c => c.getLong(0) >= 0 && c.getLong(0) < 9),
      s"cell ids must lie in [0, kc*kf): ${rows.map(_.getLong(0)).mkString(",")}")
    assert(rows.length > 3, s"only ${rows.length} non-empty cells of 9")
    assert(rows.map(_.getLong(2)).sum == 2L,
      s"dropped ${rows.map(_.getLong(2)).sum} — expected exactly the 2 planted copies")
  }

  test("lsh auto-depth: BlockSignBits matches the per-plane signature; bits track n") {
    import spark.implicits._
    assert(graft.neighbors.KNN.lshBitsFor(500) == 4)
    assert(graft.neighbors.KNN.lshBitsFor(2000) == 5)
    assert(graft.neighbors.KNN.lshBitsFor(200000) == 12)
    assert(graft.neighbors.KNN.lshBitsFor(Long.MaxValue) == 24)
    val rnd = new scala.util.Random(3)
    val df = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
      .toDF("id", "v")
    def buckets(f: => org.apache.spark.sql.DataFrame): Map[Long, Long] =
      f.select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chain = buckets(graft.neighbors.KNN.lshBuckets(df, "id", "v", bits = 8, dim = 16))
    val block = buckets(graft.neighbors.KNN.lshBucketsAuto(df, "id", "v", bits = 8, dim = 16))
    assert(chain == block, "block-loop signature must equal the per-plane when-chain")
  }

  test("semDedupTwoLevel overflow split bounds dense-cluster cells") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(13)
    // one TIGHT cluster of 600: random anchors cannot balance it (every
    // vector argmaxes to nearly the same anchor) — the overflow split must
    // re-quantize it; 3 exact copies must still co-locate and drop
    val center = Array.fill(dim)(rnd.nextGaussian())
    val cloud = (0 until 600).map(i =>
      (i.toLong, center.map(_ + rnd.nextGaussian() * 0.1)))
    val dupBase = center.map(_ + rnd.nextGaussian() * 0.1)
    val dups = Seq(900L, 901L, 902L).map(id => (id, dupBase.clone()))
    val rows = graft.dedup.Dedup.semDedupTwoLevel(
      (cloud ++ dups).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = dim, seed = 7L, tau = 0.9999,
      targetCellSize = 50L).collect()
    assert(rows.map(_.getLong(1)).sum == 603L, "split must partition, not drop rows")
    val biggest = rows.map(_.getLong(1)).max
    assert(biggest <= 250L,
      s"biggest cell $biggest — overflow split failed to bound the dense cluster")
    assert(rows.exists(_.getLong(0) >= 16777216L),
      "expected at least one split sub-cell id in the (cell+1)*2^24 namespace")
    assert(rows.map(_.getLong(2)).sum >= 2L,
      "the 3 identical copies must co-locate through the split and drop")
  }

  test("semDedupTwoLevel fine assignment matches a driver-side replay") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(9)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // n=60, targetCellSize=10 → kTotal=6, kc=3, kf=2 → 6 fine cells
    val cells = graft.dedup.Dedup.semDedupTwoLevel(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = dim, seed = 7L, tau = 0.999,
        targetCellSize = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side replay of both md5-anchor levels
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def entry(key: String): Double = {
      val u1 = (h(s"${key}_a") % 1000000L) / 1000000.0 + 5e-7
      val u2 = (h(s"${key}_b") % 1000000L) / 1000000.0
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    val coarse = Array.tabulate(3, dim)((b, i) => entry(s"p_7_${b}_$i"))
    val fine = Array.tabulate(6, dim)((g, i) => entry(s"p_7_f${g}_$i"))
    def argmaxDot(v: Array[Double], anchors: Seq[Int], m: Array[Array[Double]]): Int = {
      val dots = anchors.map(a => a -> v.indices.map(i => v(i) * m(a)(i)).sum)
      val mx = dots.map(_._2).max
      dots.filter(_._2 == mx).map(_._1).min
    }
    val expected = vecs.map { case (_, v) =>
      val cc = argmaxDot(v, 0 until 3, coarse)
      argmaxDot(v, (cc * 2) until (cc * 2 + 2), fine).toLong
    }.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    assert(cells == expected, s"spark $cells vs driver $expected")
  }

  test("kmeans transform distances match hand-computed centroid distances") {
    import spark.implicits._
    val df = Seq((0.0, 0.0, 0.0), (3.0, 4.0, 0.0)).toDF("f1", "f2", "f3")
    val ds = graft.cluster.KMeansGraft.distances(
      Seq(col("f1"), col("f2"), col("f3")),
      Seq(Seq(0.0, 0.0, 0.0), Seq(3.0, 4.0, 0.0)))
    val r = df.select(ds(0).as("d0"), ds(1).as("d1")).orderBy("d0").collect()
    assert(r(0).getDouble(0) == 0.0 && r(0).getDouble(1) == 5.0)
    assert(r(1).getDouble(0) == 5.0 && r(1).getDouble(1) == 0.0)
  }
}
