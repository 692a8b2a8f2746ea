package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style invariants for the driver-independent kernels: the
  * reductions and recursions whose correctness the SQL oracles rely on.
  * Cases are drawn from scalacheck generators under fixed seeds, so runs
  * are deterministic while covering shapes a hand-written fixture never
  * would. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cases[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** The higher-order folds the native vector kernels replaced: Σ aᵢ·bᵢ
    * and Σ (aᵢ−bᵢ)², NULL when the widths differ (`zip_with` pads the
    * shorter side with NULLs). */
  private object Fold {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{aggregate, lit, zip_with}
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
  }

  test("topKPerKey equals sort-and-take for arbitrary score sets") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        q <- Gen.choose(0L, 3L)
        id <- Gen.choose(0L, 500L)
        s <- Gen.choose(-100.0, 100.0)
      } yield (q, id, s))
      k <- Gen.choose(1, 5)
    } yield (rows.distinctBy(r => (r._1, r._2)), k)
    cases(gen, 5).foreach { case (rows, k) =>
      val df = rows.toDF("qid", "id", "_s")
      val got = graft.neighbors.KNN
        .topKPerKey(df, k, (a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val want = rows.groupBy(_._1).flatMap { case (q, g) =>
        g.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
          .map { case (r, i) => (q, i + 1, r._2) }
      }.toSet
      assert(got == want, s"k=$k rows=${rows.take(8)}…")
    }
  }

  /** topKPerKey's body before it became an aggregate: a boxed
    * PriorityQueue per key through `Dataset.rdd` + `aggregateByKey`. The
    * reference the aggregate must equal bit for bit. */
  private def heapTopK(pairs: org.apache.spark.sql.DataFrame, k: Int,
                       better: ((Double, Long), (Double, Long)) => Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int =
        if (better(b, a)) 1 else if (better(a, b)) -1 else 0
    }
    val topped = pairs.select(col("qid").cast("long"), col("id").cast("long"),
        col("_s").cast("double"))
      .as[(Long, Long, Double)].rdd
      .map { case (qid, id, sv) => (qid, (sv, id)) }
      .aggregateByKey(new scala.collection.mutable.PriorityQueue[(Double, Long)]())(
        (h, v) => { h.enqueue(v); if (h.size > k) h.dequeue(); h },
        (h1, h2) => { h2.foreach { v => h1.enqueue(v); if (h1.size > k) h1.dequeue() }; h1 })
    topped.flatMap { case (qid, h) =>
      h.toSeq.sortWith(better).zipWithIndex.map { case ((sv, id), r) =>
        (qid, r + 1, id, sv)
      }
    }.toDF("qid", "rank", "id", "_s")
      .select(col("qid"), col("rank"), col("id"), graft.core.Num.r4(col("_s")).as("score"))
  }

  test("topKPerKey equals the former PriorityQueue heap bit for bit under heavy ties") {
    import graft.neighbors.KNN
    import spark.implicits._
    // scores from at most 3 values, repeated ids, k up to twice a group's
    // size, 4 partitions: ties decide most ranks, partial buffers merge
    val gen = for {
      vals <- Gen.pick(3, Seq(-2.5, -1.0, 0.0, 0.125, 0.33333, 1.0, 7.75))
      nv <- Gen.choose(1, 3)
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        q <- Gen.choose(0L, 4L)
        id <- Gen.choose(0L, 30L)
        s <- Gen.oneOf(vals.take(nv).toSeq)
      } yield (q, id, s))
      k <- Gen.choose(1, 2 * (n / 5 + 1))
    } yield (rows, k)
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted.toSeq
    cases(gen, 12).foreach { case (rows, k) =>
      val df = rows.toDF("qid", "id", "_s").repartition(4)
      assert(df.rdd.getNumPartitions >= 3)
      for (metric <- Seq(KNN.Cosine, KNN.Euclidean)) {
        val order = KNN.nearFirst(metric)
        val got = bits(KNN.topKPerKey(df, k, order))
        assert(got == bits(heapTopK(df, k, order)), s"$metric k=$k rows=${rows.take(8)}…")
        assert(got.nonEmpty && got.length <= k * rows.map(_._1).distinct.size)
      }
    }
  }

  test("connected components converge() equals union-find on random graphs") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 40)
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 60L); b <- Gen.choose(0L, 60L)
      } yield (a, b))
    } yield edges.filter(e => e._1 != e._2)
    cases(gen, 5).filter(_.nonEmpty).foreach { edges =>
      def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val df = edges.toDF("a", "b")
      val got = labels(graft.graph.ConnectedComponents.converge(df, "a", "b"))
      val rounds = labels(graft.graph.ConnectedComponents.distributed(df, "a", "b", 64))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      assert(got == want)
      assert(rounds == want)
    }
  }

  test("native graft_dot/graft_sqdist equal the higher-order fold bit-for-bit") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 48)
      a <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
      b <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
    } yield (a, b)
    cases(gen, 8).foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val row = df.select(
        graft.functions.ArrayMath.dot(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")),
        Fold.dot(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")),
        graft.functions.ArrayMath.sqDist(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")),
        Fold.sqDist(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"))).head()
      // identical accumulation order ⇒ identical doubles, not just close
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(row.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(3)))
    }
  }

  test("RandomProjection.project equals the fold and gives NULL for a vector of another width") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, round}
    val m = graft.decomposition.RandomProjection.gaussianMatrix(6, 3, 42L)
    val rnd = new scala.util.Random(3)
    def vec(n: Int): Option[Seq[Double]] = Some(Seq.fill(n)(rnd.nextGaussian() * 10))
    val df = Seq(1L -> vec(6), 2L -> vec(6), 3L -> vec(4), 4L -> vec(9), 5L -> None)
      .toDF("id", "v")
    val got = graft.decomposition.RandomProjection.project(df, "id", "v", m)
      .orderBy("id").collect().toSeq
    val v = col("v").cast("array<double>")
    val want = df.select(col("id") +: m.toSeq.map(row => round(Fold.dot(v, lit(row)), 4)): _*)
      .orderBy("id").collect().toSeq
    assert(got == want)
    assert(got.map(r => r.isNullAt(1)) == Seq(false, false, true, true, true), got.toString)
  }

  test("graft functions register as SQL functions (extension path)") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) d, " +
        "graft_sqdist(array(1.0d, 2.0d), array(3.0d, 1.0d)) s").head()
    assert(r.getDouble(0) == 32.0 && r.getDouble(1) == 5.0)
  }

  test("SES recursion stays within the running min/max of the series") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 50)
      xs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
      alpha <- Gen.choose(0.05, 0.95)
    } yield (xs, alpha)
    cases(gen, 5).foreach { case (xs, alpha) =>
      val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }
        .toDF("series", "t", "x")
      val sm = graft.tsa.TimeSeries.sesSmoothed(df, alpha)
        .orderBy("t").collect().map(_.getDouble(3))
      // each smoothed value is a convex combination of the prefix
      sm.zipWithIndex.foreach { case (s, t) =>
        val prefix = xs.take(t + 1)
        assert(s >= prefix.min - 1e-9 && s <= prefix.max + 1e-9,
          s"t=$t s=$s range=[${prefix.min}, ${prefix.max}] alpha=$alpha")
      }
    }
  }

  test("KPSS statistic is invariant under affine transforms of the series") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(40, 120)
      xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      a <- Gen.choose(0.5, 20.0)
      b <- Gen.choose(-500.0, 500.0)
    } yield (xs, a, b)
    cases(gen, 4).foreach { case (xs, a, b) =>
      val mk = (vs: Seq[Double], tag: String) =>
        vs.zipWithIndex.map { case (x, t) => (tag, t.toLong, x) }
      val df = (mk(xs, "orig") ++ mk(xs.map(x => a * x + b), "scaled"))
        .toDF("series", "t", "x")
      // e and the long-run variance scale by a and a^2 together: the
      // normalized statistic must not move (demeaning kills b)
      val r = graft.tsa.TimeSeries.stationarityKpss(df)
        .collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
      assert(scala.math.abs(r("orig") - r("scaled")) < 1e-4,
        s"orig ${r("orig")} vs scaled ${r("scaled")} (a=$a b=$b)")
    }
  }

  test("mix weights: rates within (0,1], winners take everything, shares hit") {
    import spark.implicits._
    val gen = for {
      na <- Gen.choose(30, 300)
      nb <- Gen.choose(30, 300)
      nc <- Gen.choose(30, 300)
      ta <- Gen.choose(0.2, 0.6)
      tb <- Gen.choose(0.1, 0.3)
    } yield (na, nb, nc, ta, tb)
    cases(gen, 5).foreach { case (na, nb, nc, ta, tb) =>
      val tc = 1.0 - ta - tb
      val df = (Seq.fill(na)("a") ++ Seq.fill(nb)("b") ++ Seq.fill(nc)("c"))
        .zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "key")
      val rows = graft.text.TextOps.mixWeights(df, "key",
          Seq("a" -> ta, "b" -> tb, "c" -> tc))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getDouble(4)))
        .toMap
      val targets = Map("a" -> ta, "b" -> tb, "c" -> tc)
      rows.foreach { case (k, (n, take, rate)) =>
        assert(take <= n && take >= 0, s"$k take $take of $n")
        assert(rate > 0.0 && rate <= 1.0, s"$k rate $rate")
      }
      // the binding domain is taken whole (floor slack aside)...
      assert(rows.exists { case (k, (n, take, _)) => n - take <= 1 })
      // ...and realized shares track the targets within floor slack
      val total = rows.values.map(_._2).sum.toDouble
      rows.foreach { case (k, (_, take, _)) =>
        assert(scala.math.abs(take / total - targets(k)) < 0.02,
          s"$k share ${take / total} target ${targets(k)}")
      }
    }
  }

  test("chunkDocuments tiles any token count: coverage, overlap, bounds") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      chunk <- Gen.choose(2, 80)
      overlap <- Gen.choose(0, chunk - 1)
    } yield (n, chunk, overlap)
    cases(gen, 8).foreach { case (n, chunk, overlap) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val rows = graft.text.TextOps.chunkDocuments(
          Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id", chunk, overlap)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      val stride = chunk - overlap
      // starts advance by the stride; lengths capped at chunk and positive
      rows.foreach { case (c, start, len) =>
        assert(start == c * stride && len >= 1 && len <= chunk,
          s"n=$n chunk=$chunk overlap=$overlap: $rows")
      }
      // the last chunk reaches exactly the final token; no chunk overruns
      assert(rows.last._2 + rows.last._3 == n, s"n=$n chunk=$chunk ov=$overlap: ${rows.last}")
      assert(rows.forall { case (_, s, l) => s + l <= n })
      // every token is covered (first chunk starts at 0, gaps impossible
      // when stride <= chunk — checked explicitly)
      assert(rows.head._2 == 0L)
      rows.sliding(2).foreach {
        case Array((_, s1, l1), (_, s2, _)) => assert(s2 <= s1 + l1)
        case _ =>
      }
    }
  }

  test("asofJoin equals per-row brute-force latest-prior lookup on random streams") {
    import spark.implicits._
    val gen = for {
      nl <- Gen.choose(1, 40)
      nr <- Gen.choose(0, 40)
      left <- Gen.listOfN(nl, for {
        k <- Gen.choose(0L, 4L); t <- Gen.choose(0L, 50L)
      } yield (k, t))
      right <- Gen.listOfN(nr, for {
        k <- Gen.choose(0L, 4L); t <- Gen.choose(0L, 50L); v <- Gen.choose(-9.0, 9.0)
      } yield (k, t, v))
    } yield (left, right)
    cases(gen, 6).foreach { case (left0, right0) =>
      val left = left0.zipWithIndex.map { case ((k, t), i) => (k, t, 100L + i) }
      val right = right0.zipWithIndex.map { case ((k, t, v), i) => (k, t, i.toLong, v) }
      val got = graft.events.AsOf.asofJoin(
          left.toDF("key", "t", "event_id"), right.toDF("key", "t", "event_id", "value"),
          "key", "t", "event_id", "event_id", "value")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      left.foreach { case (k, t, lid) =>
        // brute force: right rows with same key, rt <= t; latest t, max id tiebreak
        val cand = right.filter(r => r._1 == k && r._2 <= t)
        val want = if (cand.isEmpty) -1L else cand.maxBy(r => (r._2, r._3))._3
        assert(got(lid) == want, s"left ($k,$t): got ${got(lid)} want $want")
      }
    }
  }
}
