package graft

import graft.core.Tables
import graft.preprocessing.Preprocessing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 hypothesis-test / ranking-diagnostic queries cross-checked
  * against driver-side recomputation on sf0.001 (tiny enough to collect). */
class StatQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("welch_ttest matches a driver-side Welch recomputation on the same split") {
    val o = Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        (Preprocessing.splitColumn(col("o_orderkey"), 250, 42L) === "train").as("ref"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    val (a, b) = o.partition(_._2)
    def moments(xs: Array[Double]) = {
      val n = xs.length.toDouble
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n, m, v)
    }
    val (na, ma, va) = moments(a.map(_._1)); val (nb, mb, vb) = moments(b.map(_._1))
    val se2 = va / na + vb / nb
    val t = (ma - mb) / math.sqrt(se2)
    val dfW = se2 * se2 / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
    val got = SparkEntry.queries("welch_ttest")(spark, sf).head()
    assert(got.getLong(got.fieldIndex("n_a")) == na.toLong)
    assert(got.getLong(got.fieldIndex("n_b")) == nb.toLong)
    // the query computes sample variance via the sum-of-squares identity, so
    // allow the catastrophic-cancellation gap vs the two-pass driver formula
    assert(math.abs(got.getDouble(got.fieldIndex("t_stat")) - t) < 1e-3,
      s"t ${got.getDouble(got.fieldIndex("t_stat"))} vs $t")
    assert(math.abs(got.getDouble(got.fieldIndex("df")) - dfW) < 0.5)
  }

  test("chi2_test matches a driver-side contingency recomputation; dof = (r-1)(c-1)") {
    val pairs = Tables.documents(spark, sf).select(col("lang"), col("source"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = pairs.length.toDouble
    val cell = pairs.groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
    val byL = pairs.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
    val byS = pairs.groupBy(_._2).map { case (k, v) => k -> v.length.toDouble }
    val chi2 = cell.map { case ((l, s), c) =>
      val e = byL(l) * byS(s) / n; (c - e) * (c - e) / e
    }.sum
    val got = SparkEntry.queries("chi2_test")(spark, sf).head()
    assert(math.abs(got.getDouble(got.fieldIndex("chi2")) - chi2) < 1e-2,
      s"chi2 ${got.getDouble(got.fieldIndex("chi2"))} vs $chi2")
    assert(got.getLong(got.fieldIndex("dof")) == (byL.size - 1).toLong * (byS.size - 1))
  }

  test("lift_table: 10 deciles, counts sum to corpus, cum_gain monotone to 1") {
    val rows = SparkEntry.queries("lift_table")(spark, sf)
      .orderBy("decile").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("decile"))).toSeq == (1L to 10L))
    val nTotal = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n"))).sum == nTotal)
    val gains = rows.map(_.getDouble(rows.head.fieldIndex("cum_gain")))
    assert(gains.zip(gains.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(gains.last - 1.0) < 1e-9)
    // sanity floor only: the literal margin is a weak signal at sf0.001, so
    // just require the top-3 gain to be in a plausible band, not above uniform
    assert(gains(2) > 0.2 && gains(2) < 0.45, s"top-3 cumulative gain ${gains(2)}")
  }

  test("single-linkage threshold CC: planted near-dup groups merge, noise stays single") {
    import spark.implicits._
    import graft.core.VectorOps
    val rnd = new scala.util.Random(23)
    // 3 planted groups of 4 near-identical vectors + 30 random-ish vectors
    def jitter(base: Array[Double]) = base.map(_ + rnd.nextGaussian() * 0.01)
    val bases = (0 until 3).map(_ => Array.fill(64)(rnd.nextGaussian()))
    val planted = bases.zipWithIndex.flatMap { case (b, g) =>
      (0 until 4).map(j => ((g * 4 + j).toLong, jitter(b).toSeq))
    }
    val noise = (0 until 30).map(i => ((100 + i).toLong, Array.fill(64)(rnd.nextGaussian()).toSeq))
    val df = (planted ++ noise).toDF("vec_id", "embedding")
    val b = graft.neighbors.KNN.lshBuckets(df, "vec_id", "embedding", bits = 8, dim = 64)
      .withColumn("n2", VectorOps.sqNormFixed(org.apache.spark.sql.functions.col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    val edges = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), sim.as("_s"))
      .filter(round(col("_s"), 4) >= 0.95)
      .select(col("id1"), col("id2")).distinct()
    val lab = graft.graph.ConnectedComponents.propagate(edges, "id1", "id2", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each planted group collapses to one label (near-identical vectors
    // share every LSH bit whp); groups get distinct labels
    (0 until 3).foreach { g =>
      val labels = (0 until 4).map(j => lab((g * 4 + j).toLong)).distinct
      assert(labels.size == 1, s"group $g split: $labels")
    }
    assert((0 until 3).map(g => lab(g * 4L)).distinct.size == 3, "groups merged")
    // no noise vector joins a planted group at cos >= 0.95
    assert(!noise.exists { case (id, _) => lab.contains(id) }, "noise clustered")
  }

  test("cusum_changepoint finds a planted mean shift") {
    import spark.implicits._
    // series: 30 days at level 10, then 30 days at level 20 (tiny noise)
    val rnd = new scala.util.Random(31)
    val rows = (0 until 60).flatMap { day =>
      val level = if (day < 30) 10.0 else 20.0
      (0 until 3).map(j => (1000L * day + j,
        java.sql.Timestamp.valueOf(f"2024-01-01 00:00:00").toInstant
          .plusSeconds(day * 86400L + j).toEpochMilli * 1000L,
        level / 3 + rnd.nextGaussian() * 0.01))
    }
    val ev = rows.toDF("event_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("planted"))
      .withColumn("user_id", lit(1L))
    val ds = graft.tsa.TimeSeries.dailySeries(ev)
    val stats = ds.groupBy("series").agg(avg(col("x")).as("_m"),
      stddev_samp(col("x")).as("_sd"), count(lit(1)).cast("double").as("_n"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("series"))
      .orderBy(col("t")).rowsBetween(Long.MinValue, 0)
    val cum = ds.join(stats, "series").withColumn("_s", sum(col("x") - col("_m")).over(wc))
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("series"))
      .orderBy(round(abs(col("_s")), 4).desc, col("t"))
    val cp = cum.withColumn("_rn", row_number().over(wr)).filter(col("_rn") === 1)
      .select(col("t")).head().getLong(0)
    // |CUSUM| peaks exactly at the last pre-shift day (t = 29)
    assert(cp == 29L, s"changepoint at t=$cp, expected 29")
  }

  test("bootstrap_ci brackets the sample mean with a sane width") {
    val got = SparkEntry.queries("bootstrap_ci")(spark, sf).head()
    val mean = graft.core.Tables.orders(spark, sf)
      .agg(avg(col("o_totalprice"))).head().getDouble(0)
    val (lo, hi) = (got.getDouble(got.fieldIndex("ci_lo")), got.getDouble(got.fieldIndex("ci_hi")))
    assert(got.getLong(got.fieldIndex("n_replicates")) == 100L)
    assert(lo < mean && mean < hi, s"CI [$lo, $hi] misses mean $mean")
    assert(hi - lo < mean * 0.2, s"CI implausibly wide: [$lo, $hi]")
  }

  test("rolling_features matches a driver-side sliding-window replay") {
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byUser = ev.groupBy(_._1)
    val got = SparkEntry.queries("rolling_features")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    byUser.foreach { case (u, es) =>
      val sorted = es.sortBy(_._2)
      val windows = sorted.map { case (_, us, _) =>
        val in = sorted.filter(e => e._2 >= us - 259200000000L && e._2 <= us)
        (in.length, in.map(_._3).sum)
      }
      val (n, maxC, maxS) = got(u)
      assert(n == es.length.toLong)
      assert(maxC == windows.map(_._1).max.toLong, s"user $u max count")
      assert(math.abs(maxS - windows.map(_._2).max) < 1e-3, s"user $u max sum")
    }
  }

  test("event_paths top-10 matches a driver-side trigram count") {
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val counts = ev.groupBy(_._1).values.flatMap { es =>
      val t = es.sortBy(e => (e._4, e._2)).map(_._3)
      t.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val top = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    val got = SparkEntry.queries("event_paths")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt))
    assert(got.toSeq == top, s"got ${got.toSeq}\nexp $top")
  }

  test("GMM EM recovers a planted two-component mixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val ys = (0 until 2000).map { i =>
      if (i % 3 == 0) 10.0 + rnd.nextGaussian() * 1.0   // 1/3 mass at 10
      else 20.0 + rnd.nextGaussian() * 1.5              // 2/3 mass at 20
    }
    val f = graft.cluster.GMM.fit1d(ys.toDF("y"), col("y"), rounds = 10)
    val (lo, hi) = if (f.mu1 < f.mu2) (f.mu1, f.mu2) else (f.mu2, f.mu1)
    assert(math.abs(lo - 10.0) < 0.5, s"lo mean $lo")
    assert(math.abs(hi - 20.0) < 0.5, s"hi mean $hi")
    val piLo = if (f.mu1 < f.mu2) f.pi1 else 1.0 - f.pi1
    assert(math.abs(piLo - 1.0 / 3) < 0.05, s"weight $piLo")
    assert(f.s1 > 0 && f.s2 > 0 && f.ll < 0)
  }

  test("corr_matrix entries match Spark's corr()/covar_samp builtins") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val got = SparkEntry.queries("corr_matrix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    got.foreach { case ((c1, c2), (cv, cr)) =>
      val exp = li.agg(covar_samp(col(c1), col(c2)), corr(col(c1), col(c2))).head()
      assert(math.abs(cv - exp.getDouble(0)) < math.abs(exp.getDouble(0)) * 1e-6 + 1e-6,
        s"cov($c1,$c2)")
      assert(math.abs(cr - exp.getDouble(1)) < 1e-5, s"corr($c1,$c2): $cr vs ${exp.getDouble(1)}")
      assert(cr >= -1.0 && cr <= 1.0)
    }
    assert(got.size == 6, s"expected 6 pairs, got ${got.size}")
  }

  test("anova_f matches a driver-side between/within decomposition") {
    val rows = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val groups = rows.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val grand = rows.map(_._2).sum / rows.length
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val f = (ssb / (groups.size - 1)) / (ssw / (rows.length - groups.size))
    val got = SparkEntry.queries("anova_f")(spark, sf).head()
    assert(got.getLong(0) == rows.length.toLong && got.getLong(1) == groups.size.toLong)
    assert(math.abs(got.getDouble(2) - f) < 1e-2, s"F ${got.getDouble(2)} vs $f")
  }

  test("mann_whitney matches a driver-side midrank U computation") {
    val rows = graft.core.Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        (graft.preprocessing.Preprocessing.splitColumn(col("o_orderkey"), 250, 42L) === "train"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    val sorted = rows.map(_._1).sorted
    val rank = rows.map(_._1).distinct.map { v =>
      v -> (sorted.count(_ < v) + (sorted.count(_ == v) + 1.0) / 2.0)
    }.toMap
    val na = rows.count(_._2).toDouble; val nb = rows.length - na
    val ra = rows.filter(_._2).map(r => rank(r._1)).sum
    val u = ra - na * (na + 1) / 2
    val tieSum = rows.map(_._1).groupBy(identity).values
      .map(g => math.pow(g.length, 3) - g.length).sum
    val n = na + nb
    val sig = math.sqrt(na * nb / 12.0 * ((n + 1) - tieSum / (n * (n - 1))))
    val z = (u - na * nb / 2) / sig
    val got = SparkEntry.queries("mann_whitney")(spark, sf).head()
    assert(got.getLong(0) == na.toLong && got.getLong(1) == nb.toLong)
    assert(math.abs(got.getDouble(2) - u) < 1e-2, s"U ${got.getDouble(2)} vs $u")
    assert(math.abs(got.getDouble(3) - z) < 1e-3, s"z ${got.getDouble(3)} vs $z")
  }

  test("label propagation fills components from seeds; ties go to the smaller label") {
    import spark.implicits._
    // component A: chain 1-2-3-4 seeded at node 1 (label 7)
    // component B: triangle 10-11-12 seeded at node 10 (label 3)
    // node 20: isolated, unseeded → stays unlabeled
    // node 30: bridges two seeds 31 (label 1) and 32 (label 2) equally → tie → 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (30L, 31L), (30L, 32L)).toDF("src", "dst")
    val nodes = Seq((1L, Some(7L)), (2L, None), (3L, None), (4L, None),
      (10L, Some(3L)), (11L, None), (12L, None), (20L, None),
      (30L, None), (31L, Some(1L)), (32L, Some(2L)))
      .toDF("node", "seed")
    val got = graft.graph.LabelPropagation.propagate(nodes, edges, rounds = 5)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    Seq(1L, 2L, 3L, 4L).foreach(n => assert(got(n).contains(7L), s"node $n: ${got(n)}"))
    Seq(10L, 11L, 12L).foreach(n => assert(got(n).contains(3L), s"node $n"))
    assert(got(20L).isEmpty, "isolated node got a label")
    assert(got(30L).contains(1L), s"tie broke to ${got(30L)}, expected 1")
    assert(got(31L).contains(1L) && got(32L).contains(2L), "seeds must not move")
  }

  test("basket_lift matches a driver-side co-occurrence replay") {
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrd = li.map(_._1).distinct.length.toDouble
    val perPart = li.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val pairCnt = li.groupBy(_._1).values.flatMap { os =>
      val ps = os.map(_._2).sorted
      for { i <- ps.indices; j <- (i + 1) until ps.length } yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toDouble).filter(_._2 >= 2.0)
    def q4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = pairCnt.map { case ((a, b), c) =>
      (a, b, c.toLong, q4(c * nOrd / (perPart(a) * perPart(b))))
    }.toSeq.sortBy { case (a, b, _, l) => (-l, a, b) }.take(15)
    val got = SparkEntry.queries("basket_lift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
  }

  test("oov_rate: rates in [0,1] and a tiny vocab raises OOV vs a full vocab") {
    val got = SparkEntry.queries("oov_rate")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (avg, mx) = (r.getDouble(2), r.getDouble(3))
      assert(avg >= 0.0 && avg <= 1.0 && mx >= avg && mx <= 1.0, r.toString)
    }
    // the synthetic corpus vocabulary is small, so the top-500 cut covers
    // nearly everything
    assert(got.map(_.getDouble(2)).max < 0.5)
  }

  test("rfm_segments: quintile grid covers all customers; codes in 1..5") {
    val rows = SparkEntry.queries("rfm_segments")(spark, sf).collect()
    val nCust = graft.core.Tables.orders(spark, sf)
      .select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == nCust)
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 5 && r.getInt(1) >= 1 && r.getInt(1) <= 5)
      assert(r.getDouble(3) > 0)
    }
  }

  test("seasonal strength is high for a planted weekly pattern, low for noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val mk = (name: String, f: Int => Double) => (0 until 56).map { t =>
      (name, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(t)), f(t), t.toLong)
    }
    val rows = mk("weekly", t => 100.0 + 30.0 * math.sin(2 * math.Pi * (t % 7) / 7.0) +
      rnd.nextGaussian() * 0.5) ++ mk("noise", _ => 100.0 + rnd.nextGaussian() * 10)
    val series = rows.toDF("series", "day", "x", "t")
    val got = graft.tsa.TimeSeries.seasonalStrength(series.select(col("series"), col("day"), col("x"), col("t")), 7)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("weekly") > 0.9, s"weekly ${got("weekly")}")
    assert(got("noise") < 0.5, s"noise ${got("noise")}")
  }

  test("tfidf cosine pairs rank a planted near-duplicate first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon unique1"),
      (2L, "alpha beta gamma delta epsilon unique2"),   // near-dup of 1
      (3L, "zeta eta theta iota kappa lambda"),
      (4L, "mu nu xi omicron pi rho"),
      (5L, "sigma tau upsilon phi chi psi")).toDF("doc_id", "text")
    val got = graft.text.Relevance.tfidfCosinePairs(docs, "text", "doc_id", topN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.head._1 == 1L && got.head._2 == 2L, got.mkString(","))
    // the unique high-idf term in each doc caps the cosine well below 1
    assert(got.head._3 > 0.5, s"near-dup cosine ${got.head._3}")
    got.foreach { case (_, _, c) => assert(c >= -1e-9 && c <= 1.0 + 1e-9) }
  }

  test("wasserstein_1d is ~0 between identical distributions, positive under shift") {
    // the A/B md5 split draws from the same distribution → small W₁
    // relative to the data scale (~250k mean)
    val got = SparkEntry.queries("wasserstein_1d")(spark, sf).head()
    val w = got.getDouble(got.fieldIndex("wasserstein"))
    assert(w >= 0.0 && w < 25000.0, s"same-distribution W1 $w")
    // driver cross-check on a planted shift: two staircase CDFs 5 apart
    import spark.implicits._
    val a = (0 until 100).map(i => (i.toLong, i.toDouble))
    // reuse the metric shape directly: shifted uniform has W1 = shift
    val shift = 5.0
    val allRows = a.map { case (id, v) => (id * 2, v, true) } ++
      a.map { case (id, v) => (id * 2 + 1, v + shift, false) }
    val df = allRows.toDF("id", "v", "isA")
    val g = df.groupBy(col("v")).agg(
      sum(when(col("isA"), 1.0).otherwise(0.0)).as("ca"),
      sum(when(!col("isA"), 1.0).otherwise(0.0)).as("cb"))
    import org.apache.spark.sql.expressions.Window
    val wc = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val wA = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val res = g.withColumn("fa", sum(col("ca")).over(wc) / sum(col("ca")).over(wA))
      .withColumn("fb", sum(col("cb")).over(wc) / sum(col("cb")).over(wA))
      .withColumn("nv", lead(col("v"), 1).over(Window.orderBy(col("v"))))
      .filter(col("nv").isNotNull)
      .agg(sum(abs(col("fa") - col("fb")) * (col("nv") - col("v")))).head().getDouble(0)
    assert(math.abs(res - shift) < 1e-9, s"planted-shift W1 $res != $shift")
  }

  test("hhi_concentration: uniform mix gives 1/k") {
    val got = SparkEntry.queries("hhi_concentration")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got.foreach { case (_, (k, h)) =>
      assert(h >= 1.0 / k - 1e-9 && h <= 1.0, s"HHI $h outside [1/k, 1]")
    }
    // the synthetic mix is roughly balanced → HHI near 1/k
    val (kl, hl) = got("lang")
    assert(hl < 2.0 / kl, s"lang HHI $hl suspiciously concentrated")
  }

  test("Poisson IRLS recovers planted log-link coefficients") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    def poisson(lambda: Double): Int = {
      val l = math.exp(-lambda); var k = 0; var p = 1.0
      while ({ p *= rnd.nextDouble(); p > l }) k += 1
      k
    }
    val rows = (0 until 4000).map { _ =>
      val x = rnd.nextDouble()                    // x in [0,1)
      (poisson(math.exp(1.0 + 2.0 * x)).toDouble, x)
    }
    val f = graft.linear.GLM.poissonIrls(rows.toDF("y", "x"), col("y"), col("x"))
    assert(math.abs(f.b0 - 1.0) < 0.1, s"b0 ${f.b0}")
    assert(math.abs(f.b1 - 2.0) < 0.15, s"b1 ${f.b1}")
    assert(f.deviance > 0)
  }

  test("logistic IRLS recovers planted coefficients and agrees with MLlib") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val rows = (0 until 4000).map { _ =>
      val x1 = rnd.nextGaussian(); val x2 = rnd.nextGaussian()
      val p = 1.0 / (1.0 + math.exp(-(0.5 + 1.5 * x1 - 2.0 * x2)))
      (if (rnd.nextDouble() < p) 1.0 else 0.0, x1, x2)
    }
    val df = rows.toDF("y", "x1", "x2")
    val f = graft.linear.GLM.logisticIrls(df, col("y"), col("x1"), col("x2"))
    assert(math.abs(f.b0 - 0.5) < 0.15, s"b0 ${f.b0}")
    assert(math.abs(f.b1 - 1.5) < 0.15, s"b1 ${f.b1}")
    assert(math.abs(f.b2 + 2.0) < 0.15, s"b2 ${f.b2}")
    // MLlib (unregularized L-BFGS) lands on the same optimum
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val input = new VectorAssembler().setInputCols(Array("x1", "x2"))
      .setOutputCol("_fv").transform(df)
    val m = new LogisticRegression().setFeaturesCol("_fv").setLabelCol("y")
      .setMaxIter(100).setRegParam(0.0).setTol(1e-10).fit(input)
    assert(math.abs(m.interceptVector(0) - f.b0) < 0.01)
    assert(math.abs(m.coefficientMatrix(0, 0) - f.b1) < 0.01)
    assert(math.abs(m.coefficientMatrix(0, 1) - f.b2) < 0.01)
  }

  test("QN logistic regression agrees with logistic IRLS on the planted frame") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val df = (0 until 4000).map { _ =>
      val x1 = rnd.nextGaussian(); val x2 = rnd.nextGaussian()
      val p = 1.0 / (1.0 + math.exp(-(0.5 + 1.5 * x1 - 2.0 * x2)))
      (if (rnd.nextDouble() < p) 1.0 else 0.0, x1, x2)
    }.toDF("y", "x1", "x2")
    val f = graft.linear.GLM.logisticIrls(df, col("y"), col("x1"), col("x2"))
    val qn = graft.linear.GradientSolver.fitQN(df, Seq("x1", "x2"), "y").coefs
    assert(math.abs(qn(0) - f.b0) < 0.01, s"b0 ${qn(0)} vs ${f.b0}")
    assert(math.abs(qn(1) - f.b1) < 0.01, s"b1 ${qn(1)} vs ${f.b1}")
    assert(math.abs(qn(2) - f.b2) < 0.01, s"b2 ${qn(2)} vs ${f.b2}")
  }

  test("kaplan_meier matches a driver-side product-limit replay") {
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id").cast("long"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val durs = ev.groupBy(_._1).values
      .map(g => g.map(_._2).max - g.map(_._2).min + 1).toSeq
    val total = durs.size.toDouble
    var surv = 1.0; var prior = 0.0
    val exp = durs.groupBy(identity).toSeq.sortBy(_._1).map { case (dv, g) =>
      val dd = g.size.toDouble
      val risk = total - prior
      prior += dd
      surv *= (1.0 - dd / risk)
      (dv, risk.toLong, dd.toLong, BigDecimal(surv).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("kaplan_meier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
  }

  test("OLAP trio invariants: grouped top-k ordering, rollup consistency, growth identity") {
    val topk = SparkEntry.queries("topk_per_group")(spark, sf).collect()
    topk.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val revs = sorted.map(_.getDouble(3))
      assert(revs.zip(revs.tail).forall { case (a, b) => a >= b }, revs.mkString(","))
    }
    val roll = SparkEntry.queries("sales_rollup")(spark, sf).collect()
    val grand = roll.filter(r => r.isNullAt(0) && r.isNullAt(1)).head
    val leaves = roll.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(grand.getLong(2) == leaves.map(_.getLong(2)).sum)
    assert(math.abs(grand.getDouble(3) - leaves.map(_.getDouble(3)).sum) < 1.0)
    val growth = SparkEntry.queries("weekly_growth")(spark, sf)
      .orderBy("week").collect()
    assert(growth.head.isNullAt(2), "first week must have null growth")
    growth.sliding(2).foreach { case Array(a, b) =>
      if (!b.isNullAt(2) && b.getLong(0) == a.getLong(0) + 1) {
        val expected = (b.getDouble(1) - a.getDouble(1)) / a.getDouble(1)
        assert(math.abs(b.getDouble(2) - expected) < 1e-3, s"week ${b.getLong(0)}")
      }
    }
  }

  test("context_windows matches a driver-side skip-gram pair count") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ")
        .split(" ").filter(_.nonEmpty))
    val counts = scala.collection.mutable.Map.empty[(String, String), Int]
    docs.foreach { toks =>
      toks.indices.foreach { i =>
        Seq(-2, -1, 1, 2).foreach { off =>
          val j = i + off
          if (j >= 0 && j < toks.length)
            counts((toks(i), toks(j))) = counts.getOrElse((toks(i), toks(j)), 0) + 1
        }
      }
    }
    val exp = counts.toSeq.sortBy { case ((c, x), n) => (-n, c, x) }.take(20)
      .map { case ((c, x), n) => (c, x, n.toLong) }
    val got = SparkEntry.queries("context_windows")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == exp, s"got ${got.take(5)}\nexp ${exp.take(5)}")
  }

  test("negative sampling draws roughly proportional to count^0.75") {
    val sampled = SparkEntry.queries("negative_sampling")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the most-drawn token must be among the highest-count^0.75 vocab mass
    val toks = graft.core.Tables.documents(spark, sf)
      .select(explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalDraws = sampled.values.sum.toDouble
    val w = toks.view.mapValues(c => math.pow(c.toDouble, 0.75)).toMap
    val top100 = toks.toSeq.sortBy { case (t, c) => (-c, t) }.take(100).map(_._1)
    val totW = top100.map(w).sum
    sampled.foreach { case (t, n) =>
      val expShare = w(t) / totW
      val gotShare = n / totalDraws
      // loose multiplicative band; the top-15 cut over-represents positive
      // fluctuations, so the upper bound gets extra headroom
      assert(gotShare > expShare * 0.4 && gotShare < expShare * 3.0,
        s"$t share $gotShare vs expected $expShare")
    }
  }

  test("diff_in_diff and cuped match driver-side replays") {
    def md5Long(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16)
    }
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("value"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // DiD replay
    def cellMean(b: Boolean, post: Boolean) = {
      val xs = ev.filter { case (u, _, day) =>
        (md5Long(s"${u}_did_7") % 1000 < 500) == b && (day >= 19737L) == post }
      xs.map(_._2).sum / xs.length
    }
    val did = (cellMean(b = true, post = true) - cellMean(b = true, post = false)) -
      (cellMean(b = false, post = true) - cellMean(b = false, post = false))
    val gotD = SparkEntry.queries("diff_in_diff")(spark, sf).head()
    assert(math.abs(gotD.getDouble(gotD.fieldIndex("did")) - did) < 1e-3,
      s"did ${gotD.getDouble(gotD.fieldIndex("did"))} vs $did")
    // CUPED replay
    val per = ev.groupBy(_._1).values.map { g =>
      (g.filter(_._3 < 19737L).map(_._2).sum, g.filter(_._3 >= 19737L).map(_._2).sum)
    }.toSeq
    val n = per.size.toDouble
    val (mx, my) = (per.map(_._1).sum / n, per.map(_._2).sum / n)
    val cxy = per.map { case (x, y) => (x - mx) * (y - my) }.sum / (n - 1)
    val vx = per.map { case (x, _) => (x - mx) * (x - mx) }.sum / (n - 1)
    val theta = cxy / vx
    val adj = per.map { case (x, y) => y - theta * (x - mx) }
    val ma = adj.sum / n
    val vadj = adj.map(a => (a - ma) * (a - ma)).sum / (n - 1)
    val gotC = SparkEntry.queries("cuped")(spark, sf).head()
    assert(gotC.getLong(0) == n.toLong)
    assert(math.abs(gotC.getDouble(gotC.fieldIndex("theta")) - theta) < 1e-4)
    assert(math.abs(gotC.getDouble(gotC.fieldIndex("var_adj")) - vadj) < math.abs(vadj) * 1e-4 + 1e-3)
    // CUPED can never increase variance (theta is the OLS-optimal coefficient)
    assert(gotC.getDouble(gotC.fieldIndex("var_adj")) <=
      gotC.getDouble(gotC.fieldIndex("var_y")) + 1e-9)
  }

  test("gini midrank formula: equal revenues → 0, extreme concentration → (n−1)/n") {
    import spark.implicits._
    // replicate the query's midrank computation on planted frames
    def giniOf(ys: Seq[Double]): Double = {
      val per = ys.zipWithIndex.map { case (y, i) => (i.toLong, y) }.toDF("k", "_y")
      val g = per.groupBy(col("_y")).agg(count(lit(1)).cast("double").as("_c"))
      import org.apache.spark.sql.expressions.Window
      val wr = Window.orderBy(col("_y")).rowsBetween(Window.unboundedPreceding, -1)
      val ranks = g.select(col("_y"),
        (coalesce(sum(col("_c")).over(wr), lit(0.0)) + (col("_c") + 1.0) / 2.0).as("_r"))
      per.join(ranks, "_y")
        .agg(count(lit(1)).cast("double").as("_n"), sum(col("_y")).as("_sy"),
          sum(col("_r") * col("_y")).as("_sry"))
        .select(lit(2.0) * col("_sry") / (col("_n") * col("_sy")) -
          (col("_n") + 1.0) / col("_n")).head().getDouble(0)
    }
    assert(math.abs(giniOf(Seq.fill(50)(10.0))) < 1e-9)
    val extreme = giniOf(Seq.fill(49)(1e-9) :+ 1000.0)
    assert(math.abs(extreme - 49.0 / 50.0) < 1e-3, s"extreme $extreme")
    val got = SparkEntry.queries("gini")(spark, sf).head().getDouble(1)
    assert(got >= 0.0 && got < 1.0)
  }

  test("lorenz curve is convex-increasing to 1 and dominated by the diagonal") {
    val rows = SparkEntry.queries("lorenz_curve")(spark, sf).orderBy("decile").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val shares = rows.map(_.getDouble(2))
    // deciles sorted ascending by revenue → shares non-decreasing
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-9 })
    val cum = rows.map(_.getDouble(3))
    assert(math.abs(cum.last - 1.0) < 1e-9)
    // Lorenz curve lies on or below the equality diagonal
    cum.zipWithIndex.foreach { case (c, i) =>
      assert(c <= (i + 1) / 10.0 + 0.02, s"decile ${i + 1}: $c")
    }
  }

  test("active_users: first week is all-new, invariants hold") {
    val rows = SparkEntry.queries("active_users")(spark, sf).orderBy("week").collect()
    assert(rows.nonEmpty)
    val first = rows.head
    assert(first.getLong(1) == first.getLong(2), "first week must be all new users")
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), "new + returning = wau")
      val st = r.getDouble(4)
      assert(st > 0.0 && st <= 1.0 + 1e-9, s"stickiness $st")
    }
    // total new across weeks = total distinct users
    val nUsers = graft.core.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == nUsers)
  }

  test("markov transition rows are probability distributions; attribution shares sum to 1") {
    val mk = SparkEntry.queries("markov_transitions")(spark, sf).collect()
    mk.groupBy(_.getString(0)).foreach { case (f, rows) =>
      val tot = rows.map(_.getDouble(3)).sum
      assert(math.abs(tot - 1.0) < 5e-3, s"$f row sums to $tot")
    }
    val at = SparkEntry.queries("attribution")(spark, sf).collect()
    assert(math.abs(at.map(_.getDouble(2)).sum - 1.0) < 5e-3)
    assert(at.map(_.getLong(1)).sum > 0)
  }

  test("word_entropy matches driver-side per-doc Shannon entropy") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perLang = docs.map { case (_, lang, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val tot = toks.length.toDouble
      val h = -toks.groupBy(identity).values
        .map(g => g.length / tot * math.log(g.length / tot)).sum
      (lang, h)
    }.groupBy(_._1)
    val got = SparkEntry.queries("word_entropy")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    perLang.foreach { case (lang, hs) =>
      val (n, avgH, maxH) = got(lang)
      assert(n == hs.length.toLong)
      assert(math.abs(avgH - hs.map(_._2).sum / hs.length) < 1e-3, s"$lang avg")
      assert(math.abs(maxH - hs.map(_._2).max) < 1e-3, s"$lang max")
    }
  }
}
