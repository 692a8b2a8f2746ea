package graft.tsa

import graft.SparkTestSession
import graft.tsa.SeriesFixtures.{bits, events}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SeriesPassSpec {
  /** The ML likelihood lattice, kept off the spec instance so the
    * reference closures do not capture it. */
  val deltas = Seq(-0.1, -0.05, 0.0, 0.05, 0.1)
}

/** The per-series recursions that run on [[TimeSeries]]'s one `bySeries`
  * pass equal the `groupByKey` bodies they replaced (kept here as the
  * references) to the last bit, and every one of them rejects a null
  * observation the same way. */
class SeriesPassSpec extends AnyFunSuite {
  import SeriesPassSpec.deltas
  lazy val spark = SparkTestSession.spark

  /** The former `holtTrend`: its own copy of the Holt loop. */
  private def holtTrendRef(series: DataFrame, alpha: Double, beta: Double): DataFrame = {
    import series.sparkSession.implicits._
    val rows = series.select(col("series").cast("string"), col("t").cast("long"),
      col("x").cast("double")).as[(String, Long, Double)]
    rows.groupByKey(_._1).flatMapGroups { (key, it) =>
      val xs = it.toSeq.sortBy(_._2).map(_._3)
      if (xs.length < 2) Iterator.empty
      else {
        var l = xs(0)
        var b = xs(1) - xs(0)
        var i = 1
        while (i < xs.length) {
          val lPrev = l
          l = alpha * xs(i) + (1.0 - alpha) * (l + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
          i += 1
        }
        Iterator((key, xs.length.toLong - 1, l, b, l + b))
      }
    }.toDF("series", "t_last", "_l", "_b", "_f")
      .select(col("series"), col("t_last"),
        round(col("_l"), 4).as("level"),
        round(col("_b"), 4).as("trend"),
        round(col("_f"), 4).as("forecast1"))
  }

  /** The former `holtWintersForecast`: its own copy of the Holt-Winters
    * state updates, without the SSE. */
  private def holtWintersForecastRef(series: DataFrame, alpha: Double, beta: Double,
                                     gamma: Double, m: Int, h: Int,
                                     multiplicative: Boolean): DataFrame = {
    import series.sparkSession.implicits._
    val rows = series.select(col("series").cast("string"), col("t").cast("long"),
      col("x").cast("double")).as[(String, Long, Double)]
    rows.groupByKey(_._1).flatMapGroups { (key, it) =>
      val xs = it.toSeq.sortBy(_._2).map(_._3)
      if (xs.length < 2 * m) Iterator.empty
      else {
        var l = xs.take(m).sum / m.toDouble
        var b = (xs.slice(m, 2 * m).sum / m.toDouble - l) / m.toDouble
        val seas = scala.collection.mutable.Queue(
          xs.take(m).map(x => if (multiplicative) x / l else x - l): _*)
        var t = m
        while (t < xs.length) {
          val sOld = seas.dequeue()
          val lPrev = l
          if (multiplicative) {
            l = alpha * (xs(t) / sOld) + (1.0 - alpha) * (l + b)
            b = beta * (l - lPrev) + (1.0 - beta) * b
            seas.enqueue(gamma * (xs(t) / l) + (1.0 - gamma) * sOld)
          } else {
            l = alpha * (xs(t) - sOld) + (1.0 - alpha) * (l + b)
            b = beta * (l - lPrev) + (1.0 - beta) * b
            seas.enqueue(gamma * (xs(t) - l) + (1.0 - gamma) * sOld)
          }
          t += 1
        }
        val seasArr = seas.toIndexedSeq
        (1 to h).iterator.map { k =>
          val s = seasArr((k - 1) % m)
          val f = if (multiplicative) (l + k * b) * s else l + k * b + s
          (key, k.toLong, f)
        }
      }
    }.toDF("series", "step", "_f")
      .select(col("series"), col("step"), round(col("_f"), 4).as("forecast"))
  }

  /** The former `kalmanMat`: the scalar-observation filter with its own
    * gain divide. */
  private def kalmanMatRef(series: DataFrame, f: Seq[Seq[Double]], hRow: Seq[Double],
                           qDiag: Seq[Double], r: Double): DataFrame = {
    val dim = f.size
    import series.sparkSession.implicits._
    val rows = series.select(col("series").cast("string"), col("t").cast("long"),
      col("x").cast("double")).as[(String, Long, Double)]
    val fArr = f.map(_.toArray).toArray
    val hArr = hRow.toArray
    val qArr = qDiag.toArray
    rows.groupByKey(_._1).flatMapGroups { (key, it) =>
      val sorted = it.toSeq.sortBy(_._2)
      var x = Array.tabulate(dim)(i => if (i == 0) sorted.head._3 else 0.0)
      var p = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      var si = 0.0
      sorted.tail.foreach { case (_, _, z) =>
        val xp = Array.tabulate(dim)(i =>
          (0 until dim).map(j => fArr(i)(j) * x(j)).sum)
        val fp = Array.tabulate(dim, dim)((i, j) =>
          (0 until dim).map(k => fArr(i)(k) * p(k)(j)).sum)
        val pp = Array.tabulate(dim, dim)((i, j) =>
          (0 until dim).map(k => fp(i)(k) * fArr(j)(k)).sum +
            (if (i == j) qArr(i) else 0.0))
        val hp = Array.tabulate(dim)(j =>
          (0 until dim).map(k => hArr(k) * pp(k)(j)).sum)
        val s = (0 until dim).map(k => hp(k) * hArr(k)).sum + r
        val kGain = Array.tabulate(dim)(i =>
          (0 until dim).map(k => pp(i)(k) * hArr(k)).sum / s)
        val iv = z - (0 until dim).map(k => hArr(k) * xp(k)).sum
        x = Array.tabulate(dim)(i => xp(i) + kGain(i) * iv)
        p = Array.tabulate(dim, dim)((i, j) => pp(i)(j) - kGain(i) * hp(j))
        si += iv * iv
      }
      Iterator((key, sorted.last._2, x(0), x.toSeq, p(0)(0), si))
    }.toDF("series", "t_last", "_l", "_st", "_p", "_si")
      .select(col("series"), col("t_last"),
        round(col("_l"), 4).as("level"),
        transform(col("_st"), v => round(v, 4)).as("state"),
        round(col("_p"), 6).as("p00"),
        round(col("_si"), 4).as("sum_innov2"))
  }

  /** The former ARIMA-ML chain: [[TimeSeries.arimaHRStage]]'s rows joined
    * with its stationary coefficients, regrouped by a key closure, and `f`
    * on each series' (dx in t order, φ₀, θ₀). */
  private def mlChain[U: org.apache.spark.sql.Encoder](series: DataFrame)(
      f: (String, Seq[Double], Double, Double) => Iterator[U]) = {
    val (rows, cf) = TimeSeries.arimaHRStage(series)
    val pars = cf.filter(abs(col("c1")) < 1.0)
      .select(col("series"), col("c1").as("phi0"), col("c2").as("theta0"))
    import series.sparkSession.implicits._
    rows.select(col("series").cast("string"), col("t").cast("long"),
        col("dx").cast("double"))
      .join(pars, Seq("series"))
      .select(col("series"), col("t"), col("dx"), col("phi0"), col("theta0"))
      .as[(String, Long, Double, Double, Double)]
      .groupByKey(_._1).flatMapGroups { (key, it) =>
        val rs = it.toSeq.sortBy(_._2)
        if (rs.isEmpty) Iterator.empty else f(key, rs.map(_._3), rs.head._4, rs.head._5)
      }
  }

  private def arimaLoglikeRef(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    mlChain(series) { (key, xs, phi, theta) =>
      val (s2, ll, _) = TimeSeries.armaLoglikeScalar(xs, phi, theta)
      Iterator((key, phi, theta, s2, ll, -2.0 * ll + 6.0))
    }.toDF("series", "_phi", "_theta", "_s2", "_ll", "_aic")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"),
        round(col("_aic"), 4).as("aic_ml"))
  }

  private def arimaFitMLRef(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    mlChain(series) { (key, xs, phi0, theta0) =>
      TimeSeries.mlGridWinner(xs, phi0, theta0, deltas)
        .map { case (phi, theta, s2, ll, _) => (key, phi, theta, s2, ll) }.iterator
    }.toDF("series", "_phi", "_theta", "_s2", "_ll")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"))
  }

  private def arimaFitBFGSRef(series: DataFrame, maxIter: Int): DataFrame = {
    import series.sparkSession.implicits._
    mlChain(series) { (key, xs, phi0, theta0) =>
      if (xs.length < 5) Iterator.empty
      else TimeSeries.mlGridWinner(xs, phi0, theta0, deltas).map {
        case (phiL, thetaL, _, llLat, _) =>
          val (phi, theta, s2, ll) = TimeSeries.bfgsArma(xs, phiL, thetaL, maxIter)
          (key, phi, theta, s2, ll, phiL, thetaL, llLat,
            math.rint(ll * 10000) >= math.rint(llLat * 10000))
      }.iterator
    }.toDF("series", "_phi", "_theta", "_s2", "_ll", "_phiL", "_thetaL", "_llL", "_ge")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"),
        round(col("_phiL"), 4).as("phi_lat"), round(col("_thetaL"), 4).as("theta_lat"),
        round(col("_llL"), 4).as("ll_lattice"), col("_ge").as("opt_ge_lattice"))
  }

  private def arimaMLWinnersRef(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    mlChain(series) { (key, xs, phi0, theta0) =>
      val mu = xs.sum / xs.length.toDouble
      TimeSeries.mlGridWinner(xs, phi0, theta0, deltas)
        .map { case (phi, _, _, _, pred) => (key, phi, pred, mu) }.iterator
    }.toDF("series", "phi", "pred", "mu")
  }

  /** The former `arimaPredictInsample`: a join of arimaHRStage's frames. */
  private def arimaPredictInsampleRef(series: DataFrame): DataFrame = {
    val (rows, cf) = TimeSeries.arimaHRStage(series)
    rows.filter(col("l1").isNotNull && col("e1").isNotNull)
      .join(cf, Seq("series"))
      .select(col("series"), col("t"),
        round(col("c0") + col("c1") * col("l1") + col("c2") * col("e1"), 4).as("pred"))
  }

  /** Short, constant and 2m-boundary series (m = 7) beside two plain
    * ones, over 2 partitions: lengths 1, 2, 3, 5 and 6 straddle the Holt,
    * Hannan–Rissanen and L-BFGS minimums, 13/14/15 the Holt-Winters 2m. */
  private def edges: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def walk(name: String, n: Int) = {
      var x = 20.0
      (0 until n).map { t => x += 0.5 + rnd.nextGaussian(); (name, t.toLong, x) }
    }
    val rows = Seq(1, 2, 3, 5, 6, 13, 14, 15, 40).flatMap(n => walk(s"n$n", n)) ++
      (0 until 30).map(t => ("const", t.toLong, 5.0)) ++
      (0 until 60).map(t => ("wave", t.toLong, 30.0 + 5 * math.sin(t * 0.9) + 0.2 * t))
    rows.toDF("series", "t", "x").repartition(2)
  }

  private def frames: Seq[(String, DataFrame)] =
    Seq("daily" -> TimeSeries.dailySeries(events(17L)), "edges" -> edges)

  private def assertSameBits(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val (a, b) = (bits(got), bits(want))
    assert(a.nonEmpty, s"$what: no rows")
    val same = a == b
    assert(same, s"$what differs: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
  }

  test("holtTrend, holtWintersForecast and kalmanMat equal their former loops bit for bit") {
    val ca = Seq(Seq(1.0, 1.0, 0.5), Seq(0.0, 1.0, 1.0), Seq(0.0, 0.0, 1.0))
    val cv = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0))
    frames.foreach { case (name, df) =>
      assertSameBits(s"$name holtTrend", TimeSeries.holtTrend(df, 0.3, 0.1),
        holtTrendRef(df, 0.3, 0.1))
      Seq(false, true).foreach { mul =>
        assertSameBits(s"$name holtWintersForecast mul=$mul",
          TimeSeries.holtWintersForecast(df, 0.3, 0.1, 0.2, 7, 10, mul),
          holtWintersForecastRef(df, 0.3, 0.1, 0.2, 7, 10, mul))
      }
      assertSameBits(s"$name kalmanMat 3-state",
        TimeSeries.kalmanMat(df, ca, Seq(1.0, 0.0, 0.0), Seq(0.02, 0.01, 0.005), 2.0),
        kalmanMatRef(df, ca, Seq(1.0, 0.0, 0.0), Seq(0.02, 0.01, 0.005), 2.0))
      assertSameBits(s"$name kalmanMat 2-state",
        TimeSeries.kalmanMat(df, cv, Seq(1.0, 0.5), Seq(0.05, 0.01), 0.7),
        kalmanMatRef(df, cv, Seq(1.0, 0.5), Seq(0.05, 0.01), 0.7))
    }
  }

  test("the ARIMA-ML surfaces equal the former coefficient-join chain bit for bit") {
    frames.foreach { case (name, df) =>
      assertSameBits(s"$name arimaLoglike", TimeSeries.arimaLoglike(df), arimaLoglikeRef(df))
      assertSameBits(s"$name arimaFitML", TimeSeries.arimaFitML(df), arimaFitMLRef(df))
      assertSameBits(s"$name arimaFitBFGS", TimeSeries.arimaFitBFGS(df, maxIter = 15),
        arimaFitBFGSRef(df, 15))
      assertSameBits(s"$name arimaMLWinners", TimeSeries.arimaMLWinners(df, deltas),
        arimaMLWinnersRef(df))
      assertSameBits(s"$name arimaPredictInsample", TimeSeries.arimaPredictInsample(df),
        arimaPredictInsampleRef(df))
    }
    // the edge frame's HR fits: under 3 differences and the singular
    // constant series give no row; n5 has too few differences for L-BFGS
    val fitted = TimeSeries.arimaLoglike(edges).collect().map(_.getString(0)).toSet
    assert(!fitted.exists(Set("n1", "n2", "n3", "const")), fitted)
    val bfgs = TimeSeries.arimaFitBFGS(edges, maxIter = 15).collect().map(_.getString(0)).toSet
    assert(!bfgs("n5") && bfgs.subsetOf(fitted), bfgs)
  }

  test("every per-series recursion fails a null observation with the series named") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = Seq("gap", "plain").flatMap(s => (0 until 30).map { t =>
      (s, t.toLong, if (s == "gap" && t == 10) None else Some(20.0 + t + rnd.nextGaussian()))
    })
    val df = rows.toDF("series", "t", "x").repartition(2)
    val (as, bs, gs) = (Seq(0.2, 0.6), Seq(0.1), Seq(0.1, 0.5))
    val ca = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0))
    val table: Seq[(String, DataFrame => DataFrame)] = Seq(
      "sesSmoothed" -> (TimeSeries.sesSmoothed(_, 0.3)),
      "holtTrend" -> (TimeSeries.holtTrend(_, 0.3, 0.1)),
      "holtDamped" -> (TimeSeries.holtDamped(_, 0.3, 0.1, 0.9, 3)),
      "holtWintersSeasonal" -> (TimeSeries.holtWintersSeasonal(_, 0.3, 0.1, 0.2, 7)),
      "holtWintersForecast" -> (TimeSeries.holtWintersForecast(_, 0.3, 0.1, 0.2, 7, 3)),
      "hwFit" -> (TimeSeries.hwFit(_, 7, as, bs, gs)),
      "hwFitOpt" -> (TimeSeries.hwFitOpt(_, 7, as, bs, gs, maxIter = 5)),
      "hwFitForecast" -> (TimeSeries.hwFitForecast(_, 7, as, bs, gs, 3)),
      "hwFitState" -> (TimeSeries.hwFitState(_, 7, as, bs, gs)),
      "hwFitStateRaw" -> (TimeSeries.hwFitStateRaw(_, 7, as, bs, gs)),
      "kalman1D" -> (TimeSeries.kalman1D(_, 0.1, 2.0)),
      "kalmanCV" -> (TimeSeries.kalmanCV(_, 0.05, 0.01, 2.0)),
      "kalmanMat" -> (TimeSeries.kalmanMat(_, ca, Seq(1.0, 0.0), Seq(0.05, 0.01), 2.0)),
      "arimaLoglike" -> TimeSeries.arimaLoglike,
      "arimaFitML" -> (TimeSeries.arimaFitML(_)),
      "arimaFitBFGS" -> (TimeSeries.arimaFitBFGS(_, maxIter = 5)),
      "arimaForecastML" -> (TimeSeries.arimaForecastML(_, 3)),
      "arimaMLStateLong" -> (TimeSeries.arimaMLStateLong(_)))
    def failure(f: => DataFrame): Option[Throwable] =
      scala.util.Try(f.collect()).failed.toOption.flatMap { e =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .find(_.isInstanceOf[IllegalArgumentException])
      }
    val wrong = table.collect {
      case (name, f) if !failure(f(df)).exists(_.getMessage == "null x in series gap") => name
    }
    assert(wrong.isEmpty,
      s"no IllegalArgumentException naming the series from: ${wrong.mkString(", ")}")
    val z = df.withColumn("z", when(col("x").isNotNull, array(col("x"), col("x"))))
    val vec = failure(TimeSeries.kalmanMatVec(z, ca, Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)),
      Seq(0.05, 0.01), Seq(2.0, 4.0)))
    assert(vec.exists(_.getMessage == "null z in series gap"), vec)
  }
}
