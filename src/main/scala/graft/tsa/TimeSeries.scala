package graft.tsa

import graft.core.Num.{r4, r6}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Time-series surface (reference python/cuml/tsa/: stationarity.pyx,
  * holtwinters.pyx, arima.pyx; python/cuml/filter/kalman_filter.pyx).
  *
  * Batched-series layout, like the reference: many independent series keyed
  * by a series column. Everything partitions by series key, so 10⁶ series ×
  * long histories parallelize trivially, and no code loops over the
  * series one at a time. Every per-series recursion and fit (the
  * exponential-smoothing and Holt-Winters family, the Kalman filters and
  * the ARIMA Hannan–Rissanen and likelihood fits) runs in-partition, one
  * call per series, through [[bySeries]]: it groups by the `series` column
  * itself, so a frame already clustered by series (as [[dailySeries]]
  * output is) is sorted within its partitions but not shuffled again. The
  * AR-only fits are ONE grouped aggregate + a per-row closed-form solve
  * ([[cramer3]]).
  */
object TimeSeries {
  /** Daily aggregation of the events table into (series, t, x) — t is a
    * dense per-series index, x the daily sum. */
  def dailySeries(events: DataFrame, seriesCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
    events.groupBy(col(seriesCol).as("series"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("x"))
      .withColumn("t", row_number().over(w).cast("long") - 1)
  }

  /** The x column of a (series, t, x) frame, as [[bySeries]] reads it. */
  private val X: TypedColumn[Any, Double] = col("x").cast("double").as[Double](Encoders.scalaDouble)

  /** One call of `f` per series, in-partition, on the series' (t, v)
    * observations in t order, v the `value` column (None where it is
    * null). Groups by the `series` column itself rather than by a key
    * closure, so a frame already clustered by series is sorted within its
    * partitions but not shuffled again. */
  private def bySeries[V: TypeTag, U: Encoder](series: DataFrame, value: TypedColumn[Any, V])(
      f: (String, IndexedSeq[(Long, Option[V])]) => Iterator[U]): Dataset[U] = {
    import series.sparkSession.implicits._
    series.select(col("series").cast("string").as("series"), col("t").cast("long").as("t"),
        value.as("v"))
      .groupBy(col("series")).as[String, (String, Long, Option[V])]
      .flatMapGroups((key, it) => f(key, it.map(r => (r._2, r._3)).toIndexedSeq.sortBy(_._1)))
  }

  /** A series' values in t order. A null one fails the call: no recursion
    * here defines a step on a missing observation. */
  private def defined[V](key: String, obs: IndexedSeq[(Long, Option[V])],
                         column: String = "x"): IndexedSeq[V] =
    obs.map(_._2.getOrElse(throw new IllegalArgumentException(s"null $column in series $key")))

  /** Simple exponential smoothing — the HoltWinters level channel
    * (reference tsa/holtwinters.pyx, additive level only):
    *   s_0 = x_0;  s_t = α·x_t + (1−α)·s_{t−1}
    * Per-series in-partition recursion (the closed-form window variant
    * multiplies by (1−α)^{−t}, which overflows doubles past t ≈ 10³ —
    * exactly the long-history regime the batched layout targets). Emits
    * every (series, t, x, smoothed) row; parallel across series. */
  def sesSmoothed(series: DataFrame, alpha: Double): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      val xs = defined(key, obs)
      var s = xs(0)
      obs.indices.iterator.map { i =>
        if (i > 0) s = alpha * xs(i) + (1.0 - alpha) * s
        (key, obs(i)._1, xs(i), s)
      }
    }.toDF("series", "t", "x", "smoothed")
  }

  /** Holt's linear-trend smoothing (the level+trend channels of
    * reference tsa/holtwinters.pyx additive model):
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1});  b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    * init l_0 = x_0, b_0 = x_1 − x_0: [[holtRun]] at φ = 1, run in-partition
    * per series ([[bySeries]]) — parallel across series, like the
    * reference's batched layout. Returns final level/trend and the 1-step
    * forecast per series. */
  def holtTrend(series: DataFrame, alpha: Double, beta: Double): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      val xs = defined(key, obs)
      if (xs.length < 2) Iterator.empty
      else {
        val (l, b) = holtRun(xs, alpha, beta, 1.0)
        Iterator((key, xs.length.toLong - 1, l, b, l + b))
      }
    }.toDF("series", "t_last", "_l", "_b", "_f")
      .select(col("series"), col("t_last"),
        round(col("_l"), 4).as("level"),
        round(col("_b"), 4).as("trend"),
        round(col("_f"), 4).as("forecast1"))
  }

  /** Damped-trend Holt (Gardner & McKenzie 1985 — the damped variant of
    * the reference's trend channel, tsa/holtwinters.pyx):
    *   l_t = α·x_t + (1−α)(l_{t−1} + φ·b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}
    *   ŷ_{T+k} = l + (φ + φ² + … + φᵏ)·b
    * Same per-series in-partition recursion ([[holtRun]]) and scale posture
    * as [[holtTrend]]; one row per (series, step). */
  def holtDamped(series: DataFrame, alpha: Double, beta: Double, phi: Double,
                 h: Int): DataFrame = {
    import series.sparkSession.implicits._
    val fitted = bySeries(series, X) { (key, obs) =>
      val xs = defined(key, obs)
      if (xs.length < 2) Iterator.empty
      else {
        val (l, b) = holtRun(xs, alpha, beta, phi)
        Iterator((key, l, b))
      }
    }.toDF("series", "_l", "_b")
    // the damped k-step sum φ+φ²+…+φᵏ in closed form — the same
    // expression the oracle evaluates, so the doubles match bit-for-bit
    fitted.select(col("series") +: (1 to h).map { k =>
        val damp = lit(phi) * (lit(1.0) - pow(lit(phi), k)) / (lit(1.0) - lit(phi))
        round(col("_l") + damp * col("_b"), 4).as(s"_f$k")
      } :+ round(col("_l"), 4).as("level") :+ round(col("_b"), 4).as("trend"): _*)
      .select(col("series"), col("level"), col("trend"),
        explode(array((1 to h).map(k =>
          struct(lit(k.toLong).as("step"), col(s"_f$k").as("forecast"))): _*)).as("u"))
      .select(col("series"), col("u.step").as("step"), col("level"), col("trend"),
        col("u.forecast").as("forecast"))
  }

  /** Damped-trend Holt's final (level, trend) on xs (length ≥ 2). At φ = 1
    * it is Holt's linear trend exactly, since multiplying by 1.0 is exact. */
  private def holtRun(xs: IndexedSeq[Double], alpha: Double, beta: Double,
                      phi: Double): (Double, Double) = {
    var l = xs(0)
    var b = xs(1) - xs(0)
    var i = 1
    while (i < xs.length) {
      val lPrev = l
      l = alpha * xs(i) + (1.0 - alpha) * (l + phi * b)
      b = beta * (l - lPrev) + (1.0 - beta) * phi * b
      i += 1
    }
    (l, b)
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; the
    * Hyndman & Billah 2003 decomposition: average of the linear-trend
    * line and SES on the theta=2 line). Per-series:
    *   (a, b) = OLS of x on t (ONE grouped aggregate, coefficients
    *   ROUNDED 6 dp before they enter the theta line so the recursion
    *   input is engine-identical);  θ2_t = 2·x_t − (a + b·t);
    *   ŷ_{T+k} = ½(a + b·(T+k)) + ½·SES_α(θ2)_T.
    * The SES recursion runs inside the one per-series pass
    * ([[sesSmoothed]]); forecasts are closed-form off the final state. */
  def thetaForecast(series: DataFrame, alpha: Double, h: Int): DataFrame = {
    val g = series.groupBy("series").agg(
      count(lit(1)).cast("double").as("_n"), sum(col("t").cast("double")).as("_st"),
      sum(col("x")).as("_sx"), sum(col("t") * col("t")).cast("double").as("_stt"),
      sum(col("t") * col("x")).as("_stx"))
    val braw = (col("_n") * col("_stx") - col("_st") * col("_sx")) /
      (col("_n") * col("_stt") - col("_st") * col("_st"))
    val cf = g.select(col("series"), round(braw, 6).as("_b"),
      round((col("_sx") - round(braw, 6) * col("_st")) / col("_n"), 6).as("_a"))
    val theta2 = series.join(cf, "series")
      .select(col("series"), col("t"),
        (lit(2.0) * col("x") - (col("_a") + col("_b") * col("t"))).as("x"))
    val ses = sesSmoothed(theta2, alpha)
    val w = Window.partitionBy(col("series")).orderBy(col("t").desc)
    val last = ses.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("series"), col("t").as("_tl"), col("smoothed").as("_l"))
    last.join(cf, "series")
      .select(col("series") +: (1 to h).map(k =>
        round(lit(0.5) * (col("_a") + col("_b") * (col("_tl") + k)) +
          lit(0.5) * col("_l"), 4).as(s"_f$k")): _*)
      .select(col("series"), explode(array((1 to h).map(k =>
        struct(lit(k.toLong).as("step"), col(s"_f$k").as("forecast"))): _*)).as("u"))
      .select(col("series"), col("u.step").as("step"), col("u.forecast").as("forecast"))
  }

  /** Full additive Holt-Winters: level + trend + seasonal channel of period
    * m (reference tsa/holtwinters.pyx, cpp/src/holtwinters/ — the seasonal
    * fit is the headline of the reference implementation).
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * Init (classical): l = mean(x_0..x_{m−1}), b = (mean of second m − mean
    * of first m)/m, s_i = x_i − l. Series shorter than 2m are skipped.
    * Per-series in-partition recursion ([[hwRun]]), parallel across series;
    * the 1-step forecast adds the matching seasonal term. */
  def holtWintersSeasonal(series: DataFrame, alpha: Double, beta: Double,
                          gamma: Double, period: Int,
                          multiplicative: Boolean = false): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.map { xs =>
        val (_, l, b, seas) = hwRun(xs, period, alpha, beta, gamma, multiplicative)
        val f = if (multiplicative) (l + b) * seas.head else l + b + seas.head
        (key, xs.length.toLong - 1, l, b, f)
      }
    }.toDF("series", "t_last", "_l", "_b", "_f")
      .select(col("series"), col("t_last"),
        round(col("_l"), 4).as("level"),
        round(col("_b"), 4).as("trend"),
        round(col("_f"), 4).as("forecast1"))
  }

  /** h-step Holt-Winters forecasts — the reference's
    * ExponentialSmoothing.forecast(h) (tsa/holtwinters.pyx): run the same
    * per-series recursion as [[holtWintersSeasonal]], then emit
    * [[hwSteps]]. One row per (series, step). */
  def holtWintersForecast(series: DataFrame, alpha: Double, beta: Double,
                          gamma: Double, period: Int, h: Int,
                          multiplicative: Boolean = false): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.flatMap { xs =>
        val (_, l, b, seas) = hwRun(xs, period, alpha, beta, gamma, multiplicative)
        hwSteps(key, l, b, seas, h, multiplicative)
      }
    }.toDF("series", "step", "_f")
      .select(col("series"), col("step"), round(col("_f"), 4).as("forecast"))
  }

  /** A series' values in t order when it spans the two seasons the
    * Holt-Winters init reads (None when shorter than 2m). */
  private def seasons(key: String, obs: IndexedSeq[(Long, Option[Double])],
                      m: Int): Option[IndexedSeq[Double]] =
    Some(defined(key, obs)).filter(_.length >= 2 * m)

  /** The h forecasts from a final Holt-Winters state, for k = 1..h:
    *   ŷ_{T+k} = l + k·b + s_{(k−1) mod m}   (additive)
    *   ŷ_{T+k} = (l + k·b) · s_{(k−1) mod m} (multiplicative)
    * where s is the final seasonal window (oldest first — s_0 is the
    * season of time T+1). */
  private def hwSteps(key: String, l: Double, b: Double, seas: IndexedSeq[Double],
                      h: Int, multiplicative: Boolean): Iterator[(String, Long, Double)] =
    (1 to h).iterator.map { k =>
      val s = seas((k - 1) % seas.length)
      (key, k.toLong, if (multiplicative) (l + k * b) * s else l + k * b + s)
    }

  /** One Holt-Winters pass over a materialized series (length ≥ 2m):
    * returns the one-step-ahead SSE and the final (level, trend, seasonal
    * window). The prediction at t is l+b+s_{t−m} ((l+b)·s_{t−m} in the
    * multiplicative form) using the PRE-update state — the loss the
    * reference's optimizer minimizes (cpp/src/holtwinters/internal/
    * hw_eval.h accumulates the same one-step error inside the smoothing
    * recursion). Every Holt-Winters surface takes its state from here, and
    * their SQL oracles replay these updates bit-identically. */
  private def hwRun(xs: IndexedSeq[Double], m: Int, alpha: Double,
                    beta: Double, gamma: Double, multiplicative: Boolean)
      : (Double, Double, Double, IndexedSeq[Double]) = {
    var l = xs.take(m).sum / m.toDouble
    var b = (xs.slice(m, 2 * m).sum / m.toDouble - l) / m.toDouble
    val seas = scala.collection.mutable.Queue(
      xs.take(m).map(x => if (multiplicative) x / l else x - l): _*)
    var sse = 0.0
    var t = m
    while (t < xs.length) {
      val sOld = seas.dequeue()
      val pred = if (multiplicative) (l + b) * sOld else l + b + sOld
      sse = sse + (xs(t) - pred) * (xs(t) - pred)
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
    (sse, l, b, seas.toIndexedSeq)
  }

  /** The (α,β,γ) lattice argmin shared by hwFit/hwFitForecast/hwFitState:
    * iterate candidates ascending with strict <, so the tie-break is
    * lattice order — exactly the oracle's ORDER BY sse, alpha, beta,
    * gamma. Returns (sse, α, β, γ, level, trend, seasonal window). */
  private def hwGridWinner(xs: IndexedSeq[Double], m: Int, alphas: Seq[Double],
                           betas: Seq[Double], gammas: Seq[Double],
                           multiplicative: Boolean)
      : (Double, Double, Double, Double, Double, Double, IndexedSeq[Double]) = {
    var bestSse = Double.PositiveInfinity
    var bestA = 0.0; var bestB = 0.0; var bestG = 0.0
    var bestL = 0.0; var bestTr = 0.0
    var bestSeas: IndexedSeq[Double] = IndexedSeq.empty
    for (a <- alphas; bt <- betas; g <- gammas) {
      val (sse, l, b, seas) = hwRun(xs, m, a, bt, g, multiplicative)
      if (sse < bestSse) {
        bestSse = sse; bestA = a; bestB = bt; bestG = g
        bestL = l; bestTr = b; bestSeas = seas
      }
    }
    (bestSse, bestA, bestB, bestG, bestL, bestTr, bestSeas)
  }

  /** The (δφ, δθ) likelihood-grid argmax shared by arimaFitML and
    * arimaForecastML: ascending lattice with strict >, |φ| ≥ 0.99
    * candidates excluded. Returns None when no candidate is stationary. */
  private[tsa] def mlGridWinner(xs: Seq[Double], phi0: Double, theta0: Double,
                                deltas: Seq[Double])
      : Option[(Double, Double, Double, Double, Double)] = {
    var bestLl = Double.NegativeInfinity
    var bestPhi = 0.0; var bestTheta = 0.0; var bestS2 = 0.0; var bestPred = 0.0
    for (dp <- deltas; dt <- deltas) {
      val phi = phi0 + dp
      val theta = theta0 + dt
      if (math.abs(phi) < 0.99) {
        val (s2, ll, pred) = armaLoglikeScalar(xs, phi, theta)
        if (ll > bestLl) {
          bestLl = ll; bestPhi = phi; bestTheta = theta; bestS2 = s2; bestPred = pred
        }
      }
    }
    if (bestLl == Double.NegativeInfinity) None
    else Some((bestPhi, bestTheta, bestS2, bestLl, bestPred))
  }

  /** Holt-Winters smoothing-parameter FIT — the reference's
    * ExponentialSmoothing.fit() optimizes α/β/γ per series by a
    * golden-section/parabolic line search on the one-step SSE
    * (cpp/src/holtwinters/internal/hw_optim.h, wired via runner.h
    * optim_alpha/beta/gamma; holtwinters.pyx fit exposes the SSE). The
    * distributed re-expression is a deterministic grid search: every
    * (α,β,γ) candidate is one O(n) recursion over the series, all
    * candidates evaluated inside the same per-series in-partition pass —
    * 10⁶ series × |lattice| stays ONE shuffle, no driver loop, O(n+m)
    * memory per series. Argmin tie-break is lattice order (α,β,γ
    * ascending), mirroring the oracle's ORDER BY sse, alpha, beta, gamma.
    * Output: (series, alpha, beta, gamma, sse). */
  def hwFit(series: DataFrame, period: Int, alphas: Seq[Double],
            betas: Seq[Double], gammas: Seq[Double],
            multiplicative: Boolean = false): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.map { xs =>
        val (sse, a, b, g, _, _, _) =
          hwGridWinner(xs, period, alphas, betas, gammas, multiplicative)
        (key, a, b, g, sse)
      }
    }.toDF("series", "_a", "_b", "_g", "_sse")
      // α/β/γ are reported raw (exact lattice members) — display rounding
      // belongs to the query layer
      .select(col("series"),
        col("_a").as("alpha"), col("_b").as("beta"), col("_g").as("gamma"),
        round(col("_sse"), 4).as("sse"))
  }

  /** Continuous (α,β,γ) refinement of [[hwFit]] — the reference's ACTUAL
    * optimizer shape (hw_optim.h line-searches the smoothing parameters
    * rather than scanning a lattice): per-series breeze L-BFGS on the
    * one-step SSE, each parameter kept in (0,1) by a sigmoid
    * reparameterization, started at the lattice winner so it can only
    * improve (the fit never loses to its seed — spec-gated). Same single
    * per-series in-partition pass as the grid; solver iterates are
    * engine-internal, but the LATTICE winner and the ≤-invariant are
    * deterministic, so the output also carries the SQL-replayable
    * (alpha_lat, beta_lat, gamma_lat, sse_lattice) columns and
    * opt_leq_lattice = round(sse,4) ≤ round(sse_lattice,4) — the query
    * layer projects those for a partial hash gate while the continuous
    * optimum stays spec-gated (rounded comparison so log/exp round-trip
    * ulps in the sigmoid seed cannot flip the invariant).
    * Output: (series, alpha, beta, gamma, sse,
    *          alpha_lat, beta_lat, gamma_lat, sse_lattice, opt_leq_lattice). */
  def hwFitOpt(series: DataFrame, period: Int, alphas: Seq[Double],
               betas: Seq[Double], gammas: Seq[Double],
               multiplicative: Boolean = false, maxIter: Int = 50): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.map { xs =>
        val (sseLat, a0, b0, g0, _, _, _) =
          hwGridWinner(xs, period, alphas, betas, gammas, multiplicative)
        val (a, b, g, sse) = hwOpt(xs, period, a0, b0, g0, multiplicative, maxIter)
        (key, a, b, g, sse, a0, b0, g0, sseLat,
          math.rint(sse * 10000) <= math.rint(sseLat * 10000))
      }
    }.toDF("series", "_a", "_b", "_g", "_sse", "_a0", "_b0", "_g0", "_sseL", "_leq")
      .select(col("series"),
        round(col("_a"), 4).as("alpha"), round(col("_b"), 4).as("beta"),
        round(col("_g"), 4).as("gamma"), round(col("_sse"), 4).as("sse"),
        col("_a0").as("alpha_lat"), col("_b0").as("beta_lat"),
        col("_g0").as("gamma_lat"), round(col("_sseL"), 4).as("sse_lattice"),
        col("_leq").as("opt_leq_lattice"))
  }

  /** The per-series optimizer behind [[hwFitOpt]]: minimize the one-step
    * SSE over logit-transformed (α, β, γ). */
  private def hwOpt(xs: IndexedSeq[Double], m: Int, a0: Double, b0: Double,
                    g0: Double, multiplicative: Boolean, maxIter: Int)
      : (Double, Double, Double, Double) = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{DiffFunction, LBFGS}
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    def logit(p: Double) = {
      val c = math.min(math.max(p, 1e-4), 1.0 - 1e-4)
      math.log(c / (1.0 - c))
    }
    def sse(v: DenseVector[Double]): Double = {
      val s = hwRun(xs, m, sig(v(0)), sig(v(1)), sig(v(2)), multiplicative)._1
      if (s.isNaN || s.isInfinite) 1e18 else s
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val h = 1e-6
        val g = DenseVector.tabulate(3) { i =>
          val vp = v.copy; vp(i) += h
          val vm = v.copy; vm(i) -= h
          (sse(vp) - sse(vm)) / (2 * h)
        }
        (sse(v), g)
      }
    }
    val start = DenseVector(logit(a0), logit(b0), logit(g0))
    val opt = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 5, tolerance = 1e-9)
      .minimize(f, start)
    val best = if (sse(opt) <= sse(start)) opt else start
    (sig(best(0)), sig(best(1)), sig(best(2)), sse(best))
  }

  /** Fit-then-forecast: grid-fit (α,β,γ) per series as [[hwFit]], then emit
    * h additive forecasts ([[hwSteps]]) from the WINNING candidate's final
    * state. This is the reference's fit().forecast(h) composition
    * (holtwinters.pyx) with the fitted rather than user-supplied smoothing
    * parameters. */
  def hwFitForecast(series: DataFrame, period: Int, alphas: Seq[Double],
                    betas: Seq[Double], gammas: Seq[Double], h: Int): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.flatMap { xs =>
        val (_, _, _, _, l, b, seas) =
          hwGridWinner(xs, period, alphas, betas, gammas, multiplicative = false)
        hwSteps(key, l, b, seas, h, multiplicative = false)
      }
    }.toDF("series", "step", "_f")
      .select(col("series"), col("step"), round(col("_f"), 4).as("forecast"))
  }

  /** Fitted-state accessors — the reference's get_level()/get_trend()/
    * get_season() after fit (holtwinters.pyx:197-213 test surface): the
    * grid-fit winner's final level, trend, and m-element seasonal window
    * ([[hwFitStateRaw]] rounded to 4 dp), unpivoted to
    * (series, component, value) rows. */
  def hwFitState(series: DataFrame, period: Int, alphas: Seq[Double],
                 betas: Seq[Double], gammas: Seq[Double]): DataFrame =
    hwFitStateRaw(series, period, alphas, betas, gammas)
      .select(col("series"), col("key").as("component"), round(col("value"), 4).as("value"))

  /** The hw_fit grid winner's state at FULL precision, shaped for
    * persistence (ModelIO.saveSeriesModel: one (series, key, value) row
    * per parameter — level, trend, season_0..season_{m-1}). Unrounded on
    * purpose: a forecast computed through the persisted state must be
    * bit-identical to [[hwFitForecast]]'s (doubles survive parquet
    * exactly; rounding the state first would not survive the h-step
    * linear extrapolation at the 4-dp gate). */
  def hwFitStateRaw(series: DataFrame, period: Int, alphas: Seq[Double],
                    betas: Seq[Double], gammas: Seq[Double]): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      seasons(key, obs, period).iterator.flatMap { xs =>
        val (_, _, _, _, l, b, seas) =
          hwGridWinner(xs, period, alphas, betas, gammas, multiplicative = false)
        (("level", l) +: ("trend", b) +:
          seas.zipWithIndex.map { case (s, i) => (s"season_$i", s) })
          .iterator.map { case (c, v) => (key, c, v) }
      }
    }.toDF("series", "key", "value")
  }

  /** h-step additive Holt-Winters forecast from a PERSISTED state frame
    * (series, key, value) — the serve side of the fit/save/load/forecast
    * separation: no refit, no per-series driver state, pure column
    * expressions over one scan of the model table. The arithmetic
    * (l + k·b + season[(k−1) mod m], left-associated) matches
    * [[hwFitForecast]] exactly, so forecasts through a loaded state are
    * bit-identical to forecasts at fit time. */
  def hwForecastFromState(state: DataFrame, period: Int, h: Int): DataFrame = {
    val p = state.groupBy("series").agg(
      map_from_entries(collect_list(struct(col("key"), col("value")))).as("_p"))
    p.select(col("series"), explode(sequence(lit(1L), lit(h.toLong))).as("step"), col("_p"))
      .select(col("series"), col("step"),
        round(element_at(col("_p"), lit("level")) +
          col("step").cast("double") * element_at(col("_p"), lit("trend")) +
          element_at(col("_p"), concat(lit("season_"),
            ((col("step") - 1) % period).cast("string"))), 4).as("forecast"))
  }

  /** KPSS level-stationarity statistic + interpolated p-value per series —
    * the exact test the reference runs (Kwiatkowski et al. 1992;
    * cpp/src_prims/timeSeries/stationarity.h:96-185):
    *   e_t = v_t − mean(v);  S_t = Σ_{u≤t} e_u
    *   s²  = (1/n)Σe² + Σ_t Σ_{k=1..L} (2/n)(1 − k/(L+1))·e_t·e_{t+k}
    *   η   = Σ S_t²;   stat = (η/n²) / s²
    * with Schwert lags L = ⌈12·(n/100)^¼⌉ (stationarity.h:260) and the
    * p-value linearly interpolated over Table-1 critical values
    * {0.347,0.463,0.574,0.739} → {0.10,0.05,0.025,0.01}
    * (stationarity.h:160-185). All windows + one bounded self-join: the
    * lag-product fan-out is n×L rows per series (L ≈ 38 even at n = 10⁵),
    * shuffled on the series key only — 10⁶ series is one job.
    * Input: (series, t, v) with t dense per series. Output: (series, stat,
    * pval) — unrounded, for composition. */
  private[tsa] def kpssTest(vals: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(col("series"))
    val wOrd = Window.partitionBy(col("series")).orderBy(col("t"))
    val e = vals
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
      .withColumn("e", col("v") - avg(col("v")).over(wAll))
      .withColumn("s", sum(col("e")).over(wOrd))
      .withColumn("lf", ceil(lit(12.0) * pow(col("n") / lit(100.0), lit(0.25))).cast("double"))
    val base = e.groupBy(col("series")).agg(
      max(col("n")).as("n"), max(col("lf")).as("lf"),
      sum(col("e") * col("e")).as("s2a"),
      sum(col("s") * col("s")).as("eta"))
    // declared cap at 64 lags (n would need to exceed ~8*10^4 for Schwert
    // L > 64) — mirrored in the oracle, whose lateral generate_series
    // cannot take a column bound
    val a = e.select(col("series"), col("t"), col("e"), col("n"), col("lf"))
      .withColumn("k", explode(sequence(lit(1), least(col("lf").cast("int"), lit(64)))))
    val b = e.select(col("series").as("bseries"), col("t").as("bt"), col("e").as("be"))
    val s2b = a.join(b, col("bseries") === col("series") && col("bt") === col("t") + col("k"))
      .groupBy(col("series"))
      .agg(sum((lit(2.0) / col("n")) * (lit(1.0) - col("k").cast("double") / (col("lf") + lit(1.0))) *
        (col("e") * col("be"))).as("s2b"))
    base.join(s2b, Seq("series"), "left")
      .select(col("series"),
        ((col("eta") / (col("n") * col("n"))) /
          (col("s2a") / col("n") + coalesce(col("s2b"), lit(0.0)))).as("stat"))
      .withColumn("pval",
        when(col("stat") >= 0.739, lit(0.01))
          .when(col("stat") >= 0.574,
            lit(0.025) + (lit(0.01) - lit(0.025)) * (col("stat") - lit(0.574)) / (lit(0.739) - lit(0.574)))
          .when(col("stat") >= 0.463,
            lit(0.05) + (lit(0.025) - lit(0.05)) * (col("stat") - lit(0.463)) / (lit(0.574) - lit(0.463)))
          .when(col("stat") >= 0.347,
            lit(0.10) + (lit(0.05) - lit(0.10)) * (col("stat") - lit(0.347)) / (lit(0.463) - lit(0.347)))
          .otherwise(lit(0.10)))
  }

  /** KPSS-based d selection — the reference's `stationarity` entry point
    * (stationarity.h:346-405, stationarity.pyx): test each series at d=0;
    * failures are differenced once and re-tested; d = 0 if the level
    * series is stationary (pval > threshold), 1 if its first difference
    * is, −1 if neither. Emits the statistic and p-value of both passes. */
  def stationarityKpss(series: DataFrame, pvalThreshold: Double = 0.05): DataFrame = {
    val wOrd = Window.partitionBy(col("series")).orderBy(col("t"))
    val x = series.select(col("series"), col("t"), col("x").as("v"))
    val dx = series.withColumn("dv", col("x") - lag(col("x"), 1).over(wOrd))
      .filter(col("dv").isNotNull)
      .select(col("series"), col("t"), col("dv").as("v"))
    val t0 = kpssTest(x).select(col("series"),
      col("stat").as("kpss_x"), col("pval").as("pval_x"))
    val t1 = kpssTest(dx).select(col("series"),
      col("stat").as("kpss_dx"), col("pval").as("pval_dx"))
    t0.join(t1, Seq("series"))
      .select(col("series"),
        round(col("kpss_x"), 6).as("kpss_x"), round(col("pval_x"), 4).as("pval_x"),
        round(col("kpss_dx"), 6).as("kpss_dx"), round(col("pval_dx"), 4).as("pval_dx"),
        when(col("pval_x") > pvalThreshold, 0L)
          .when(col("pval_dx") > pvalThreshold, 1L).otherwise(-1L).as("d"))
  }

  /** Variance-ratio stationarity heuristic — difference the series if it
    * reduces variance. NOT the reference's test (that is KPSS — see
    * [[stationarityKpss]]); kept as a cheap two-aggregate screen. */
  def stationarity(series: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
    val d = series.withColumn("dx", col("x") - lag(col("x"), 1).over(w))
    d.groupBy(col("series")).agg(
      r4(var_samp(col("x"))).as("var_x"),
      r4(var_samp(col("dx"))).as("var_dx"),
      when(var_samp(col("dx")) < var_samp(col("x")), 1).otherwise(0).as("d"))
  }

  /** Sample autocorrelation function per series, lags 1..maxLag:
    *   ρ̂_k = Σ_{t>k} (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)²
    * (x̄ = full-series mean — the standard plug-in estimator).
    * The mean comes from an unordered window over the series partition and
    * the k lag columns from the ordered one, so the series key is the ONLY
    * shuffle and every pass reuses that partitioning; the final reduction
    * is one grouped aggregate emitting all maxLag numerators at once —
    * 10⁶ series is still one job. */
  def acf(series: DataFrame, maxLag: Int): DataFrame = {
    val wAll = Window.partitionBy(col("series"))
    val wOrd = Window.partitionBy(col("series")).orderBy(col("t"))
    val withMu = series
      .withColumn("_mu", avg(col("x")).over(wAll))
      .withColumn("_c", col("x") - col("_mu"))
    val withLags = (1 to maxLag).foldLeft(withMu) { (df, k) =>
      df.withColumn(s"_l$k", lag(col("_c"), k).over(wOrd))
    }
    val numAggs = (1 to maxLag).map(k =>
      sum(when(col(s"_l$k").isNotNull, col("_c") * col(s"_l$k")).otherwise(0.0)).as(s"_n$k"))
    val agged = withLags.groupBy(col("series"))
      .agg(sum(col("_c") * col("_c")).as("_ss"), numAggs: _*)
    agged.select(col("series"), explode(array((1 to maxLag).map(k =>
        struct(lit(k).cast("long").as("lag"), r6(col(s"_n$k") / col("_ss")).as("acf"))): _*)).as("_e"))
      .select(col("series"), col("_e.lag").as("lag"), col("_e.acf").as("acf"))
  }

  /** Partial autocorrelation per series at lags 1..3 via the closed-form
    * Durbin–Levinson unroll over the ACF values:
    *   φ11 = ρ1;  φ22 = (ρ2 − ρ1²)/(1 − ρ1²)
    *   φ33 = (ρ3 − φ21ρ2 − φ22ρ1)/(1 − φ21ρ1 − φ22ρ2), φ21 = ρ1(1 − φ22)
    * Everything after the one-aggregate ACF pass is per-row algebra on the
    * series-count-sized frame. (General lag-p PACF would run the same
    * recursion inside the per-series pass — the grid regime stops at the
    * identification lags the reference's order selection uses.) */
  def pacf(series: DataFrame): DataFrame = {
    val rho = acf(series, 3)
      .groupBy("series")
      .pivot("lag", Seq(1, 2, 3)).agg(first(col("acf")))
      .select(col("series"), col("1").as("r1"), col("2").as("r2"), col("3").as("r3"))
    val phi22 = (col("r2") - col("r1") * col("r1")) / (lit(1.0) - col("r1") * col("r1"))
    val phi21 = col("r1") * (lit(1.0) - phi22)
    val phi33 = (col("r3") - phi21 * col("r2") - phi22 * col("r1")) /
      (lit(1.0) - phi21 * col("r1") - phi22 * col("r2"))
    rho.select(col("series"), explode(array(
        struct(lit(1L).as("lag"), r6(col("r1")).as("pacf")),
        struct(lit(2L).as("lag"), r6(phi22).as("pacf")),
        struct(lit(3L).as("lag"), r6(phi33).as("pacf")))).as("_e"))
      .select(col("series"), col("_e.lag").as("lag"), col("_e.pacf").as("pacf"))
  }

  /** Cross-correlation function between two aligned series per pair key:
    *   ccf(k) = Σ (a_t − ā)(b_{t−k} − b̄) / (√Σ(a−ā)² · √Σ(b−b̄)²)
    * over the joined support, k ∈ [−maxLag, maxLag] (negative k shifts b
    * forward — `lead`). Input: (key, t, xa, xb) aligned rows. Same shuffle
    * discipline as [[acf]]: the pair key is the only shuffle, all lags in
    * ONE grouped aggregate. */
  def ccf(pairs: DataFrame, keyCol: String, maxLag: Int): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col("t"))
    val centered = pairs
      .withColumn("_ca", col("xa") - avg(col("xa")).over(wAll))
      .withColumn("_cb", col("xb") - avg(col("xb")).over(wAll))
    val lags = (-maxLag to maxLag).foldLeft(centered) { (df, k) =>
      val shifted = if (k >= 0) lag(col("_cb"), k).over(wOrd)
                    else lead(col("_cb"), -k).over(wOrd)
      df.withColumn(s"_b$k", shifted)
    }
    val numAggs = (-maxLag to maxLag).map(k =>
      sum(when(col(s"_b$k").isNotNull, col("_ca") * col(s"_b$k")).otherwise(0.0)).as(s"_n$k"))
    val agged = lags.groupBy(col(keyCol))
      .agg(sum(col("_ca") * col("_ca")).as("_ssa"), numAggs :+
        sum(col("_cb") * col("_cb")).as("_ssb"): _*)
    agged.select(col(keyCol), explode(array((-maxLag to maxLag).map(k =>
        struct(lit(k).cast("long").as("lag"),
          r6(col(s"_n$k") / sqrt(col("_ssa") * col("_ssb"))).as("ccf"))): _*)).as("_e"))
      .select(col(keyCol), col("_e.lag").as("lag"), col("_e.ccf").as("ccf"))
  }

  /** Ljung–Box portmanteau test on the first h autocorrelations:
    *   Q = n(n+2) Σ_{k≤h} ρ̂²_k / (n−k),  Q ~ χ²_h under white noise.
    * (The residual-diagnostic companion of the ARIMA surface.) Reuses the
    * one-aggregate ACF pass; everything else is per-row algebra on the
    * series-count frame. `reject` compares the ROUNDED statistic to the
    * caller's χ² critical value so the boolean replays identically in
    * SQL. */
  def ljungBox(series: DataFrame, h: Int, crit: Double): DataFrame = {
    val rho = acf(series, h)
    val ns = series.groupBy(col("series")).agg(count(lit(1)).cast("double").as("_n"))
    rho.join(ns, "series")
      .groupBy(col("series"))
      .agg(max(col("_n")).cast("long").as("n"),
        r4(max(col("_n")) * (max(col("_n")) + 2) *
          sum(col("acf") * col("acf") / (col("_n") - col("lag")))).as("q_stat"))
      .withColumn("reject", col("q_stat") > crit)
  }

  /** Classical additive seasonal decomposition (statsmodels
    * seasonal_decompose semantics, odd period): trend = centered
    * period-point moving average (defined only where the full window
    * exists), seasonal = phase-mean of the detrended series re-centered to
    * sum to zero, residual = detrended − seasonal. Per (series, phase)
    * summary row. The ordered window and both groupBys key on the series —
    * one shuffle family, no global sort. */
  /** Hyndman's seasonal/trend strength from the classical decomposition:
    * F_s = max(0, 1 − Var(resid)/Var(detrended)),
    * F_t = max(0, 1 − Var(resid)/Var(deseasonalized)) — one more grouped
    * aggregate over the same centered-MA construction as
    * [[seasonalDecompose]] (same single series-key shuffle). */
  def seasonalStrength(series: DataFrame, period: Int): DataFrame = {
    require(period % 2 == 1, "centered MA needs an odd period")
    val half = period / 2
    val wMa = Window.partitionBy(col("series")).orderBy(col("t"))
      .rowsBetween(-half, half)
    val det = series
      .withColumn("_nw", count(lit(1)).over(wMa))
      .withColumn("_trend", avg(col("x")).over(wMa))
      .filter(col("_nw") === period)
      .select(col("series"), (col("t") % period).as("phase"),
        col("x"), col("_trend"), (col("x") - col("_trend")).as("_det"))
    val phaseMeans = det.groupBy(col("series"), col("phase"))
      .agg(avg(col("_det")).as("_raw"))
    val centered = phaseMeans
      .withColumn("_gmean", avg(col("_raw")).over(Window.partitionBy(col("series"))))
      .select(col("series"), col("phase"), (col("_raw") - col("_gmean")).as("_seasonal"))
    det.join(centered, Seq("series", "phase"))
      .groupBy(col("series"))
      .agg(count(lit(1)).cast("long").as("n"),
        r4(greatest(lit(0.0), lit(1.0) -
          var_samp(col("_det") - col("_seasonal")) / var_samp(col("_det"))))
          .as("seasonal_strength"),
        r4(greatest(lit(0.0), lit(1.0) -
          var_samp(col("_det") - col("_seasonal")) /
            var_samp(col("x") - col("_seasonal")))).as("trend_strength"))
      .orderBy("series")
  }

  def seasonalDecompose(series: DataFrame, period: Int): DataFrame = {
    require(period % 2 == 1, "centered MA needs an odd period")
    val half = period / 2
    val wMa = Window.partitionBy(col("series")).orderBy(col("t"))
      .rowsBetween(-half, half)
    val det = series
      .withColumn("_nw", count(lit(1)).over(wMa))
      .withColumn("_trend", avg(col("x")).over(wMa))
      .filter(col("_nw") === period)
      .select(col("series"), (col("t") % period).as("phase"),
        (col("x") - col("_trend")).as("_det"))
    val phaseMeans = det.groupBy(col("series"), col("phase"))
      .agg(count(lit(1)).cast("long").as("n"), avg(col("_det")).as("_raw"))
    val centered = phaseMeans
      .withColumn("_gmean", avg(col("_raw")).over(Window.partitionBy(col("series"))))
      .select(col("series"), col("phase"), col("n"),
        (col("_raw") - col("_gmean")).as("_seasonal"), col("_gmean"))
    det.join(centered, Seq("series", "phase"))
      .groupBy(col("series"), col("phase"))
      .agg(max(col("n")).as("n"),
        r4(max(col("_seasonal"))).as("seasonal"),
        // per-phase mean residual ≡ the grand phase-mean (centering
        // identity) — kept as the invariant the oracle re-derives
        r4(avg(col("_det") - col("_seasonal"))).as("mean_resid"),
        r4(stddev_samp(col("_det") - col("_seasonal"))).as("sd_resid"))
      .orderBy("series", "phase")
  }

  /** Per-series 3-unknown (intercept + x1 + x2) least squares via grouped
    * moment sums + Cramer's rule — ONE aggregate job for all series, the
    * per-row solve is a closed-form expression. The expression tree mirrors
    * the SQL oracle operation-for-operation (left-assoc order), so both
    * engines produce bit-identical doubles.
    * Input columns: series, y/x1/x2 as given. Output: series, c0, c1, c2. */
  private[tsa] def cramer3(rows: DataFrame, y: Column, x1: Column, x2: Column): DataFrame = {
    val mm = rows.groupBy(col("series")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(x1).as("sx1"), sum(x2).as("sx2"),
      sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"), sum(x2 * x2).as("s22"),
      sum(y).as("sy"), sum(x1 * y).as("s1y"), sum(x2 * y).as("s2y"))
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("sx1") * (col("sx1") * col("s22") - col("s12") * col("sx2")) +
      col("sx2") * (col("sx1") * col("s12") - col("s11") * col("sx2"))
    val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("sx1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("sx2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
      col("sy") * (col("sx1") * col("s22") - col("s12") * col("sx2")) +
      col("sx2") * (col("sx1") * col("s2y") - col("s1y") * col("sx2"))
    val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
      col("sx1") * (col("sx1") * col("s2y") - col("s1y") * col("sx2")) +
      col("sy") * (col("sx1") * col("s12") - col("s11") * col("sx2"))
    // Degenerate series (constant input → exactly singular Gram) produce
    // det = 0 from exact cancellation identically in both engines, so the
    // guard stays oracle-parity-safe; near-singular dets divide normally.
    def safe(num: Column) =
      when(det === 0.0, lit(null).cast("double")).otherwise(num / det)
    mm.select(col("series"), safe(det0).as("c0"), safe(det1).as("c1"),
      safe(det2).as("c2"))
  }

  /** AR(2) by conditional least squares as ONE grouped aggregate over all
    * series (reference tsa/arima.pyx fits batched ARIMA; this is the AR
    * channel): lag features via window, per-series Gram sums, per-row
    * Cramer solve. No driver loop, no collect of keys — 10⁶ series is one
    * job. Output: (series, term ∈ {intercept, ar1, ar2}, coef). */
  def arFit2(series: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
    val lagged = series
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l2", lag(col("x"), 2).over(w))
      .filter(col("l1").isNotNull && col("l2").isNotNull)
    unpivotCoefs(cramer3(lagged, col("x"), col("l1"), col("l2")),
      Seq("intercept", "ar1", "ar2"))
  }

  /** General AR(p) grouped fit: per-series normal-equation sums in one
    * aggregate, per-row Gaussian-elimination solve (p+1 unknowns) in a
    * deterministic closure. Same single-job shape as arFit2 for any p. */
  def arFit(series: DataFrame, p: Int): DataFrame = {
    val terms2 = "intercept" +: (1 to p).map(i => s"ar$i")
    arFitWide(series, p)
      .select(col("series"), explode(array(terms2.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("term"), col("cf").getItem(i).as("coef"))
      }: _*)).as("s"))
      .select(col("series"), col("s.term").as("term"), col("s.coef").as("coef"))
  }

  /** [[arFit]] with the coefficient vector kept wide: (series, cf) where
    * cf = [intercept, ar1, …, arp]. Degenerate series (singular normal
    * equations — e.g. a constant series) yield cf = null rather than the
    * garbage a blind elimination would produce: the solver checks each
    * pivot after partial pivoting and bails on an exact zero. */
  def arFitWide(series: DataFrame, p: Int): DataFrame = {
    require(p >= 1, "p >= 1")
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
    var d = series
    (1 to p).foreach(i => d = d.withColumn(s"lag$i", lag(col("x"), i).over(w)))
    val lagged = d.filter((1 to p).map(i => col(s"lag$i").isNotNull).reduce(_ && _))
    val terms: Seq[Column] = lit(1.0) +: (1 to p).map(i => col(s"lag$i"))
    val k = terms.size
    val gAggs = for (i <- 0 until k; j <- i until k)
      yield sum(terms(i) * terms(j)).as(s"g_${i}_$j")
    val bAggs = (0 until k).map(i => sum(terms(i) * col("x")).as(s"b_$i"))
    val mm = lagged.groupBy(col("series")).agg((gAggs ++ bAggs).head, (gAggs ++ bAggs).tail: _*)
    val gArr = array((for (i <- 0 until k; j <- 0 until k) yield
      col(s"g_${math.min(i, j)}_${math.max(i, j)}")): _*)
    val bArr = array((0 until k).map(i => col(s"b_$i")): _*)
    val solve = udf { (g: Seq[Double], b: Seq[Double]) =>
      val a = Array.tabulate(k, k)((i, j) => g(i * k + j))
      val rhs = b.toArray
      var singular = false
      // Gaussian elimination with partial pivoting
      for (c <- 0 until k) {
        var piv = c
        for (r <- c + 1 until k) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
        val tmp = a(c); a(c) = a(piv); a(piv) = tmp
        val tb = rhs(c); rhs(c) = rhs(piv); rhs(piv) = tb
        if (a(c)(c) == 0.0) singular = true
        else for (r <- c + 1 until k) {
          val f = a(r)(c) / a(c)(c)
          for (cc <- c until k) a(r)(cc) -= f * a(c)(cc)
          rhs(r) -= f * rhs(c)
        }
      }
      if (singular) null
      else {
        val x = new Array[Double](k)
        for (c <- k - 1 to 0 by -1) {
          var s = rhs(c)
          for (cc <- c + 1 until k) s -= a(c)(cc) * x(cc)
          x(c) = s / a(c)(c)
        }
        x.toSeq
      }
    } // structural barrier below: k coefficient reads must not re-run the solve
    graft.core.Barrier.once(mm, Seq(col("series")), solve(gArr, bArr), "cf")
  }

  private def unpivotCoefs(c: DataFrame, terms: Seq[String]): DataFrame =
    c.select(col("series"), explode(array(terms.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("term"), col(s"c$i").as("coef"))
      }: _*)).as("s"))
      .select(col("series"), col("s.term").as("term"), col("s.coef").as("coef"))

  /** h-step AR(2) forecasts (reference tsa/arima.pyx predict/forecast):
    * fit per-series AR(2) in the one grouped-aggregate pass, join the
    * coefficients back onto each series' last two observations (one grouped
    * aggregate — no window over the history), then unroll the forecast
    * recursion ŷ_{T+k} = c0 + c1·ŷ_{T+k−1} + c2·ŷ_{T+k−2} as k nested
    * column expressions. Everything stays one job; h is small by nature.
    * Output: (series, step, forecast). */
  def arForecast(series: DataFrame, h: Int): DataFrame = {
    require(h >= 1, "h >= 1")
    val coefs = {
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
      val lagged = series
        .withColumn("l1", lag(col("x"), 1).over(w))
        .withColumn("l2", lag(col("x"), 2).over(w))
        .filter(col("l1").isNotNull && col("l2").isNotNull)
      cramer3(lagged, col("x"), col("l1"), col("l2"))
    }
    val lastTwo = series.groupBy(col("series")).agg(
        sort_array(collect_list(struct(col("t"), col("x"))), asc = false).as("_a"))
      .select(col("series"),
        col("_a").getItem(0).getField("x").as("xT"),
        col("_a").getItem(1).getField("x").as("xT1"))
    // series with fewer than 2 points have no xT1 (out-of-range getItem →
    // null) and no meaningful AR recursion — drop rather than emit nulls
    val j = coefs.join(lastTwo, Seq("series")).filter(col("xT1").isNotNull)
    var prev2: Column = col("xT1")
    var prev1: Column = col("xT")
    val fs = (1 to h).map { _ =>
      val f = col("c0") + col("c1") * prev1 + col("c2") * prev2
      prev2 = prev1
      prev1 = f
      f
    }
    j.select(col("series"), explode(array(fs.zipWithIndex.map { case (f, i) =>
        struct(lit(i + 1L).as("step"), round(f, 4).as("forecast"))
      }: _*)).as("s"))
      .select(col("series"), col("s.step").as("step"), col("s.forecast").as("forecast"))
  }

  /** h-step forecast for a general AR(p), optionally after d=1
    * differencing (reference tsa/arima.pyx forecast on an (p,d,0) order):
    * fit via [[arFit]] (one grouped aggregate + per-row Gaussian solve),
    * join the coefficient array onto each series' last p observations of
    * the (differenced) series, unroll the recursion as h nested column
    * expressions, and for d=1 integrate back with a running sum. Same
    * one-job shape as [[arForecast]] for any p. */
  def arForecastP(series: DataFrame, p: Int, h: Int, d: Int = 0): DataFrame =
    arForecastPImpl(series, None, p, h, d)

  /** [[arForecastP]] served through a PERSISTED coefficient frame
    * (ModelIO.saveSeriesModel long format: keys c0..cp) instead of an
    * in-query fit — the per-series fit/save/load/forecast separation.
    * The long frame pivots back to the exact cf array the recursion
    * reads, so forecasts through a loaded model are bit-identical to
    * forecasts at fit time. */
  def arForecastPServe(series: DataFrame, coefsLong: DataFrame,
                       p: Int, h: Int, d: Int = 0): DataFrame = {
    val m = coefsLong.groupBy("series").agg(
      map_from_entries(collect_list(struct(col("key"), col("value")))).as("_m"))
    val cf = m.select(col("series"),
      array((0 to p).map(i => element_at(col("_m"), lit(s"c$i"))): _*).as("cf"))
    arForecastPImpl(series, Some(cf), p, h, d)
  }

  /** The wide (series, cf) frame of [[arFitWide]] reshaped for
    * ModelIO.saveSeriesModel: one (series, key=c_i, value) row per
    * coefficient. */
  def arCoefsLong(series: DataFrame, p: Int, d: Int = 0): DataFrame = {
    val cf = arFitWide(differenced(series, d), p)
    cf.select(col("series"), posexplode(col("cf")).as(Seq("_i", "value")))
      .select(col("series"), concat(lit("c"), col("_i")).as("key"), col("value"))
  }

  private def differenced(series: DataFrame, d: Int): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
    if (d == 0) series.select(col("series"), col("t"), col("x"))
    else series.withColumn("dx", col("x") - lag(col("x"), 1).over(w))
      .filter(col("dx").isNotNull).select(col("series"), col("t"), col("dx").as("x"))
  }

  private def arForecastPImpl(series: DataFrame, coefsOpt: Option[DataFrame],
                              p: Int, h: Int, d: Int): DataFrame = {
    require(p >= 1 && h >= 1 && (d == 0 || d == 1), "p>=1, h>=1, d in {0,1}")
    val work = differenced(series, d)
    val cf = coefsOpt.getOrElse(arFitWide(work, p))
    val lastP = work.groupBy(col("series")).agg(
        sort_array(collect_list(struct(col("t"), col("x"))), asc = false).as("_a"))
      .select((col("series") +: (0 until p).map(i =>
        col("_a").getItem(i).getField("x").as(s"xl$i"))): _*)
      .filter(col(s"xl${p - 1}").isNotNull)
    val j0 = cf.join(lastP, Seq("series"))
    val j = if (d == 0) j0 else j0.join(
      series.withColumn("_rn", row_number().over(
          Window.partitionBy(col("series")).orderBy(col("t").desc)))
        .filter(col("_rn") === 1).select(col("series"), col("x").as("xT")),
      Seq("series"))
    // rolling window of the last p (forecast or observed) values
    var hist: Vector[Column] = (0 until p).map(i => col(s"xl$i")).toVector
    var cum: Column = col("xT")
    val fs = (1 to h).map { _ =>
      val f = (0 until p).foldLeft(col("cf").getItem(0)) { (acc, i) =>
        acc + col("cf").getItem(i + 1) * hist(i)
      }
      hist = (f +: hist).take(p)
      if (d == 1) { cum = cum + f; cum } else f
    }
    j.select(col("series"), explode(array(fs.zipWithIndex.map { case (f, i) =>
        struct(lit(i + 1L).as("step"), round(f, 4).as("forecast"))
      }: _*)).as("s"))
      .select(col("series"), col("s.step").as("step"), col("s.forecast").as("forecast"))
  }

  /** ARIMA(1,1,1) by differencing + Hannan–Rissanen (reference
    * tsa/arima.pyx fits batched (p,d,q) per series in one kernel; this is
    * the distributed re-expression): d=1 by differencing, a preliminary
    * AR(2) on the differenced series supplies residuals, then dx_t is
    * regressed on (dx_{t−1}, e_{t−1}) — intercept + AR(1) + MA(1). The
    * whole fit is one per-series in-partition pass ([[arimaHRStage]]);
    * its sums and solves match the SQL oracle's window/aggregate chain
    * bit for bit. */
  def arimaHR(series: DataFrame): DataFrame = {
    val (_, cf) = arimaHRStage(series)
    unpivotCoefs(cf, Seq("intercept", "ar1", "ma1"))
  }

  /** The Hannan–Rissanen pipeline behind [[arimaHR]], staged: returns
    * (rows, coefs) where rows carries per-observation (series, t, dx, l1,
    * l2, e, e1) — differenced value, its two lags, the preliminary-AR(2)
    * residual and its lag — and coefs the wide (series, c0, c1, c2) fit of
    * dx_t ~ intercept + dx_{t−1} + ê_{t−1}. The other ARIMA surfaces (the
    * in-sample predictions and SSE, the order grid, the forecast state and
    * the likelihood fits) run [[hannanRissanen]] inside their own
    * per-series pass instead, so they need no join back onto the rows.
    *
    * Each frame is ONE in-partition pass per series ([[bySeries]]: grouped
    * by the series column in place, so a frame clustered by series, such
    * as [[dailySeries]] output, is not shuffled again). The pass computes
    * the differences, the lags, the AR(2) solve, the residuals and the
    * second solve in Scala ([[hannanRissanen]]), with the sums taken in t
    * order and every determinant in [[cramer3]]'s operand order, so the
    * doubles equal those of the SQL oracle's window + grouped-aggregate
    * chain exactly (ArimaStageSpec keeps that chain as the reference): the
    * lags are positional over the defined differences, a series with fewer
    * than 3 differences is dropped, and a singular AR(2) (det = 0, e.g. a
    * constant series) leaves e null and no coefficient row. */
  private[tsa] def arimaHRStage(series: DataFrame): (DataFrame, DataFrame) = {
    import series.sparkSession.implicits._
    val rows = bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).iterator.flatMap(_._1.iterator.map {
        case (t, dx, l1, l2, e, e1) => (key, t, dx, l1, l2, e, e1)
      })
    }.toDF("series", "t", "dx", "l1", "l2", "e", "e1")
    val cf = bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).flatMap(_._2).iterator.map { case (c0, c1, c2) => (key, c0, c1, c2) }
    }.toDF("series", "c0", "c1", "c2")
    (rows, cf)
  }

  /** One series' Hannan–Rissanen fit from its (t, x) observations in t
    * order: the rows (t, dx, l1, l2, e, e1) and, when the second
    * regression has rows, its (c0, c1, c2) — all None where its Gram
    * matrix is singular. None when there are fewer than 3 differences. */
  private def hannanRissanen(obs: IndexedSeq[(Long, Option[Double])]): Option[(
      IndexedSeq[(Long, Double, Option[Double], Option[Double], Option[Double], Option[Double])],
      Option[(Option[Double], Option[Double], Option[Double])])] = {
    // d = 1: difference each observation from the one before it, then drop
    // the undefined differences; the lags below count defined differences
    val d = (1 until obs.length).flatMap { i =>
      for (a <- obs(i)._2; b <- obs(i - 1)._2) yield (obs(i)._1, a - b)
    }
    val dx = d.map(_._2)
    val n = dx.length
    if (n < 3) None
    else {
      def lag(i: Int, k: Int): Option[Double] = if (i >= k) Some(dx(i - k)) else None
      // step 1: preliminary AR(2) → residuals
      val ar = new Gram3
      for (i <- 2 until n) ar.add(dx(i), dx(i - 1), dx(i - 2))
      val c = ar.solve
      val e = IndexedSeq.tabulate(n) { i =>
        if (i < 2) None else c.map(c => dx(i) - (c(0) + c(1) * dx(i - 1) + c(2) * dx(i - 2)))
      }
      // step 2: dx_t ~ intercept + dx_{t−1} + e_{t−1}
      val ma = new Gram3
      for (i <- 3 until n; e1 <- e(i - 1)) ma.add(dx(i), dx(i - 1), e1)
      val rows = IndexedSeq.tabulate(n) { i =>
        (d(i)._1, dx(i), lag(i, 1), lag(i, 2), e(i), if (i >= 1) e(i - 1) else None)
      }
      val coefs = if (ma.n == 0) None else Some(ma.solve match {
        case Some(c) => (Some(c(0)), Some(c(1)), Some(c(2)))
        case None => (None, None, None)
      })
      Some((rows, coefs))
    }
  }

  /** The moment sums of one series' y ~ 1 + x1 + x2, added in row order,
    * and their Cramer solve: the scalar twin of [[cramer3]] — the same
    * sums and the same operand order in every determinant, so the two give
    * identical doubles. */
  private final class Gram3 {
    var n, sx1, sx2, s11, s12, s22, sy, s1y, s2y = 0.0

    def add(y: Double, x1: Double, x2: Double): Unit = {
      n += 1.0
      sx1 += x1; sx2 += x2
      s11 += x1 * x1; s12 += x1 * x2; s22 += x2 * x2
      sy += y; s1y += x1 * y; s2y += x2 * y
    }

    /** (c0, c1, c2); None where det = 0, as [[cramer3]]'s null guard. */
    def solve: Option[Array[Double]] = {
      val det = n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) +
        sx2 * (sx1 * s12 - s11 * sx2)
      if (det == 0.0) None
      else Some(Array(
        (sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y) +
          sx2 * (s1y * s12 - s11 * s2y)) / det,
        (n * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2) +
          sx2 * (sx1 * s2y - s1y * sx2)) / det,
        (n * (s11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2) +
          sy * (sx1 * s12 - s11 * sx2)) / det))
    }
  }

  /** ARIMA(1,1,1) in-sample surface — the reference's predict_in_sample /
    * aic / bic (tsa/arima.pyx:221-244): per-row one-step in-sample
    * prediction from the fitted CLS coefficients, residual SSE, and the
    * conditional-Gaussian log-likelihood
    *   ll = −(n/2)·(ln(2π·SSE/n) + 1)
    * (the CLS approximation of the reference's Kalman batched_loglike),
    * then AIC = −2ll + 2k, BIC = −2ll + k·ln(n) with model complexity
    * k = p+d+q = 3 (arima.pyx:822-826). n and the SSE come from the HR
    * fit's own per-series pass (residuals summed in t order, as the SQL
    * oracle's grouped sum); order selection over 10⁶ series is one job. */
  def arimaInsample(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).flatMap { case (rows, coefs) =>
        coefs.map { case (c0, c1, c2) =>
          val used = rows.collect { case (_, dx, Some(l1), _, _, Some(e1)) => (dx, l1, e1) }
          val sse = for (a <- c0; b <- c1; c <- c2) yield used.foldLeft(0.0) {
            case (acc, (dx, l1, e1)) => val r = dx - (a + b * l1 + c * e1); acc + r * r
          }
          (key, used.length.toDouble, sse)
        }
      }.iterator
    }.toDF("series", "n", "sse")
      .withColumn("loglik",
        (lit(0.0) - col("n") / lit(2.0)) *
          (log(lit(2.0) * lit(math.Pi) * col("sse") / col("n")) + lit(1.0)))
      .select(col("series"), col("n").cast("long").as("n"),
        round(col("sse"), 4).as("sse"),
        round(col("loglik"), 4).as("loglik"),
        round(lit(-2.0) * col("loglik") + lit(6.0), 4).as("aic"),
        round(lit(-2.0) * col("loglik") + lit(3.0) * log(col("n")), 4).as("bic"))
  }

  /** The scalar innovations recursion behind [[arimaLoglike]] — the
    * ARMA(1,1) Kalman filter with exact observation collapses to:
    *   F_1 = (1 + 2φθ + θ²)/(1 − φ²);  ν_t = z_t − pred_t
    *   pred_{t+1} = φ·z_t + θ·ν_t/F_t;  F_{t+1} = 1 + θ²(1 − 1/F_t)
    * (filtered state (z_t, θν_t/F_t), filtered variance θ²(1−1/F_t) —
    * derivable from the Harvey state space [[z_t, θe_t]] in two lines).
    * Returns (σ̂², loglik) with σ² concentrated out of the Gaussian
    * likelihood: ll = −n/2(ln 2π + 1 + ln(Σν²/F / n)) − ½Σln F. */
  private[graft] def armaLoglikeScalar(xs: Seq[Double], phi: Double,
                                     theta: Double): (Double, Double, Double) = {
    val n = xs.length.toDouble
    val mu = xs.sum / n
    var pred = 0.0
    var f = (1.0 + 2.0 * phi * theta + theta * theta) / (1.0 - phi * phi)
    var slogf = 0.0
    var sv2f = 0.0
    xs.foreach { x =>
      val z = x - mu
      val v = z - pred
      slogf = slogf + math.log(f)
      sv2f = sv2f + v * v / f
      pred = phi * z + theta * v / f
      f = 1.0 + theta * theta * (1.0 - 1.0 / f)
    }
    val ll = (0.0 - n / 2.0) *
      (math.log(2.0 * math.Pi) + 1.0 + math.log(sv2f / n)) - 0.5 * slogf
    // pred is now the one-step-ahead prediction of z_{T+1} — the forecast seed
    (sv2f / n, ll, pred)
  }

  /** EXACT Gaussian log-likelihood of the ARIMA(1,1,1) model at the
    * HR-estimated (φ, θ) — the reference's batched_loglike
    * (arima.pyx:405 evaluates the likelihood with a Kalman filter; this
    * is that filter, collapsed to its scalar innovations form for the
    * ARMA(1,1) state space — see [[armaLoglikeScalar]]). Unlike
    * [[arimaInsample]]'s conditional-sum-of-squares approximation this
    * is the full prediction-error decomposition including the
    * stationary-init F_1 term. μ is the sample mean of the differences;
    * non-stationary fits (|φ| ≥ 1) are dropped. The HR fit and the
    * recursion share one per-series in-partition pass ([[mlStart]]) — 10⁶
    * series is one job.
    * Output: (series, phi, theta, sigma2, loglik, aic_ml). */
  def arimaLoglike(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      mlStart(key, obs).iterator.map { case (dx, phi, theta) =>
        val (s2, ll, _) = armaLoglikeScalar(dx, phi, theta)
        (key, phi, theta, s2, ll, -2.0 * ll + 6.0)
      }
    }.toDF("series", "_phi", "_theta", "_s2", "_ll", "_aic")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"),
        round(col("_aic"), 4).as("aic_ml"))
  }

  /** The likelihood fits' start on one series, from its own
    * Hannan–Rissanen fit ([[hannanRissanen]]): the differences dx in t
    * order and (φ₀, θ₀) = (c1, c2), where c1 is defined and |c1| < 1
    * (None otherwise: a singular or non-stationary HR fit is dropped). */
  private def mlStart(key: String, obs: IndexedSeq[(Long, Option[Double])])
      : Option[(IndexedSeq[Double], Double, Double)] = {
    defined(key, obs) // a null x fails the call, as in every recursion here
    hannanRissanen(obs).flatMap { case (rows, coefs) =>
      coefs.collect { case (_, Some(c1), Some(c2)) if math.abs(c1) < 1.0 =>
        (rows.map(_._2), c1, c2)
      }
    }
  }

  /** ARIMA(1,1,1) fitted by MAXIMUM LIKELIHOOD — the reference's fit
    * shape (arima.pyx: start params via a preliminary estimator, then ML
    * optimization of the Kalman loglik; here the optimizer is a
    * deterministic local grid, like [[hwFit]]'s lattice): for each series
    * evaluate the EXACT loglik ([[armaLoglikeScalar]]) at
    * (φ_CLS + δφ, θ_CLS + δθ) over the deltas lattice, keep the argmax
    * (tie-break lattice order = ascending (φ, θ), matching the oracle's
    * ORDER BY loglik DESC, phi, theta). |φ| ≥ 0.99 candidates are
    * excluded (stationarity). All candidates evaluate inside ONE
    * per-series in-partition pass. Output: (series, phi, theta, sigma2,
    * loglik). */
  def arimaFitML(series: DataFrame,
                 deltas: Seq[Double] = Seq(-0.1, -0.05, 0.0, 0.05, 0.1)): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      mlStart(key, obs)
        .flatMap { case (dx, phi0, theta0) => mlGridWinner(dx, phi0, theta0, deltas) }
        .map { case (phi, theta, s2, ll, _) => (key, phi, theta, s2, ll) }.iterator
    }.toDF("series", "_phi", "_theta", "_s2", "_ll")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"))
  }

  /** ARIMA(1,1,1) fitted by CONTINUOUS maximum likelihood — the
    * reference's batched L-BFGS solver surface
    * (python/cuml/tsa/batched_lbfgs.py drives the arima.pyx fit): a
    * "batch" is many INDEPENDENT small optimizations, one per series, so
    * the Spark re-expression distributes them across the one per-series
    * in-partition pass — breeze L-BFGS (central-difference gradient on 2
    * unconstrained params) maximizing the exact Kalman loglik
    * [[armaLoglikeScalar]], with (φ, θ) kept stationary/invertible
    * through a 0.99·tanh reparameterization and started at
    * [[arimaFitML]]'s lattice winner (itself seeded at the HR CLS
    * estimate — the reference's start-params choice), so the continuous
    * fit can only refine the lattice. Deterministic: fixed start,
    * deterministic line search. Solver iterates are engine-internal, but
    * the lattice winner and the ≥-invariant are deterministic, so the
    * output also carries the SQL-replayable (phi_lat, theta_lat,
    * ll_lattice) columns and opt_ge_lattice =
    * round(loglik,4) ≥ round(ll_lattice,4) — the query projects those
    * for a partial hash gate; the continuous optimum stays spec-gated.
    * Output: (series, phi, theta, sigma2, loglik,
    *          phi_lat, theta_lat, ll_lattice, opt_ge_lattice). */
  def arimaFitBFGS(series: DataFrame, maxIter: Int = 60,
                   deltas: Seq[Double] = Seq(-0.1, -0.05, 0.0, 0.05, 0.1)): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      mlStart(key, obs).filter(_._1.length >= 5).flatMap { case (dx, phi0, theta0) =>
        mlGridWinner(dx, phi0, theta0, deltas).map { case (phiL, thetaL, _, llLat, _) =>
          val (phi, theta, s2, ll) = bfgsArma(dx, phiL, thetaL, maxIter)
          (key, phi, theta, s2, ll, phiL, thetaL, llLat,
            math.rint(ll * 10000) >= math.rint(llLat * 10000))
        }
      }.iterator
    }.toDF("series", "_phi", "_theta", "_s2", "_ll", "_phiL", "_thetaL", "_llL", "_ge")
      .select(col("series"),
        round(col("_phi"), 4).as("phi"), round(col("_theta"), 4).as("theta"),
        round(col("_s2"), 4).as("sigma2"), round(col("_ll"), 4).as("loglik"),
        round(col("_phiL"), 4).as("phi_lat"), round(col("_thetaL"), 4).as("theta_lat"),
        round(col("_llL"), 4).as("ll_lattice"), col("_ge").as("opt_ge_lattice"))
  }

  /** The per-series optimizer behind [[arimaFitBFGS]]: minimize −loglik
    * over (a, b) with φ = 0.99·tanh(a), θ = 0.99·tanh(b). */
  private[graft] def bfgsArma(xs: Seq[Double], phi0: Double, theta0: Double,
                              maxIter: Int): (Double, Double, Double, Double) = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{DiffFunction, LBFGS}
    val xa = xs.toArray
    def unpack(v: DenseVector[Double]) =
      (0.99 * math.tanh(v(0)), 0.99 * math.tanh(v(1)))
    def negLL(v: DenseVector[Double]): Double = {
      val (phi, theta) = unpack(v)
      val ll = armaLoglikeScalar(xa.toSeq, phi, theta)._2
      if (ll.isNaN || ll.isInfinite) 1e12 else -ll
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val h = 1e-6
        val g = DenseVector.tabulate(2) { i =>
          val vp = v.copy; vp(i) += h
          val vm = v.copy; vm(i) -= h
          (negLL(vp) - negLL(vm)) / (2 * h)
        }
        (negLL(v), g)
      }
    }
    def atanhClamped(x: Double) = {
      val c = math.max(math.min(x / 0.99, 0.999), -0.999)
      0.5 * math.log((1 + c) / (1 - c))
    }
    val start = DenseVector(atanhClamped(phi0), atanhClamped(theta0))
    val opt = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 5, tolerance = 1e-9)
      .minimize(f, start)
    // keep whichever of {optimum, start} scores better — L-BFGS on a flat
    // ridge can terminate a hair off; the fit must never lose to its seed
    val best = if (negLL(opt) <= negLL(start)) opt else start
    val (phi, theta) = unpack(best)
    val (s2, ll, _) = armaLoglikeScalar(xa.toSeq, phi, theta)
    (phi, theta, s2, ll)
  }

  /** h-step forecast from the ML-fitted model — the reference's
    * fit-then-forecast composition at the likelihood optimum: run the
    * [[arimaFitML]] grid, keep the winner's final one-step state
    * prediction ẑ_{T+1} from the Kalman recursion, then
    *   d̂x_{T+k} = μ + φ^{k−1}·ẑ_{T+1}   (future innovations zero)
    * integrated back from x_T by a running sum, unrolled as h column
    * expressions. The HR fit, winner selection and forecast seeding happen
    * inside the one per-series pass ([[arimaMLWinners]]); the only join
    * brings in the last observation x_T. */
  def arimaForecastML(series: DataFrame, h: Int,
                      deltas: Seq[Double] = Seq(-0.1, -0.05, 0.0, 0.05, 0.1)): DataFrame =
    arimaMLForecastFrom(arimaMLWinners(series, deltas), series, h)

  /** The ML-lattice winner STATE per series — everything the h-step
    * forecast recursion needs besides the data's last observation:
    * (series, phi, pred, mu), unrounded. */
  private[tsa] def arimaMLWinners(series: DataFrame, deltas: Seq[Double]): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      mlStart(key, obs).flatMap { case (dx, phi0, theta0) =>
        val mu = dx.sum / dx.length.toDouble
        mlGridWinner(dx, phi0, theta0, deltas)
          .map { case (phi, _, _, _, pred) => (key, phi, pred, mu) }
      }.iterator
    }.toDF("series", "phi", "pred", "mu")
  }

  /** [[arimaMLWinners]] shaped for ModelIO.saveSeriesModel: one
    * (series, key, value) row per state component (phi, pred, mu). */
  def arimaMLStateLong(series: DataFrame,
                       deltas: Seq[Double] = Seq(-0.1, -0.05, 0.0, 0.05, 0.1)): DataFrame =
    arimaMLWinners(series, deltas)
      .select(col("series"), explode(map_from_arrays(
        array(lit("phi"), lit("pred"), lit("mu")),
        array(col("phi"), col("pred"), col("mu")))).as(Seq("key", "value")))

  /** [[arimaForecastML]] served through a PERSISTED state frame
    * (ModelIO.saveSeriesModel long format, keys phi/pred/mu): the state
    * pivots back to the exact winners frame, the last observation comes
    * from the data at serve time, and the recursion arithmetic is
    * unchanged — forecasts through a loaded model are bit-identical. */
  def arimaMLForecastServe(series: DataFrame, stateLong: DataFrame, h: Int): DataFrame = {
    val winners = stateLong.groupBy("series")
      .agg(map_from_entries(collect_list(struct(col("key"), col("value")))).as("_m"))
      .select(col("series"),
        element_at(col("_m"), lit("phi")).as("phi"),
        element_at(col("_m"), lit("pred")).as("pred"),
        element_at(col("_m"), lit("mu")).as("mu"))
    arimaMLForecastFrom(winners, series, h)
  }

  private def arimaMLForecastFrom(winners: DataFrame, series: DataFrame,
                                  h: Int): DataFrame = {
    require(h >= 1, "h >= 1")
    val wDesc = Window.partitionBy(col("series")).orderBy(col("t").desc)
    val lastX = series.withColumn("_rn", row_number().over(wDesc))
      .filter(col("_rn") === 1).select(col("series"), col("x").as("xT"))
    val j = winners.join(lastX, Seq("series"))
    var dz: Column = col("pred")
    var cum: Column = col("xT")
    val fs = (1 to h).map { _ =>
      cum = cum + (col("mu") + dz)
      val out = cum
      dz = col("phi") * dz
      out
    }
    j.select(col("series"), explode(array(fs.zipWithIndex.map { case (f, i) =>
        struct(lit(i + 1L).as("step"), round(f, 4).as("forecast"))
      }: _*)).as("s"))
      .select(col("series"), col("s.step").as("step"), col("s.forecast").as("forecast"))
  }

  /** Per-row in-sample predictions — the reference's predict_in_sample
    * (arima.pyx:244) on the HR(1,1,1) fit: ŷ-row output (series, t, pred)
    * wherever the one-step prediction is defined, computed inside the HR
    * fit's own per-series pass as c0 + c1·l1 + c2·e1, left-associated as
    * the SQL oracle evaluates it. */
  def arimaPredictInsample(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).iterator.flatMap { case (rows, coefs) =>
        coefs.iterator.flatMap { case (c0, c1, c2) =>
          rows.iterator.collect { case (t, _, Some(l1), _, _, Some(e1)) =>
            (key, t, for (a <- c0; b <- c1; c <- c2) yield a + b * l1 + c * e1)
          }
        }
      }
    }.toDF("series", "t", "_p").select(col("series"), col("t"), round(col("_p"), 4).as("pred"))
  }

  /** ARIMA order selection — the reference's grid_search (arima.pyx:611,
    * method="bic"): fit a candidate grid per series, score each by BIC,
    * pick the argmin. Candidates (all d=1, CLS on the COMMON support —
    * the rows where every candidate's regressors are defined — so the
    * likelihoods are comparable): (0,1,0) mean model, (1,1,0), (2,1,0),
    * and (1,1,1) via the HR residual regressor. Every candidate is fitted
    * inside the HR fit's own per-series pass ([[gridCandidates]]); the
    * whole grid over 10⁶ series is one job, never a per-series loop.
    * BIC = −2·ll + k·ln(n) at CLS loglik and complexity k = d+p+q
    * (arima.pyx:822-826). Output: (series, ord, bic, chosen). */
  def arimaGridSearch(series: DataFrame): DataFrame = {
    import series.sparkSession.implicits._
    val all = bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).iterator.flatMap { case (rows, _) =>
        val common = rows.collect {
          case (_, dx, Some(l1), Some(l2), _, Some(e1)) => (dx, l1, l2, e1)
        }
        val n = common.length.toDouble
        if (common.isEmpty) Nil
        else gridCandidates(common).map { case (ord, k, sse) => (key, n, ord, k, sse) }
      }
    }.toDF("series", "n", "ord", "k", "sse")
    val ll = (lit(0.0) - col("n") / lit(2.0)) *
      (log(lit(2.0) * lit(math.Pi) * col("sse") / col("n")) + lit(1.0))
    val scored = all.withColumn("bic", lit(-2.0) * ll + col("k") * log(col("n")))
    val w = Window.partitionBy(col("series")).orderBy(col("bic").asc_nulls_last, col("ord"))
    scored.withColumn("rk", row_number().over(w))
      .select(col("series"), col("ord"), round(col("bic"), 4).as("bic"),
        when(col("rk") === 1, 1L).otherwise(0L).as("chosen"))
  }

  /** [[arimaGridSearch]]'s candidates on one series' common support rows
    * (dx, l1, l2, e1) in t order, as (ord, k, SSE): the moment sums in t
    * order and each formula in the SQL oracle's operand order; a singular
    * fit has no SSE. */
  private def gridCandidates(common: IndexedSeq[(Double, Double, Double, Double)])
      : Seq[(String, Double, Option[Double])] = {
    val n = common.length.toDouble
    def sse(resid: ((Double, Double, Double, Double)) => Double): Double =
      common.foldLeft(0.0) { (acc, row) => val r = resid(row); acc + r * r }
    var (sdx, s2dx, sx, sxx, sxy) = (0.0, 0.0, 0.0, 0.0, 0.0)
    val (g210, g111) = (new Gram3, new Gram3)
    common.foreach { case (dx, l1, l2, e1) =>
      sdx += dx; s2dx += dx * dx
      sx += l1; sxx += l1 * l1; sxy += l1 * dx
      g210.add(dx, l1, l2); g111.add(dx, l1, e1)
    }
    // (1,1,0): dx_t ~ a + b·dx_{t−1}, 2-unknown OLS (det-guarded)
    val det = n * sxx - sx * sx
    val sse110 = if (det == 0.0) None else {
      val b = (n * sxy - sx * sdx) / det
      val a = (sdx - b * sx) / n
      Some(sse { case (dx, l1, _, _) => dx - (a + b * l1) })
    }
    // (2,1,0) and (1,1,1): 3-unknown Cramer fits
    val sse210 = g210.solve.map { c =>
      sse { case (dx, l1, l2, _) => dx - (c(0) + c(1) * l1 + c(2) * l2) }
    }
    val sse111 = g111.solve.map { c =>
      sse { case (dx, l1, _, e1) => dx - (c(0) + c(1) * l1 + c(2) * e1) }
    }
    // (0,1,0): dx_t = μ; SSE via the moment identity
    Seq(("010", 1.0, Some(s2dx - sdx * sdx / n)), ("110", 2.0, sse110),
      ("210", 3.0, sse210), ("111", 3.0, sse111))
  }

  /** h-step ARIMA(1,1,1) forecast — the reference's forecast on a d=1
    * model (tsa/arima.pyx:297): forecast the DIFFERENCES with the fitted
    * (c0, ar1, ma1) — dx̂_{T+1} = c0 + c1·dx_T + c2·ê_T, then
    * dx̂_{T+k} = c0 + c1·dx̂_{T+k−1} (future shocks are zero) — and
    * integrate back: x̂_{T+k} = x_T + Σ_{j≤k} dx̂_{T+j}, unrolled as h
    * nested column expressions. The HR fit's per-series pass emits the
    * state they start from: (c0, c1, c2), the last observation with a
    * residual (dx_T, ê_T) and the last observation x_T. */
  def arimaForecastHR(series: DataFrame, h: Int): DataFrame = {
    require(h >= 1, "h >= 1")
    import series.sparkSession.implicits._
    val j = bySeries(series, X) { (key, obs) =>
      hannanRissanen(obs).iterator.flatMap { case (rows, coefs) =>
        coefs.flatMap { case (c0, c1, c2) =>
          rows.reverseIterator.collectFirst {
            case (_, dx, _, _, Some(e), _) => (key, c0, c1, c2, dx, e, obs.last._2)
          }
        }
      }
    }.toDF("series", "c0", "c1", "c2", "dxT", "eT", "xT")
    var prevD: Column = col("c0") + col("c1") * col("dxT") + col("c2") * col("eT")
    var cum: Column = col("xT") + prevD
    val fs = (1 to h).map { k =>
      if (k == 1) cum
      else {
        prevD = col("c0") + col("c1") * prevD
        cum = cum + prevD
        cum
      }
    }
    j.select(col("series"), explode(array(fs.zipWithIndex.map { case (f, i) =>
        struct(lit(i + 1L).as("step"), round(f, 4).as("forecast"))
      }: _*)).as("s"))
      .select(col("series"), col("s.step").as("step"), col("s.forecast").as("forecast"))
  }

  /** 2-state constant-velocity Kalman filter — the multi-dimensional
    * (F,H,Q,R) matrix filter of reference filter/kalman_filter.pyx,
    * specialized to F=[[1,1],[0,1]], H=[1,0], Q=diag(q0,q1), scalar R:
    * state = (level, trend), symmetric P tracked as (p00,p01,p11). All the
    * matrix algebra unrolls to scalar expressions, so the recursion is
    * exactly SQL-oracle-able; per-series in-partition, parallel across
    * series. Init: level = x_0, trend = 0, P = I. */
  def kalmanCV(series: DataFrame, q0: Double, q1: Double, r: Double): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      val xs = defined(key, obs)
      var x0 = xs(0); var x1 = 0.0
      var p00 = 1.0; var p01 = 0.0; var p11 = 1.0
      var si = 0.0
      xs.iterator.drop(1).foreach { z =>
        // predict (F x, F P F' + Q), then scalar-observation update
        val x0p = x0 + x1
        val p00p = p00 + p01 + p01 + p11 + q0
        val p01p = p01 + p11
        val p11p = p11 + q1
        val k0 = p00p / (p00p + r)
        val k1 = p01p / (p00p + r)
        val iv = z - x0p
        x0 = x0p + k0 * iv
        x1 = x1 + k1 * iv
        p00 = (1.0 - k0) * p00p
        p01 = (1.0 - k0) * p01p
        p11 = p11p - k1 * p01p
        si = si + iv * iv
      }
      Iterator((key, obs.last._1, x0, x1, p00, si))
    }.toDF("series", "t_last", "_l", "_tr", "_p", "_si")
      .select(col("series"), col("t_last"),
        round(col("_l"), 4).as("level"),
        round(col("_tr"), 4).as("trend"),
        round(col("_p"), 6).as("p00"),
        round(col("_si"), 4).as("sum_innov2"))
  }

  /** General small-matrix Kalman filter — the reference's KalmanFilter
    * takes arbitrary (dim_x, dim_z) with user-set F, H, Q, R
    * (filter/kalman_filter.pyx:197). This is the dim_z = 1 instance over
    * the scalar x column: [[kalmanMatVec]] with H = [hRow] and R = [r],
    * whose elimination at dim_z = 1 is the scalar divide K = P·Hᵀ/s.
    * [[kalmanCV]] remains the SQL-oracle-able unrolled specialization
    * (F=[[1,1],[0,1]], H=[1,0]); its operand order differs from this
    * filter's, so the two agree only at the rounding grid. Output: final
    * level (= state[0]), full state vector, p00 and the innovation energy. */
  def kalmanMat(series: DataFrame, f: Seq[Seq[Double]], hRow: Seq[Double],
                qDiag: Seq[Double], r: Double): DataFrame = {
    val dim = f.size
    require(f.forall(_.size == dim) && hRow.size == dim && qDiag.size == dim,
      s"F must be ${dim}x$dim, H and Q diag length $dim")
    // x as a one-element observation vector, null where x is null
    kalmanMatVec(series.withColumn("x", when(col("x").isNotNull, array(col("x")))),
        f, Seq(hRow), qDiag, Seq(r), zCol = "x")
      .select(col("series"), col("t_last"), col("state")(0).as("level"), col("state"),
        col("p00"), col("sum_innov2"))
  }

  /** Full (dim_x, dim_z) Kalman filter — vector observations, completing
    * the reference surface (filter/kalman_filter.pyx:77 tests dim_z up to
    * 3). Input rows carry an observation ARRAY column z of length dim_z;
    * H is dim_z×dim_x, R a dim_z diagonal. The innovation covariance
    * S = H·P·Hᵀ + R is solved by an in-place Gaussian elimination on the
    * (dim_z ≤ ~4) system — dense small-matrix loops over dim_x ≤ ~8 state
    * entries, per-series in-partition ([[bySeries]]).
    *   predict  x = F·x,  P = F·P·Fᵀ + Q
    *   update   K = P·Hᵀ·S⁻¹,  x += K·(z − H·x),  P = P − K·(H·P)
    * Init: x = (z_0(0), 0, …), P = I. A singular S leaves the state, p00
    * and the energy null. Output: final state vector, p00, innovation
    * energy Σ‖ν‖². */
  def kalmanMatVec(series: DataFrame, f: Seq[Seq[Double]], h: Seq[Seq[Double]],
                   qDiag: Seq[Double], rDiag: Seq[Double],
                   zCol: String = "z"): DataFrame = {
    val dim = f.size
    val dz = h.size
    require(f.forall(_.size == dim) && h.forall(_.size == dim) &&
      qDiag.size == dim && rDiag.size == dz,
      s"F ${dim}x$dim, H ${dz}x$dim, qDiag $dim, rDiag $dz")
    import series.sparkSession.implicits._
    val fA = f.map(_.toArray).toArray
    val hA = h.map(_.toArray).toArray
    val qA = qDiag.toArray
    val rA = rDiag.toArray
    bySeries(series, col(zCol).cast("array<double>").as[Seq[Double]]) { (key, obs) =>
      val zs = defined(key, obs, zCol)
      // init: least-squares-free start — x solves H x ≈ z_0 only through
      // the first observation row convention x_0 = z_0(0) on state 0
      var x = Array.tabulate(dim)(i => if (i == 0) zs.head.head else 0.0)
      var p = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      var si = 0.0
      var singular = false
      zs.iterator.drop(1).takeWhile(_ => !singular).foreach { zSeq =>
        val z = zSeq.toArray
        val xp = Array.tabulate(dim)(i => (0 until dim).map(j => fA(i)(j) * x(j)).sum)
        val fp = Array.tabulate(dim, dim)((i, j) =>
          (0 until dim).map(k => fA(i)(k) * p(k)(j)).sum)
        val pp = Array.tabulate(dim, dim)((i, j) =>
          (0 until dim).map(k => fp(i)(k) * fA(j)(k)).sum +
            (if (i == j) qA(i) else 0.0))
        val hp = Array.tabulate(dz, dim)((a, j) =>          // H·Pp
          (0 until dim).map(k => hA(a)(k) * pp(k)(j)).sum)
        val s = Array.tabulate(dz, dz)((a, b) =>            // H·Pp·Hᵀ + R
          (0 until dim).map(k => hp(a)(k) * hA(b)(k)).sum +
            (if (a == b) rA(a) else 0.0))
        val pht = Array.tabulate(dim, dz)((i, a) =>         // Pp·Hᵀ
          (0 until dim).map(k => pp(i)(k) * hA(a)(k)).sum)
        // K = Pp·Hᵀ·S⁻¹ via solving S·Kᵀ = (Pp·Hᵀ)ᵀ (Gaussian elim)
        val m = Array.tabulate(dz)(a => s(a).clone())
        val rhs = Array.tabulate(dz, dim)((a, i) => pht(i)(a))
        for (c <- 0 until dz) {
          var piv = c
          for (r2 <- c + 1 until dz) if (math.abs(m(r2)(c)) > math.abs(m(piv)(c))) piv = r2
          val tm = m(c); m(c) = m(piv); m(piv) = tm
          val tr = rhs(c); rhs(c) = rhs(piv); rhs(piv) = tr
          // singular S (duplicate noiseless sensors): visible failure
          // beats NaN-poisoned state — same policy as arFitWide
          if (m(c)(c) == 0.0) singular = true
          else for (r2 <- c + 1 until dz) {
            val fct = m(r2)(c) / m(c)(c)
            for (cc <- c until dz) m(r2)(cc) -= fct * m(c)(cc)
            for (i <- 0 until dim) rhs(r2)(i) -= fct * rhs(c)(i)
          }
        }
        if (!singular) {
          val kT = Array.ofDim[Double](dz, dim)             // Kᵀ rows
          for (c <- dz - 1 to 0 by -1; i <- 0 until dim) {
            var v = rhs(c)(i)
            for (cc <- c + 1 until dz) v -= m(c)(cc) * kT(cc)(i)
            kT(c)(i) = v / m(c)(c)
          }
          val nu = Array.tabulate(dz)(a =>
            z(a) - (0 until dim).map(k => hA(a)(k) * xp(k)).sum)
          x = Array.tabulate(dim)(i => xp(i) + (0 until dz).map(a => kT(a)(i) * nu(a)).sum)
          p = Array.tabulate(dim, dim)((i, j) =>
            pp(i)(j) - (0 until dz).map(a => kT(a)(i) * hp(a)(j)).sum)
          si += nu.map(v => v * v).sum
        }
      }
      if (singular)
        Iterator((key, obs.last._1, Option.empty[Seq[Double]],
          Option.empty[Double], Option.empty[Double]))
      else Iterator((key, obs.last._1, Option(x.toSeq), Option(p(0)(0)), Option(si)))
    }.toDF("series", "t_last", "_st", "_p", "_si")
      .select(col("series"), col("t_last"),
        transform(col("_st"), v => round(v, 4)).as("state"),
        round(col("_p"), 6).as("p00"),
        round(col("_si"), 4).as("sum_innov2"))
  }

  /** Scalar Kalman filter (constant-velocity-free local level model):
    *   predict: P += Q;  update: K = P/(P+R); s += K(x−s); P *= (1−K).
    * Runs in-partition per series ([[bySeries]]) — the recursion is
    * inherently sequential per series, parallel across series (exactly
    * the reference's batched layout, reference filter/kalman_filter.pyx). */
  def kalman1D(series: DataFrame, q: Double, r: Double): DataFrame = {
    import series.sparkSession.implicits._
    bySeries(series, X) { (key, obs) =>
      val xs = defined(key, obs)
      var s = xs(0); var p = 1.0
      var sumInnov2 = 0.0
      xs.iterator.drop(1).foreach { x =>
        p += q
        val kGain = p / (p + r)
        val innov = x - s
        s += kGain * innov
        p *= (1.0 - kGain)
        sumInnov2 += innov * innov
      }
      Iterator((key, obs.last._1, s, p, sumInnov2))
    }.toDF("series", "t_last", "_state", "_p", "_si")
      .select(col("series"), col("t_last"),
        round(col("_state"), 4).as("state"),
        round(col("_p"), 6).as("p_cov"),
        round(col("_si"), 4).as("sum_innov2"))
  }
}
