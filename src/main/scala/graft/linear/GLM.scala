package graft.linear

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson GLM (log link, intercept + one feature) by IRLS with a FIXED
  * round count — the fixed-round discipline (gmm_em / pagerank) that lets
  * a SQL oracle replay the fit as chained CTEs. Each round is ONE
  * map-side-combined aggregate of the five weighted sums (Σw, Σwx, Σwx²,
  * Σwz, Σwxz with w = μ, z = η + (y−μ)/μ); the normal-equation solve is a
  * closed-form 2×2 Cramer on the driver (p-sized state, never data).
  * Deterministic init: β₀ = ln(ȳ), β₁ = 0 — one moment pass.
  */
object GLM {

  final case class PoissonFit(n: Double, b0: Double, b1: Double, deviance: Double)

  def poissonIrls(df: DataFrame, y: Column, x: Column, rounds: Int = 8): PoissonFit =
    // fixed rounds + deterministic init → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "poisson", y, x, rounds)) {
      poissonIrlsUncached(df, y, x, rounds)
    }

  private def poissonIrlsUncached(df: DataFrame, y: Column, x: Column,
                                  rounds: Int): PoissonFit = {
    val base = df.select(y.cast("double").as("y"), x.cast("double").as("x"))
    val st = base.agg(count(lit(1)).cast("double").as("n"), avg(col("y")).as("m")).head()
    val n = st.getDouble(0)
    var b0 = math.log(st.getDouble(1))
    var b1 = 0.0
    (0 until rounds).foreach { _ =>
      val eta = lit(b0) + lit(b1) * col("x")
      val mu = exp(eta)
      val z = eta + (col("y") - mu) / mu
      val r = base.agg(sum(mu).as("sw"), sum(mu * col("x")).as("swx"),
        sum(mu * col("x") * col("x")).as("swxx"),
        sum(mu * z).as("swz"), sum(mu * col("x") * z).as("swxz")).head()
      val (sw, swx, swxx, swz, swxz) =
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val det = sw * swxx - swx * swx
      b0 = (swz * swxx - swx * swxz) / det
      b1 = (sw * swxz - swx * swz) / det
    }
    val mu = exp(lit(b0) + lit(b1) * col("x"))
    val dev = base.agg(sum(
      lit(2.0) * (when(col("y") > 0, col("y") * log(col("y") / mu)).otherwise(0.0) -
        (col("y") - mu)))).head().getDouble(0)
    PoissonFit(n, b0, b1, dev)
  }

  final case class LogitFit(n: Double, b0: Double, b1: Double, b2: Double,
                            logLoss: Double)

  /** Binomial GLM (logit link, intercept + two features) by the same
    * fixed-round IRLS: w = p(1−p), z = η + (y−p)/w, one aggregate of the
    * 9 weighted sums per round, 3×3 Cramer on the driver. Unlike the
    * QN L-BFGS path (logreg, partially gated by necessity), the fixed-round
    * Newton iterate is bit-replayable by a SQL oracle. β starts at 0 —
    * the first round is then exactly weighted least squares on z = 4y−2. */
  def logisticIrls(df: DataFrame, y: Column, x1: Column, x2: Column,
                   rounds: Int = 8): LogitFit =
    // fixed rounds + zero init → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "logit_irls", y, x1, x2, rounds)) {
      logisticIrlsUncached(df, y, x1, x2, rounds)
    }

  private def logisticIrlsUncached(df: DataFrame, y: Column, x1: Column, x2: Column,
                                   rounds: Int): LogitFit = {
    val base = df.select(y.cast("double").as("y"), x1.cast("double").as("x1"),
      x2.cast("double").as("x2"))
    val n = base.count().toDouble
    var (b0, b1, b2) = (0.0, 0.0, 0.0)
    (0 until rounds).foreach { _ =>
      val eta = lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2")
      val p = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = p * (lit(1.0) - p)
      val z = eta + (col("y") - p) / w
      val r = base.agg(
        sum(w).as("s00"), sum(w * col("x1")).as("s01"), sum(w * col("x2")).as("s02"),
        sum(w * col("x1") * col("x1")).as("s11"),
        sum(w * col("x1") * col("x2")).as("s12"),
        sum(w * col("x2") * col("x2")).as("s22"),
        sum(w * z).as("r0"), sum(w * col("x1") * z).as("r1"),
        sum(w * col("x2") * z).as("r2")).head()
      val (s00, s01, s02) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val (s11, s12, s22) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      val (r0, r1, r2) = (r.getDouble(6), r.getDouble(7), r.getDouble(8))
      def det3(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double,
               g: Double, h: Double, i: Double) =
        a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
      val det = det3(s00, s01, s02, s01, s11, s12, s02, s12, s22)
      b0 = det3(r0, s01, s02, r1, s11, s12, r2, s12, s22) / det
      b1 = det3(s00, r0, s02, s01, r1, s12, s02, r2, s22) / det
      b2 = det3(s00, s01, r0, s01, s11, r1, s02, s12, r2) / det
    }
    val eta = lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2")
    val p = lit(1.0) / (lit(1.0) + exp(-eta))
    val llRow = base.agg(avg(-(col("y") * log(p) +
      (lit(1.0) - col("y")) * log(lit(1.0) - p)))).head()
    LogitFit(n, b0, b1, b2, llRow.getDouble(0))
  }

  def logisticFrame(df: DataFrame, y: Column, x1: Column, x2: Column,
                    rounds: Int = 8): DataFrame = {
    val f = logisticIrls(df, y, x1, x2, rounds)
    df.sparkSession.range(1).select(lit(f.n).cast("long").as("n"),
      round(lit(f.b0), 6).as("b0"), round(lit(f.b1), 6).as("b1"),
      round(lit(f.b2), 6).as("b2"), round(lit(f.logLoss), 6).as("log_loss"))
  }

  final case class QuantileFit(tau: Double, b0: Double, b1: Double, pinball: Double)

  /** Quantile regression (intercept + one feature) by Schlossmacher-style
    * IRLS on the pinball loss: w = τ/max(ε,r) above the line,
    * (1−τ)/max(ε,−r) below — each round ONE aggregate, and BOTH quantiles'
    * weighted sums ride the same scan (candidate count multiplies
    * expressions, not passes — the hw_fit lattice discipline). Fixed
    * rounds + deterministic init (b0 = ȳ, b1 = 0) make the whole fit
    * replayable as chained CTEs, like [[poissonIrls]]. */
  def quantileIrls(df: DataFrame, y: Column, x: Column, taus: Seq[Double],
                   rounds: Int = 8, eps: Double = 0.1): Seq[QuantileFit] =
    // fixed rounds + deterministic init → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "quantile",
      y, x, taus.mkString(","), rounds, eps)) {
      quantileIrlsUncached(df, y, x, taus, rounds, eps)
    }

  private def quantileIrlsUncached(df: DataFrame, y: Column, x: Column, taus: Seq[Double],
                                   rounds: Int, eps: Double): Seq[QuantileFit] = {
    // the 2-column projection is re-scanned `rounds` times — cache it for
    // the fit's lifetime (released below; the arima_grid_search pattern)
    val base = df.select(y.cast("double").as("y"), x.cast("double").as("x")).cache()
    try {
      quantileIrlsOn(base, taus, rounds, eps)
    } finally base.unpersist()
  }

  private def quantileIrlsOn(base: DataFrame, taus: Seq[Double],
                             rounds: Int, eps: Double): Seq[QuantileFit] = {
    val m = base.agg(avg(col("y"))).head().getDouble(0)
    var fits = taus.map(t => (t, m, 0.0))
    (0 until rounds).foreach { _ =>
      val aggs = fits.zipWithIndex.flatMap { case ((t, b0, b1), i) =>
        val r = col("y") - (lit(b0) + lit(b1) * col("x"))
        val w = when(r > 0, lit(t) / greatest(lit(eps), r))
          .otherwise(lit(1.0 - t) / greatest(lit(eps), -r))
        Seq(sum(w).as(s"sw$i"), sum(w * col("x")).as(s"swx$i"),
          sum(w * col("x") * col("x")).as(s"swxx$i"),
          sum(w * col("y")).as(s"swy$i"), sum(w * col("x") * col("y")).as(s"swxy$i"))
      }
      val row = base.agg(aggs.head, aggs.tail: _*).head()
      fits = fits.zipWithIndex.map { case ((t, _, _), i) =>
        val (sw, swx, swxx) = (row.getDouble(5 * i), row.getDouble(5 * i + 1),
          row.getDouble(5 * i + 2))
        val (swy, swxy) = (row.getDouble(5 * i + 3), row.getDouble(5 * i + 4))
        val det = sw * swxx - swx * swx
        (t, (swy * swxx - swx * swxy) / det, (sw * swxy - swx * swy) / det)
      }
    }
    val lossAggs = fits.zipWithIndex.map { case ((t, b0, b1), i) =>
      val r = col("y") - (lit(b0) + lit(b1) * col("x"))
      avg(when(r >= 0, lit(t) * r).otherwise(lit(t - 1.0) * r)).as(s"pb$i")
    }
    val lossRow = base.agg(lossAggs.head, lossAggs.tail: _*).head()
    fits.zipWithIndex.map { case ((t, b0, b1), i) =>
      QuantileFit(t, b0, b1, lossRow.getDouble(i))
    }
  }

  def quantileFrame(df: DataFrame, y: Column, x: Column, taus: Seq[Double],
                    rounds: Int = 8): DataFrame = {
    val fits = quantileIrls(df, y, x, taus, rounds)
    import df.sparkSession.implicits._
    fits.map(f => (f.tau,
      BigDecimal(f.b0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(f.b1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(f.pinball).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("tau", "b0", "b1", "pinball").orderBy("tau")
  }

  /** One-row result frame with the oracle's rounding. */
  def poissonFrame(df: DataFrame, y: Column, x: Column, rounds: Int = 8): DataFrame = {
    val f = poissonIrls(df, y, x, rounds)
    df.sparkSession.range(1).select(lit(f.n).cast("long").as("n"),
      round(lit(f.b0), 6).as("b0"), round(lit(f.b1), 6).as("b1"),
      round(lit(f.deviance), 4).as("deviance"))
  }

  final case class RobustFit(n: Double, b0: Double, b1: Double, meanAbsResid: Double)

  /** Huber robust regression (intercept + one feature) by fixed-round
    * IRLS: w = 1 for |e| ≤ δ else δ/|e| — the M-estimator that keeps
    * outlier rows from owning the fit. OLS init (one closed-form pass),
    * each round ONE aggregate of five weighted sums + 2×2 Cramer, same
    * replayable discipline as [[poissonIrls]]. */
  def huberIrls(df: DataFrame, y: Column, x: Column, delta: Double,
                rounds: Int = 8): RobustFit =
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "huber", y, x,
      delta, rounds)) {
      val base = df.select(y.cast("double").as("y"), x.cast("double").as("x"))
      val st = base.agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy")).head()
      val (n, sx, sy, sxx, sxy) = (st.getDouble(0), st.getDouble(1),
        st.getDouble(2), st.getDouble(3), st.getDouble(4))
      var b1 = (sxy - sx * sy / n) / (sxx - sx * sx / n)
      var b0 = sy / n - b1 * (sx / n)
      (0 until rounds).foreach { _ =>
        val e = col("y") - (lit(b0) + lit(b1) * col("x"))
        val w = when(abs(e) <= delta, 1.0).otherwise(lit(delta) / abs(e))
        val r = base.agg(sum(w).as("sw"), sum(w * col("x")).as("swx"),
          sum(w * col("x") * col("x")).as("swxx"),
          sum(w * col("y")).as("swy"), sum(w * col("x") * col("y")).as("swxy")).head()
        val (sw, swx, swxx, swy, swxy) = (r.getDouble(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))
        val det = sw * swxx - swx * swx
        b0 = (swy * swxx - swx * swxy) / det
        b1 = (sw * swxy - swx * swy) / det
      }
      val mar = base.agg(avg(abs(col("y") - (lit(b0) + lit(b1) * col("x")))))
        .head().getDouble(0)
      RobustFit(n, b0, b1, mar)
    }

  def huberFrame(df: DataFrame, y: Column, x: Column, delta: Double,
                 rounds: Int = 8): DataFrame = {
    val f = huberIrls(df, y, x, delta, rounds)
    df.sparkSession.range(1).select(lit(f.n).cast("long").as("n"),
      round(lit(f.b0), 6).as("b0"), round(lit(f.b1), 6).as("b1"),
      round(lit(f.meanAbsResid), 4).as("mean_abs_resid"))
  }

  final case class TweedieFit(n: Double, b0: Double, b1: Double, meanMu: Double)

  /** Tweedie GLM (log link, variance power p = 1.5 — the compound
    * Poisson-gamma regime for zero-inflated positive targets) by the same
    * fixed-round IRLS: w = μ^(2−p) = √μ, z = η + (y−μ)/μ. */
  def tweedieIrls(df: DataFrame, y: Column, x: Column, rounds: Int = 8): TweedieFit =
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(df, "tweedie", y, x, rounds)) {
      val base = df.select(y.cast("double").as("y"), x.cast("double").as("x"))
      val st = base.agg(count(lit(1)).cast("double").as("n"), avg(col("y")).as("m")).head()
      val n = st.getDouble(0)
      var b0 = math.log(st.getDouble(1))
      var b1 = 0.0
      (0 until rounds).foreach { _ =>
        val eta = lit(b0) + lit(b1) * col("x")
        val mu = exp(eta)
        val w = sqrt(mu)
        val z = eta + (col("y") - mu) / mu
        val r = base.agg(sum(w).as("sw"), sum(w * col("x")).as("swx"),
          sum(w * col("x") * col("x")).as("swxx"),
          sum(w * z).as("swz"), sum(w * col("x") * z).as("swxz")).head()
        val (sw, swx, swxx, swz, swxz) = (r.getDouble(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))
        val det = sw * swxx - swx * swx
        b0 = (swz * swxx - swx * swxz) / det
        b1 = (sw * swxz - swx * swz) / det
      }
      val mm = base.agg(avg(exp(lit(b0) + lit(b1) * col("x")))).head().getDouble(0)
      TweedieFit(n, b0, b1, mm)
    }

  def tweedieFrame(df: DataFrame, y: Column, x: Column, rounds: Int = 8): DataFrame = {
    val f = tweedieIrls(df, y, x, rounds)
    df.sparkSession.range(1).select(lit(f.n).cast("long").as("n"),
      round(lit(f.b0), 6).as("b0"), round(lit(f.b1), 6).as("b1"),
      round(lit(f.meanMu), 4).as("mean_mu"))
  }
}
