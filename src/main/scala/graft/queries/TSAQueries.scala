package graft.queries

import graft.core.Tables
import graft.core.Num.{r4, r6}
import graft.tsa.TimeSeries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series query surface over `events` (daily series per event_type). */
object TSAQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The hw_fit smoothing-parameter lattice (ascending — argmin tie-break
    * order must match the oracle's ORDER BY alpha, beta, gamma). */
  private[queries] val HwAlphas = Seq(0.2, 0.4, 0.6, 0.8)
  private[queries] val HwBetas = Seq(0.1, 0.3)
  private[queries] val HwGammas = Seq(0.1, 0.3, 0.5)

  val queries: Map[String, Q] = Map(
    "holtwinters" -> { (s, d) =>
      val ses = TimeSeries.sesSmoothed(TimeSeries.dailySeries(Tables.events(s, d)), 0.3)
      val w = Window.partitionBy(col("series")).orderBy(col("t").desc)
      ses.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("series"), col("t").as("t_last"), r4(col("smoothed")).as("s_last"))
        .orderBy("series")
    },
    "holt_trend" -> { (s, d) =>
      TimeSeries.holtTrend(TimeSeries.dailySeries(Tables.events(s, d)), 0.3, 0.1)
        .orderBy("series")
    },
    "holt_damped" -> { (s, d) =>
      // damped-trend Holt (Gardner-McKenzie φ=0.9): the recursion runs
      // per-series in-partition; the k-step damped sum is a closed-form
      // column expression shared verbatim with the oracle
      TimeSeries.holtDamped(TimeSeries.dailySeries(Tables.events(s, d)),
          0.3, 0.1, 0.9, h = 5)
        .orderBy("series", "step")
    },
    "theta_forecast" -> { (s, d) =>
      // Theta method (M3 winner): ½·trend-line + ½·SES(θ2 line); OLS
      // coefficients from ONE grouped aggregate, rounded before the θ2
      // line so the SES recursion input is engine-identical
      TimeSeries.thetaForecast(TimeSeries.dailySeries(Tables.events(s, d)),
          0.3, h = 5)
        .orderBy("series", "step")
    },
    "holtwinters_seasonal" -> { (s, d) =>
      TimeSeries.holtWintersSeasonal(TimeSeries.dailySeries(Tables.events(s, d)),
          0.3, 0.1, 0.2, 7)
        .orderBy("series")
    },
    "holtwinters_mul" -> { (s, d) =>
      TimeSeries.holtWintersSeasonal(TimeSeries.dailySeries(Tables.events(s, d)),
          0.3, 0.1, 0.2, 7, multiplicative = true)
        .orderBy("series")
    },
    "hw_forecast" -> { (s, d) =>
      TimeSeries.holtWintersForecast(TimeSeries.dailySeries(Tables.events(s, d)),
          0.3, 0.1, 0.2, 7, h = 5)
        .orderBy("series", "step")
    },
    "arima_forecast" -> { (s, d) =>
      TimeSeries.arForecast(TimeSeries.dailySeries(Tables.events(s, d)), h = 5)
        .orderBy("series", "step")
    },
    "stationarity" -> { (s, d) =>
      val daily = TimeSeries.dailySeries(Tables.events(s, d))
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
      daily.withColumn("dx", col("x") - lag(col("x"), 1).over(w))
        .groupBy(col("series"))
        .agg(r6(var_samp(col("dx")) / var_samp(col("x"))).as("var_ratio"),
          when(var_samp(col("dx")) < var_samp(col("x")), 1L).otherwise(0L).as("d"))
        .orderBy("series")
    },
    "outlier_mad" -> { (s, d) =>
      graft.stats.Robust.outlierMad(
          TimeSeries.dailySeries(Tables.events(s, d)), k = 3.0)
        .orderBy("series")
    },
    "acf" -> { (s, d) =>
      // identification surface under the reference's order selection:
      // sample ACF at lags 1..6, all lags in ONE grouped aggregate
      TimeSeries.acf(TimeSeries.dailySeries(Tables.events(s, d)), maxLag = 6)
        .orderBy("series", "lag")
    },
    "pacf" -> { (s, d) =>
      // Durbin–Levinson closed-form PACF (lags 1..3) over the ACF pass
      TimeSeries.pacf(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series", "lag")
    },
    "seasonal_decompose" -> { (s, d) =>
      // classical additive decomposition at the weekly period
      TimeSeries.seasonalDecompose(TimeSeries.dailySeries(Tables.events(s, d)), 7)
    },
    "seasonal_strength" -> { (s, d) =>
      // Hyndman F_s/F_t from the weekly decomposition (the
      // forecastability screen next to stationarity)
      TimeSeries.seasonalStrength(TimeSeries.dailySeries(Tables.events(s, d)), 7)
    },
    "ccf" -> { (s, d) =>
      // lead/lag structure between the click and purchase daily series:
      // cross-correlation at lags −3..3 over the joined day support
      val daily = TimeSeries.dailySeries(Tables.events(s, d))
      val a = daily.filter(col("series") === "click")
        .select(col("day"), col("x").as("xa"))
      val b = daily.filter(col("series") === "purchase")
        .select(col("day"), col("x").as("xb"))
      val joined = a.join(b, "day")
        .select(lit("click~purchase").as("pair"), col("day").as("t"),
          col("xa"), col("xb"))
      TimeSeries.ccf(joined, "pair", maxLag = 3).orderBy("lag")
    },
    "ljung_box" -> { (s, d) =>
      // white-noise portmanteau over the first 6 autocorrelations; the
      // χ²₆ 5% critical value is a literal so reject replays in SQL
      TimeSeries.ljungBox(TimeSeries.dailySeries(Tables.events(s, d)),
          h = 6, crit = 12.5916)
        .orderBy("series")
    },
    "arima" -> { (s, d) =>
      TimeSeries.arFit2(TimeSeries.dailySeries(Tables.events(s, d)))
        .select(col("series"), col("term"), round(col("coef"), 4).as("coef"))
        .orderBy("series", "term")
    },
    "arima_pdq" -> { (s, d) =>
      TimeSeries.arimaHR(TimeSeries.dailySeries(Tables.events(s, d)))
        .select(col("series"), col("term"), round(col("coef"), 4).as("coef"))
        .orderBy("series", "term")
    },
    "hw_fit_opt" -> { (s, d) =>
      // partial hash gate: project the SQL-replayable lattice winner and
      // the optimizer's ≤-invariant; the continuous (α,β,γ,sse) optimum
      // is computed in the same pass (it feeds opt_leq_lattice) and is
      // spec-gated in TsaDepthSpec
      TimeSeries.hwFitOpt(TimeSeries.dailySeries(Tables.events(s, d)), 7,
          HwAlphas, HwBetas, HwGammas)
        .select(col("series"),
          round(col("alpha_lat"), 2).as("alpha_lat"),
          round(col("beta_lat"), 2).as("beta_lat"),
          round(col("gamma_lat"), 2).as("gamma_lat"),
          col("sse_lattice"), col("opt_leq_lattice"))
        .orderBy("series")
    },
    "hw_fit" -> { (s, d) =>
      TimeSeries.hwFit(TimeSeries.dailySeries(Tables.events(s, d)), 7,
          HwAlphas, HwBetas, HwGammas)
        .select(col("series"), round(col("alpha"), 2).as("alpha"),
          round(col("beta"), 2).as("beta"), round(col("gamma"), 2).as("gamma"),
          col("sse"))
        .orderBy("series")
    },
    "hw_fit_forecast" -> { (s, d) =>
      TimeSeries.hwFitForecast(TimeSeries.dailySeries(Tables.events(s, d)), 7,
          HwAlphas, HwBetas, HwGammas, h = 5)
        .orderBy("series", "step")
    },
    "hw_fit_state" -> { (s, d) =>
      TimeSeries.hwFitState(TimeSeries.dailySeries(Tables.events(s, d)), 7,
          HwAlphas, HwBetas, HwGammas)
        .orderBy("series", "component")
    },
    "stationarity_kpss" -> { (s, d) =>
      TimeSeries.stationarityKpss(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series")
    },
    "forecast_accuracy" -> { (s, d) =>
      // forecast-accuracy scorecard of the SES one-step in-sample
      // forecast (ŷ_t = s_{t−1}): MAE/RMSE plus MASE against the lag-1
      // naive — the scale-free metric forecasting pipelines actually
      // compare models with; recursion replayed by the holtwinters CTE,
      // errors from one lag window inside the series partition
      val ses = TimeSeries.sesSmoothed(
        TimeSeries.dailySeries(Tables.events(s, d)), 0.3)
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
      val p = ses.withColumn("_sp", lag(col("smoothed"), 1).over(w))
        .withColumn("_xp", lag(col("x"), 1).over(w))
        .filter(col("_sp").isNotNull)
      // a constant series has naive MAE 0: Spark (non-ANSI) x/0 is NULL
      // while DuckDB gives inf — guard the denominator so both engines
      // emit NULL (oracle mirrors with NULLIF)
      val mase = when(col("_maen") > 0, col("_mae") / col("_maen"))
      p.groupBy(col("series")).agg(count(lit(1)).cast("long").as("n"),
          avg(abs(col("x") - col("_sp"))).as("_mae"),
          sqrt(avg((col("x") - col("_sp")) * (col("x") - col("_sp")))).as("_rmse"),
          avg(abs(col("x") - col("_xp"))).as("_maen"))
        .select(col("series"), col("n"), r4(col("_mae")).as("mae"),
          r4(col("_rmse")).as("rmse"), r4(mase).as("mase"),
          (r4(mase) < 1.0).as("beats_naive"))
        .orderBy("series")
    },
    "granger_causality" -> { (s, d) =>
      // Granger causality between the click and view daily series (lag-1,
      // both directions): full model y_t ~ [1, y_{t-1}, x_{t-1}] solved by
      // one 3×3 Cramer over the aligned-lag sums, restricted model closed
      // form, F = (SSE_r − SSE_f)/(SSE_f/(n−3)); reject at F(1,∞) 5%.
      // The aligned frame is bounded (days); ONE sums aggregate per
      // direction
      val ds = TimeSeries.dailySeries(Tables.events(s, d))
      def det3c(a: Column, b: Column, c: Column, dd: Column, e: Column,
                f: Column, g: Column, h: Column, i: Column): Column =
        a * (e * i - f * h) - b * (dd * i - f * g) + c * (dd * h - e * g)
      def direction(cause: String, effect: String): DataFrame = {
        val ef = ds.filter(col("series") === effect)
          .select(col("day"), col("x").as("_ye"))
        val ca = ds.filter(col("series") === cause)
          .select(col("day"), col("x").as("_xc"))
        val w = Window.orderBy(col("day")) // bounded day frame
        val lagged = ef.join(ca, "day")
          .withColumn("_la", lag(col("_ye"), 1).over(w))
          .withColumn("_lb", lag(col("_xc"), 1).over(w))
          .filter(col("_la").isNotNull)
        val g = lagged.agg(count(lit(1)).cast("double").as("_n"),
          sum(col("_la")).as("_sa"), sum(col("_lb")).as("_sb"),
          sum(col("_ye")).as("_sy"), sum(col("_la") * col("_la")).as("_saa"),
          sum(col("_la") * col("_lb")).as("_sab"),
          sum(col("_lb") * col("_lb")).as("_sbb"),
          sum(col("_la") * col("_ye")).as("_say"),
          sum(col("_lb") * col("_ye")).as("_sby"),
          sum(col("_ye") * col("_ye")).as("_syy"))
        val (n, sa, sb, sy) = (col("_n"), col("_sa"), col("_sb"), col("_sy"))
        val (saa, sab, sbb) = (col("_saa"), col("_sab"), col("_sbb"))
        val (say, sby, syy) = (col("_say"), col("_sby"), col("_syy"))
        val det = det3c(n, sa, sb, sa, saa, sab, sb, sab, sbb)
        val c0 = det3c(sy, sa, sb, say, saa, sab, sby, sab, sbb) / det
        val c1 = det3c(n, sy, sb, sa, say, sab, sb, sby, sbb) / det
        val c2 = det3c(n, sa, sy, sa, saa, say, sb, sab, sby) / det
        val sseF = syy - (c0 * sy + c1 * say + c2 * sby)
        val slope = (say - sa * sy / n) / (saa - sa * sa / n)
        val icept = sy / n - slope * (sa / n)
        val sseR = syy - (icept * sy + slope * say)
        val fStat = (sseR - sseF) / (sseF / (n - 3.0))
        g.select(lit(cause).as("cause"), lit(effect).as("effect"),
          n.cast("long").as("n"), r4(fStat).as("f_stat"),
          (r4(fStat) > 3.841).as("reject"))
      }
      direction("view", "click").unionAll(direction("click", "view"))
        .orderBy("cause")
    },
    "ewma_chart" -> { (s, d) =>
      // EWMA control chart (λ=0.2, L=3) per daily series: the smoothed
      // line is the SES recursion (sesSmoothed — per-series in-partition
      // fold, replayed by the recursive CTE), limits are the textbook
      // time-varying 3σ√(λ/(2−λ)(1−(1−λ)^{2t})) band around the series
      // mean; alarms decided on the ROUNDED excess from t≥1
      val daily = TimeSeries.dailySeries(Tables.events(s, d))
      val ses = TimeSeries.sesSmoothed(daily, 0.2)
      val st = daily.groupBy(col("series")).agg(avg(col("x")).as("_mu"),
        stddev_samp(col("x")).as("_sd"), count(lit(1)).cast("long").as("_n"))
      val lim = lit(3.0) * col("_sd") *
        sqrt(lit(0.2) / 1.8 * (lit(1.0) - pow(lit(0.8), col("t") * 2)))
      val exc = round(abs(col("smoothed") - col("_mu")) - lim, 4)
      val flagged = ses.join(broadcast(st), "series")
        .withColumn("_alarm", col("t") >= 1 && exc > 0.0)
        .withColumn("_exc", exc)
      flagged.groupBy(col("series")).agg(max(col("_n")).as("n"),
          sum(when(col("_alarm"), 1L).otherwise(0L)).as("n_alarms"),
          coalesce(min(when(col("_alarm"), col("t"))), lit(-1L)).as("first_alarm"),
          r4(max(when(col("t") >= 1, col("_exc")))).as("max_excess"))
        .orderBy("series")
    },
    "page_hinkley" -> { (s, d) =>
      // Page-Hinkley drift detector per series (the online mean-shift
      // alarm a streaming quality gate runs): per-row term x_t − mean_t − δ
      // with mean_t the RUNNING mean (cumavg window), m_t its cumsum,
      // PH_t = m_t − min_{i≤t} m_i; δ = 0.1σ, alarm at PH > 2σ on the
      // ROUNDED excess — three chained windows inside one series partition
      val ds = TimeSeries.dailySeries(Tables.events(s, d))
      val st = ds.groupBy(col("series")).agg(stddev_samp(col("x")).as("_sd"),
        count(lit(1)).cast("long").as("_n"))
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = ds.join(broadcast(st), "series")
        .withColumn("_cm", avg(col("x")).over(w))
        .withColumn("_m", sum(col("x") - col("_cm") - lit(0.1) * col("_sd")).over(w))
        .withColumn("_ph", col("_m") - min(col("_m")).over(w))
        .withColumn("_exc", round(col("_ph") - lit(2.0) * col("_sd"), 4))
      base.groupBy(col("series")).agg(max(col("_n")).as("n"),
          sum(when(col("_exc") > 0.0, 1L).otherwise(0L)).as("n_alarms"),
          coalesce(min(when(col("_exc") > 0.0, col("t"))), lit(-1L)).as("first_alarm"),
          r4(max(col("_ph"))).as("max_ph"))
        .orderBy("series")
    },
    "binseg_changepoint" -> { (s, d) =>
      // single-split binary segmentation per series: best τ maximizes the
      // SSE reduction total − (left + right), all three from ONE prefix
      // cumsum pass (S_t, Q_t) + the series totals; argmax on the ROUNDED
      // gain, earliest-τ tie-break — the variance-based sibling of the
      // mean-shift cusum screen
      val ds = TimeSeries.dailySeries(Tables.events(s, d))
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // series totals = the LAST prefix cumsum (bit-exact in both engines
      // — a separate groupBy sum combines in partition order and can land
      // the r4'd means on the other side of a rounding boundary; the
      // sequential prefix order is the one the oracle replays)
      val wAll = Window.partitionBy(col("series")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = ds.withColumn("_cs", sum(col("x")).over(w))
        .withColumn("_cq", sum(col("x") * col("x")).over(w))
        .withColumn("_i", (col("t") + 1).cast("double"))
      val cand = cum.withColumn("_S", last(col("_cs")).over(wAll))
        .withColumn("_Q", last(col("_cq")).over(wAll))
        .withColumn("_n", last(col("_i")).over(wAll))
        .filter(col("_i") < col("_n"))
      val leftSse = col("_cq") - col("_cs") * col("_cs") / col("_i")
      val rightSse = (col("_Q") - col("_cq")) -
        (col("_S") - col("_cs")) * (col("_S") - col("_cs")) / (col("_n") - col("_i"))
      val gain = (col("_Q") - col("_S") * col("_S") / col("_n")) - (leftSse + rightSse)
      val wr = Window.partitionBy(col("series"))
        .orderBy(round(gain, 4).desc, col("t"))
      cand.withColumn("_rn", row_number().over(wr)).filter(col("_rn") === 1)
        .select(col("series"), col("_n").cast("long").as("n"), col("t").as("cp_t"),
          r4(gain).as("gain"), r4(col("_cs") / col("_i")).as("mean_left"),
          r4((col("_S") - col("_cs")) / (col("_n") - col("_i"))).as("mean_right"))
        .orderBy("series")
    },
    "cusum_changepoint" -> { (s, d) =>
      // CUSUM mean-shift screen per series: S_t = Σ(x−x̄), changepoint =
      // argmax |S_t| (on ROUNDED values, earliest-t tie-break), statistic
      // standardized by s·√n — one series-key shuffle shared by the stats
      // join, the cumsum window, and the argmax window
      val ds = TimeSeries.dailySeries(Tables.events(s, d))
      val stats = ds.groupBy("series").agg(avg(col("x")).as("_m"),
        stddev_samp(col("x")).as("_sd"), count(lit(1)).cast("double").as("_n"))
      val wc = Window.partitionBy(col("series")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = ds.join(stats, "series")
        .withColumn("_s", sum(col("x") - col("_m")).over(wc))
      val wr = Window.partitionBy(col("series"))
        .orderBy(round(abs(col("_s")), 4).desc, col("t"))
      cum.withColumn("_rn", row_number().over(wr)).filter(col("_rn") === 1)
        .select(col("series"), col("_n").cast("long").as("n"),
          col("t").as("cp_t"),
          r4(abs(col("_s")) / (col("_sd") * sqrt(col("_n")))).as("cusum_stat"))
        .orderBy("series")
    },
    "arima_insample" -> { (s, d) =>
      TimeSeries.arimaInsample(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series")
    },
    "arima_pdq_forecast" -> { (s, d) =>
      TimeSeries.arimaForecastHR(TimeSeries.dailySeries(Tables.events(s, d)), h = 5)
        .orderBy("series", "step")
    },
    "hw_fit_mul" -> { (s, d) =>
      TimeSeries.hwFit(TimeSeries.dailySeries(Tables.events(s, d)), 7,
          HwAlphas, HwBetas, HwGammas, multiplicative = true)
        .select(col("series"), round(col("alpha"), 2).as("alpha"),
          round(col("beta"), 2).as("beta"), round(col("gamma"), 2).as("gamma"),
          col("sse"))
        .orderBy("series")
    },
    "arima_predict_insample" -> { (s, d) =>
      TimeSeries.arimaPredictInsample(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series", "t")
    },
    "arima_grid_search" -> { (s, d) =>
      TimeSeries.arimaGridSearch(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series", "ord")
    },
    "arima_loglike" -> { (s, d) =>
      TimeSeries.arimaLoglike(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series")
    },
    "arima_fit_bfgs" -> { (s, d) =>
      // partial hash gate (same shape as hw_fit_opt): replayable lattice
      // winner + the L-BFGS ≥-invariant; continuous optimum spec-gated
      TimeSeries.arimaFitBFGS(TimeSeries.dailySeries(Tables.events(s, d)))
        .select(col("series"), col("phi_lat"), col("theta_lat"),
          col("ll_lattice"), col("opt_ge_lattice"))
        .orderBy("series")
    },
    "arima_fit_ml" -> { (s, d) =>
      TimeSeries.arimaFitML(TimeSeries.dailySeries(Tables.events(s, d)))
        .orderBy("series")
    },
    "arima_ml_forecast" -> { (s, d) =>
      TimeSeries.arimaForecastML(TimeSeries.dailySeries(Tables.events(s, d)), h = 5)
        .orderBy("series", "step")
    },
    "ar_p_forecast" -> { (s, d) =>
      TimeSeries.arForecastP(TimeSeries.dailySeries(Tables.events(s, d)),
          p = 3, h = 5, d = 1)
        .orderBy("series", "step")
    },
    "kalman_1d" -> { (s, d) =>
      TimeSeries.kalman1D(TimeSeries.dailySeries(Tables.events(s, d)), 0.1, 2.0)
        .orderBy("series")
    },
    "kalman_cv" -> { (s, d) =>
      TimeSeries.kalmanCV(TimeSeries.dailySeries(Tables.events(s, d)), 0.05, 0.01, 2.0)
        .orderBy("series")
    },
    "kalman_vec" -> { (s, d) =>
      // vector observations (dim_z = 2): the raw daily sum and its 3-day
      // trailing mean both observe the latent level — the reference's
      // multi-observation KalmanFilter surface (kalman_filter.pyx:77).
      // The trailing mean is an EXPLICIT lag CASE, not a window avg: both
      // engines then evaluate the identical (x + lag1 + lag2)/3 expression
      // tree, which is what lets the recursive-CTE oracle replay the
      // filter bit-exactly (window-avg summation order is engine-internal)
      val daily = TimeSeries.dailySeries(Tables.events(s, d))
      val w = Window.partitionBy(col("series")).orderBy(col("t"))
      val l1 = lag(col("x"), 1).over(w)
      val l2 = lag(col("x"), 2).over(w)
      val trail = when(l2.isNotNull, (col("x") + l1 + l2) / 3.0)
        .when(l1.isNotNull, (col("x") + l1) / 2.0)
        .otherwise(col("x"))
      val withZ = daily.withColumn("z", array(col("x"), trail))
      // state flattened to scalar columns (state_0 = level, state_1 =
      // trend): the driver comparator sorts column values and cannot
      // order an array<double> — r5's red-gate lesson
      TimeSeries.kalmanMatVec(withZ,
          f = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0)),
          h = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)),
          qDiag = Seq(0.05, 0.01), rDiag = Seq(2.0, 4.0))
        .select(col("series"), col("t_last"),
          element_at(col("state"), 1).as("state_0"),
          element_at(col("state"), 2).as("state_1"),
          col("p00"), col("sum_innov2"))
        .orderBy("series")
    },
    "kalman_mat" -> { (s, d) =>
      // 3-state constant-acceleration model through the general (F,H,Q,R)
      // matrix filter — the reference's arbitrary-dim KalmanFilter surface
      TimeSeries.kalmanMat(TimeSeries.dailySeries(Tables.events(s, d)),
          f = Seq(Seq(1.0, 1.0, 0.5), Seq(0.0, 1.0, 1.0), Seq(0.0, 0.0, 1.0)),
          hRow = Seq(1.0, 0.0, 0.0),
          qDiag = Seq(0.02, 0.01, 0.005), r = 2.0)
        .select(col("series"), col("t_last"), col("level"),
          element_at(col("state"), 1).as("state_0"),
          element_at(col("state"), 2).as("state_1"),
          element_at(col("state"), 3).as("state_2"),
          col("p00"), col("sum_innov2"))
        .orderBy("series")
    }
  )

  private val dailySql =
    """SELECT event_type AS series, CAST(ts AS DATE) AS day, sum(value) AS x
      |  FROM events GROUP BY 1, 2""".stripMargin

  /** 3×3 determinant as a SQL expression; entries must be simple
    * identifiers or parenthesized expressions. */
  private def det3Sql(m: Seq[Seq[String]]): String = {
    val Seq(Seq(a, b, c), Seq(d, e, f), Seq(g, h, i)) = m
    s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
  }

  /** 4×4 determinant by cofactor expansion along the first row. */
  private def det4Sql(m: Seq[Seq[String]]): String = {
    def minor(j: Int) = m.tail.map(r => r.zipWithIndex.collect { case (v, c) if c != j => v })
    s"(${m(0)(0)}*${det3Sql(minor(0))} - ${m(0)(1)}*${det3Sql(minor(1))} + " +
      s"${m(0)(2)}*${det3Sql(minor(2))} - ${m(0)(3)}*${det3Sql(minor(3))})"
  }

  /** The AR(3)+intercept normal-equation solve (symmetric 4×4 Gram) by
    * Cramer's rule — the SQL twin of TimeSeries.arFitWide at p=3. Emits a
    * `dtp3` CTE with per-series c0..c3 (NULL on a singular system, like
    * arFitWide's pivot guard). Expects an `m` CTE with columns
    * n, s1..s3, s11..s33 (upper triangle), sy, s1y..s3y. */
  private val cramer4P3Sql: String = {
    val gram = Seq(
      Seq("n", "s1", "s2", "s3"),
      Seq("s1", "s11", "s12", "s13"),
      Seq("s2", "s12", "s22", "s23"),
      Seq("s3", "s13", "s23", "s33"))
    val rhs = Seq("sy", "s1y", "s2y", "s3y")
    def replaced(j: Int) = gram.zipWithIndex.map { case (row, r) => row.updated(j, rhs(r)) }
    val cs = (0 to 3).map(j =>
      s"CASE WHEN det = 0 THEN NULL ELSE ${det4Sql(replaced(j))} / det END AS c$j")
    s"""dm3 AS (SELECT *, ${det4Sql(gram)} AS det FROM m),
       |dtp3 AS (SELECT series, ${cs.mkString(",\n  ")} FROM dm3)""".stripMargin
  }

  /** The 3-unknown Cramer solve used by TimeSeries.cramer3, as SQL CTEs.
    * `src` must expose (series, y, x1, x2). Emits CTEs `m$sfx`, `dm$sfx`
    * and `dt$sfx` with per-series c0/c1/c2, null on an exactly-singular
    * system — mirroring cramer3's det = 0 guard. */
  private def cramer3Sql(src: String, sfx: String = ""): String =
    s"""m$sfx AS (SELECT series, count(*)::DOUBLE n, sum(x1) sx1, sum(x2) sx2,
       |    sum(x1*x1) s11, sum(x1*x2) s12, sum(x2*x2) s22,
       |    sum(y) sy, sum(x1*y) s1y, sum(x2*y) s2y
       |  FROM $src GROUP BY series),
       |dm$sfx AS (SELECT *,
       |    (n*(s11*s22-s12*s12) - sx1*(sx1*s22-s12*sx2) + sx2*(sx1*s12-s11*sx2)) AS det
       |  FROM m$sfx),
       |dt$sfx AS (SELECT series,
       |  CASE WHEN det = 0 THEN NULL ELSE
       |  (sy*(s11*s22-s12*s12) - sx1*(s1y*s22-s12*s2y) + sx2*(s1y*s12-s11*s2y)) / det END AS c0,
       |  CASE WHEN det = 0 THEN NULL ELSE
       |  (n*(s1y*s22-s12*s2y) - sy*(sx1*s22-s12*sx2) + sx2*(sx1*s2y-s1y*sx2)) / det END AS c1,
       |  CASE WHEN det = 0 THEN NULL ELSE
       |  (n*(s11*s2y-s1y*s12) - sx1*(sx1*s2y-s1y*sx2) + sy*(sx1*s12-s11*sx2)) / det END AS c2
       |  FROM dm$sfx)""".stripMargin

  /** The full Hannan–Rissanen CTE chain: s (indexed daily series), e1
    * (rows with dx, l1, prelim residual e and its lag e1) and dt2 (final
    * c0/c1/c2). TimeSeries.arimaHRStage computes the same per series in
    * one in-partition pass — positional lags over the defined differences,
    * sums in t order, cramer3's operand order in every determinant — so
    * its doubles equal this chain's. */
  private def hrSql: String =
    s"""s0 AS ($dailySql),
       |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
       |dxt AS (SELECT series, t, x - lag(x, 1) OVER (PARTITION BY series ORDER BY t) AS dx FROM s),
       |d1 AS (SELECT series, t, dx FROM dxt WHERE dx IS NOT NULL),
       |l AS (SELECT series, t, dx,
       |    lag(dx, 1) OVER (PARTITION BY series ORDER BY t) AS l1,
       |    lag(dx, 2) OVER (PARTITION BY series ORDER BY t) AS l2
       |  FROM d1),
       |fs1 AS (SELECT series, dx AS y, l1 AS x1, l2 AS x2 FROM l
       |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
       |${cramer3Sql("fs1")},
       |e AS (SELECT l.series, l.t, l.dx, l.l1, l.l2,
       |    CASE WHEN l.l1 IS NOT NULL AND l.l2 IS NOT NULL
       |         THEN l.dx - (dt.c0 + dt.c1 * l.l1 + dt.c2 * l.l2) END AS e
       |  FROM l JOIN dt ON l.series = dt.series),
       |e1 AS (SELECT series, t, dx, l1, l2, e,
       |    lag(e, 1) OVER (PARTITION BY series ORDER BY t) AS e1 FROM e),
       |fs2 AS (SELECT series, dx AS y, l1 AS x1, e1 AS x2 FROM e1
       |  WHERE l1 IS NOT NULL AND e1 IS NOT NULL),
       |${cramer3Sql("fs2", "2")}""".stripMargin

  /** The hw_fit lattice-argmin CTE chain (additive or multiplicative
    * channel), ending in `sel` where rk = 1 marks the per-series winner
    * with its final (l, b, seas) state and sse. */
  private def hwFitCtes(mul: Boolean): String = {
    val seasInit =
      if (mul) "list_transform(xs[1:7], v -> v / (list_sum(xs[1:7]) / 7.0))"
      else "list_transform(xs[1:7], v -> v - list_sum(xs[1:7]) / 7.0)"
    val lNew =
      if (mul) "hw.alpha * (n.x / hw.seas[1]) + (1.0 - hw.alpha) * (hw.l + hw.b)"
      else "hw.alpha * (n.x - hw.seas[1]) + (1.0 - hw.alpha) * (hw.l + hw.b)"
    val sNew =
      if (mul) s"hw.gamma * (n.x / ($lNew)) + (1.0 - hw.gamma) * hw.seas[1]"
      else s"hw.gamma * (n.x - ($lNew)) + (1.0 - hw.gamma) * hw.seas[1]"
    val pred = if (mul) "((hw.l + hw.b) * hw.seas[1])" else "(hw.l + hw.b + hw.seas[1])"
    s"""s0 AS ($dailySql),
       |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
       |cand AS (SELECT ca.alpha, cb.beta, cg.gamma FROM
       |  (SELECT alpha::DOUBLE AS alpha FROM (VALUES (0.2),(0.4),(0.6),(0.8)) ta(alpha)) ca,
       |  (SELECT beta::DOUBLE AS beta FROM (VALUES (0.1),(0.3)) tb(beta)) cb,
       |  (SELECT gamma::DOUBLE AS gamma FROM (VALUES (0.1),(0.3),(0.5)) tg(gamma)) cg),
       |ini AS (SELECT series, list(x ORDER BY t) AS xs FROM s WHERE t < 14
       |  GROUP BY series HAVING count(*) = 14),
       |i2 AS (SELECT series,
       |    list_sum(xs[1:7]) / 7.0 AS l0,
       |    (list_sum(xs[8:14]) / 7.0 - list_sum(xs[1:7]) / 7.0) / 7.0 AS b0,
       |    $seasInit AS seas
       |  FROM ini),
       |hw AS (
       |  SELECT i2.series, cand.alpha, cand.beta, cand.gamma, 6::BIGINT AS t,
       |    l0 AS l, b0 AS b, seas, 0.0::DOUBLE AS sse FROM i2, cand
       |  UNION ALL
       |  SELECT hw.series, hw.alpha, hw.beta, hw.gamma, n.t,
       |    $lNew AS l,
       |    hw.beta * (($lNew) - hw.l) + (1.0 - hw.beta) * hw.b AS b,
       |    list_append(hw.seas[2:], $sNew) AS seas,
       |    hw.sse + (n.x - $pred) * (n.x - $pred) AS sse
       |  FROM hw JOIN s n ON n.series = hw.series AND n.t = hw.t + 1),
       |lastr AS (SELECT *, row_number() OVER (PARTITION BY series, alpha, beta, gamma ORDER BY t DESC) AS rn FROM hw),
       |fin AS (SELECT series, alpha, beta, gamma, sse, l, b, seas FROM lastr WHERE rn = 1),
       |sel AS (SELECT *, row_number() OVER (PARTITION BY series ORDER BY sse, alpha, beta, gamma) AS rk FROM fin)""".stripMargin
  }

  /** The arima_fit_ml candidate-grid Kalman chain (shared with the ML
    * forecast oracle): mu0/n0/zt, the (δφ, δθ) candidate cross join, the
    * per-(series, candidate) filter recursion, and `rnk` where rk = 1 is
    * the likelihood argmax carrying (phi, theta, sigma2, loglik, pred). */
  private def mlFitCtes: String =
    s"""mu0 AS (SELECT series, avg(dx) AS mu FROM d1 GROUP BY series),
       |n0 AS (SELECT series, count(*)::DOUBLE AS n FROM d1 GROUP BY series),
       |zt AS (SELECT d1.series, d1.dx - mu0.mu AS z,
       |    (row_number() OVER (PARTITION BY d1.series ORDER BY d1.t) - 1)::BIGINT AS i
       |  FROM d1 JOIN mu0 ON d1.series = mu0.series),
       |par AS (SELECT series, c1 AS phi0, c2 AS theta0 FROM dt2 WHERE abs(c1) < 1.0),
       |cand AS (SELECT dp.d AS dphi, dt.d AS dth FROM
       |  (SELECT d::DOUBLE AS d FROM (VALUES (-0.1),(-0.05),(0.0),(0.05),(0.1)) t1(d)) dp,
       |  (SELECT d::DOUBLE AS d FROM (VALUES (-0.1),(-0.05),(0.0),(0.05),(0.1)) t2(d)) dt),
       |pc AS (SELECT par.series, par.phi0 + cand.dphi AS phi, par.theta0 + cand.dth AS theta
       |  FROM par, cand WHERE abs(par.phi0 + cand.dphi) < 0.99),
       |kf AS (
       |  SELECT pc.series, pc.phi, pc.theta, 0::BIGINT AS i, 0.0::DOUBLE AS pred,
       |    (1.0 + 2.0 * pc.phi * pc.theta + pc.theta * pc.theta) / (1.0 - pc.phi * pc.phi) AS f,
       |    0.0::DOUBLE AS slogf, 0.0::DOUBLE AS sv2f
       |  FROM pc
       |  UNION ALL
       |  SELECT kf.series, kf.phi, kf.theta, kf.i + 1,
       |    kf.phi * z.z + kf.theta * (z.z - kf.pred) / kf.f AS pred,
       |    1.0 + kf.theta * kf.theta * (1.0 - 1.0 / kf.f) AS f,
       |    kf.slogf + ln(kf.f) AS slogf,
       |    kf.sv2f + (z.z - kf.pred) * (z.z - kf.pred) / kf.f AS sv2f
       |  FROM kf JOIN zt z ON z.series = kf.series AND z.i = kf.i),
       |fin AS (SELECT kf.series, phi, theta, slogf, sv2f, pred, n
       |  FROM kf JOIN n0 ON kf.series = n0.series WHERE kf.i = n0.n::BIGINT),
       |llc AS (SELECT series, phi, theta, pred, sv2f / n AS sigma2,
       |    (0.0 - n / 2.0) * (ln(2.0 * pi()) + 1.0 + ln(sv2f / n)) - 0.5 * slogf AS loglik
       |  FROM fin),
       |rnk AS (SELECT *, row_number() OVER (PARTITION BY series ORDER BY loglik DESC, phi, theta) AS rk
       |  FROM llc)""".stripMargin

  /** One KPSS pass as CTEs over `$src` exposing (series, t, v) — mirrors
    * TimeSeries.kpssTest op-for-op. Emits pv$sfx(series, stat, pval). */
  private def kpssSql(src: String, sfx: String): String =
    s"""e$sfx AS (SELECT series, t, v,
       |    (count(*) OVER (PARTITION BY series))::DOUBLE AS n,
       |    v - avg(v) OVER (PARTITION BY series) AS e
       |  FROM $src),
       |e2$sfx AS (SELECT series, t, n, e,
       |    sum(e) OVER (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING) AS s,
       |    ceil(12.0 * pow(n / 100.0, 0.25)) AS lf
       |  FROM e$sfx),
       |base$sfx AS (SELECT series, max(n) AS n, max(lf) AS lf,
       |    sum(e * e) AS s2a, sum(s * s) AS eta
       |  FROM e2$sfx GROUP BY series),
       |s2b$sfx AS (SELECT a.series,
       |    sum((2.0 / a.n) * (1.0 - k::DOUBLE / (a.lf + 1.0)) * (a.e * b.e)) AS s2b
       |  -- 64 = the declared lag cap, mirrored in kpssTest (a lateral
       |  -- generate_series cannot take a.lf as its bound)
       |  FROM e2$sfx a, generate_series(1, 64) AS g(k), e2$sfx b
       |  WHERE k <= a.lf::INT AND b.series = a.series AND b.t = a.t + k
       |  GROUP BY a.series),
       |st$sfx AS (SELECT base$sfx.series,
       |    (eta / (n * n)) / (s2a / n + coalesce(s2b, 0.0)) AS stat
       |  FROM base$sfx LEFT JOIN s2b$sfx USING (series)),
       |pv$sfx AS (SELECT series, stat,
       |    CASE WHEN stat >= 0.739 THEN 0.01
       |         WHEN stat >= 0.574 THEN 0.025 + (0.01 - 0.025) * (stat - 0.574) / (0.739 - 0.574)
       |         WHEN stat >= 0.463 THEN 0.05 + (0.025 - 0.05) * (stat - 0.463) / (0.574 - 0.463)
       |         WHEN stat >= 0.347 THEN 0.10 + (0.05 - 0.10) * (stat - 0.347) / (0.463 - 0.347)
       |         ELSE 0.10 END AS pval
       |  FROM st$sfx)""".stripMargin

  /** Exact-decimal literal: Scala's shortest round-trip Double repr, which
    * DuckDB parses back to the identical IEEE double. */
  private def dl(v: Double): String = v.toString

  /** Left-associated sum mirroring Scala's `.map(...).sum` (reduceLeft). */
  private def sumSql(ts: Seq[String]): String = ts.mkString("(", " + ", ")")

  /** Recursive-CTE replay of TimeSeries.kalmanMat (scalar observation,
    * arbitrary dim_x). Every multiply-add is emitted in the EXACT loop
    * order of the Scala implementation — including zero-coefficient terms
    * and all dim² P entries (the floating-point Joseph-free update is NOT
    * symmetric) — so the replay is bit-identical, not merely algebraically
    * equal. Expects a prior CTE `s(series, t, x)` with consecutive t. */
  private def kalmanMatCte(f: Seq[Seq[Double]], hRow: Seq[Double],
                           qDiag: Seq[Double], r: Double): String = {
    val d = f.size
    val initX = (0 until d).map(i => if (i == 0) "x AS x0" else s"0.0::DOUBLE AS x$i")
    val initP = for { i <- 0 until d; j <- 0 until d }
      yield s"${if (i == j) "1.0" else "0.0"}::DOUBLE AS p$i$j"
    // q1: xp_i = Σ_j f_ij·x_j and fp_ik = Σ_j f_ij·p_jk
    val xp = (0 until d).map(i =>
      sumSql((0 until d).map(j => s"${dl(f(i)(j))}*kf.x$j")) + s" AS xp$i")
    val fp = for { i <- 0 until d; k <- 0 until d }
      yield sumSql((0 until d).map(j => s"${dl(f(i)(j))}*kf.p$j$k")) + s" AS fp$i$k"
    // q2: pp_ij = Σ_k fp_ik·f_jk (+ q_i on the diagonal)
    val pp = for { i <- 0 until d; j <- 0 until d } yield {
      val base = sumSql((0 until d).map(k => s"fp$i$k*${dl(f(j)(k))}"))
      (if (i == j) s"($base + ${dl(qDiag(i))})" else base) + s" AS pp$i$j"
    }
    // q3: hp_j = Σ_k h_k·pp_kj, sden = Σ_k hp_k·h_k + r, iv = z − Σ_k h_k·xp_k
    val hp = (0 until d).map(j =>
      sumSql((0 until d).map(k => s"${dl(hRow(k))}*pp$k$j")) + s" AS hp$j")
    val sden = s"(${sumSql((0 until d).map(k => s"hp$k*${dl(hRow(k))}"))} + ${dl(r)}) AS sden"
    val iv = s"(z - ${sumSql((0 until d).map(k => s"${dl(hRow(k))}*xp$k"))}) AS iv"
    // q4: gains k_i = (Σ_k pp_ik·h_k)/sden
    val ks = (0 until d).map(i =>
      s"${sumSql((0 until d).map(k => s"pp$i$k*${dl(hRow(k))}"))} / sden AS k$i")
    // outer: x_i = xp_i + k_i·iv, p_ij = pp_ij − k_i·hp_j, si += iv²
    val newX = (0 until d).map(i => s"xp$i + k$i*iv AS x$i")
    val newP = for { i <- 0 until d; j <- 0 until d } yield s"pp$i$j - k$i*hp$j AS p$i$j"
    s"""kf AS (
       |  SELECT series, t, ${(initX ++ initP).mkString(", ")}, 0.0::DOUBLE AS si
       |  FROM s WHERE t = 0
       |  UNION ALL
       |  SELECT series, t, ${(newX ++ newP).mkString(", ")}, si + iv*iv AS si
       |  FROM (SELECT q3.*, ${ks.mkString(", ")}
       |    FROM (SELECT q2.*, ${(hp :+ sden :+ iv).mkString(", ")}
       |      FROM (SELECT q1.*, ${pp.mkString(", ")}
       |        FROM (SELECT n.series, n.t, n.x AS z, kf.si, ${(xp ++ fp).mkString(", ")}
       |          FROM kf JOIN s n ON n.series = kf.series AND n.t = kf.t + 1) q1) q2) q3) q4)""".stripMargin
  }

  /** Recursive-CTE replay of TimeSeries.kalmanMatVec for dim_z = 2 — the
    * 2×2 innovation-covariance solve unrolled in the Scala elimination's
    * exact order. No pivot swap is emitted because none ever happens here:
    * |S₁₀| = (H·Pp·Hᵀ)₁₀ < |S₀₀| = (H·Pp·Hᵀ)₀₀ + r₀ whenever r₀ > 0 and
    * Pp is positive-definite, which the q-inflated predict guarantees.
    * Expects a prior CTE `s(series, t, z0, z1)` with consecutive t. */
  private def kalmanVecCte(f: Seq[Seq[Double]], h: Seq[Seq[Double]],
                           qDiag: Seq[Double], rDiag: Seq[Double]): String = {
    val d = f.size
    require(h.size == 2 && rDiag.size == 2, "oracle replay implemented for dim_z = 2")
    val initX = (0 until d).map(i => if (i == 0) "z0 AS x0" else s"0.0::DOUBLE AS x$i")
    val initP = for { i <- 0 until d; j <- 0 until d }
      yield s"${if (i == j) "1.0" else "0.0"}::DOUBLE AS p$i$j"
    val xp = (0 until d).map(i =>
      sumSql((0 until d).map(j => s"${dl(f(i)(j))}*kf.x$j")) + s" AS xp$i")
    val fp = for { i <- 0 until d; k <- 0 until d }
      yield sumSql((0 until d).map(j => s"${dl(f(i)(j))}*kf.p$j$k")) + s" AS fp$i$k"
    val pp = for { i <- 0 until d; j <- 0 until d } yield {
      val base = sumSql((0 until d).map(k => s"fp$i$k*${dl(f(j)(k))}"))
      (if (i == j) s"($base + ${dl(qDiag(i))})" else base) + s" AS pp$i$j"
    }
    // q3: hp_aj = Σ_k h_ak·pp_kj, nu_a = z_a − Σ_k h_ak·xp_k
    val hp = for { a <- 0 until 2; j <- 0 until d }
      yield sumSql((0 until d).map(k => s"${dl(h(a)(k))}*pp$k$j")) + s" AS hp$a$j"
    val nus = (0 until 2).map(a =>
      s"(z$a - ${sumSql((0 until d).map(k => s"${dl(h(a)(k))}*xp$k"))}) AS nu$a")
    // q4: S_ab = Σ_k hp_ak·h_bk (+ r_a diag) and pht_ia = Σ_k pp_ik·h_ak
    val sEnt = for { a <- 0 until 2; b <- 0 until 2 } yield {
      val base = sumSql((0 until d).map(k => s"hp$a$k*${dl(h(b)(k))}"))
      (if (a == b) s"($base + ${dl(rDiag(a))})" else base) + s" AS s$a$b"
    }
    val pht = for { i <- 0 until d; a <- 0 until 2 }
      yield sumSql((0 until d).map(k => s"pp$i$k*${dl(h(a)(k))}")) + s" AS pht$i$a"
    // q5: forward elimination; q6: m11 + updated rhs row 1; q7: back-subst
    // row 1; q8: back-subst row 0 — each stage in the Scala loop's order
    val rhs1 = (0 until d).map(i => s"pht${i}1 - fct*pht${i}0 AS rhs1_$i")
    val kt1 = (0 until d).map(i => s"rhs1_$i/m11 AS kt1_$i")
    val kt0 = (0 until d).map(i => s"(pht${i}0 - s01*kt1_$i)/s00 AS kt0_$i")
    val newX = (0 until d).map(i => s"xp$i + (kt0_$i*nu0 + kt1_$i*nu1) AS x$i")
    val newP = for { i <- 0 until d; j <- 0 until d }
      yield s"pp$i$j - (kt0_$i*hp0$j + kt1_$i*hp1$j) AS p$i$j"
    s"""kf AS (
       |  SELECT series, t, ${(initX ++ initP).mkString(", ")}, 0.0::DOUBLE AS si
       |  FROM s WHERE t = 0
       |  UNION ALL
       |  SELECT series, t, ${(newX ++ newP).mkString(", ")},
       |    si + (nu0*nu0 + nu1*nu1) AS si
       |  FROM (SELECT q7.*, ${kt0.mkString(", ")}
       |    FROM (SELECT q6.*, ${kt1.mkString(", ")}
       |      FROM (SELECT q5.*, s11 - fct*s01 AS m11, ${rhs1.mkString(", ")}
       |        FROM (SELECT q4.*, s10/s00 AS fct
       |          FROM (SELECT q3.*, ${(sEnt ++ pht).mkString(", ")}
       |            FROM (SELECT q2.*, ${(hp ++ nus).mkString(", ")}
       |              FROM (SELECT q1.*, ${pp.mkString(", ")}
       |                FROM (SELECT n.series, n.t, n.z0, n.z1, kf.si, ${(xp ++ fp).mkString(", ")}
       |                  FROM kf JOIN s n ON n.series = kf.series AND n.t = kf.t + 1) q1) q2) q3) q4) q5) q6) q7) q8)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "kalman_mat" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |${kalmanMatCte(
        f = Seq(Seq(1.0, 1.0, 0.5), Seq(0.0, 1.0, 1.0), Seq(0.0, 0.0, 1.0)),
        hRow = Seq(1.0, 0.0, 0.0),
        qDiag = Seq(0.02, 0.01, 0.005), r = 2.0)},
         |last AS (SELECT series, t, x0, x1, x2, p00, si,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM kf)
         |SELECT series, t AS t_last, round(x0, 4) AS level, round(x0, 4) AS state_0,
         |  round(x1, 4) AS state_1, round(x2, 4) AS state_2,
         |  round(p00, 6) AS p00, round(si, 4) AS sum_innov2
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "kalman_vec" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s1 AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |s AS (SELECT series, t, x AS z0,
         |    CASE WHEN lag(x, 2) OVER (PARTITION BY series ORDER BY t) IS NOT NULL
         |         THEN (x + lag(x, 1) OVER (PARTITION BY series ORDER BY t)
         |               + lag(x, 2) OVER (PARTITION BY series ORDER BY t)) / 3.0
         |         WHEN lag(x, 1) OVER (PARTITION BY series ORDER BY t) IS NOT NULL
         |         THEN (x + lag(x, 1) OVER (PARTITION BY series ORDER BY t)) / 2.0
         |         ELSE x END AS z1
         |  FROM s1),
         |${kalmanVecCte(
        f = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0)),
        h = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)),
        qDiag = Seq(0.05, 0.01), rDiag = Seq(2.0, 4.0))},
         |last AS (SELECT series, t, x0, x1, p00, si,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM kf)
         |SELECT series, t AS t_last, round(x0, 4) AS state_0, round(x1, 4) AS state_1,
         |  round(p00, 6) AS p00, round(si, 4) AS sum_innov2
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "acf" -> {
      val lagCols = (1 to 6).map(k =>
        s"    lag(cc, $k) OVER (PARTITION BY series ORDER BY t) AS l$k").mkString(",\n")
      val numAggs = (1 to 6).map(k =>
        s"    sum(CASE WHEN l$k IS NOT NULL THEN cc * l$k ELSE 0.0 END) AS n$k").mkString(",\n")
      val unpivot = (1 to 6).map(k =>
        s"  SELECT series, $k::BIGINT AS lag, round(n$k / ss, 6) AS acf FROM a").mkString("\n  UNION ALL\n")
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |c AS (SELECT series, t, x - avg(x) OVER (PARTITION BY series) AS cc FROM s),
         |l AS (SELECT series, t, cc,
         |$lagCols
         |  FROM c),
         |a AS (SELECT series, sum(cc * cc) AS ss,
         |$numAggs
         |  FROM l GROUP BY series)
         |SELECT * FROM (
         |$unpivot
         |) ORDER BY series, lag""".stripMargin
    },
    "pacf" -> {
      val lagCols = (1 to 3).map(k =>
        s"    lag(cc, $k) OVER (PARTITION BY series ORDER BY t) AS l$k").mkString(",\n")
      val numAggs = (1 to 3).map(k =>
        s"    sum(CASE WHEN l$k IS NOT NULL THEN cc * l$k ELSE 0.0 END) AS n$k").mkString(",\n")
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |c AS (SELECT series, t, x - avg(x) OVER (PARTITION BY series) AS cc FROM s),
         |l AS (SELECT series, t, cc,
         |$lagCols
         |  FROM c),
         |a AS (SELECT series, sum(cc * cc) AS ss,
         |$numAggs
         |  FROM l GROUP BY series),
         |r AS (SELECT series, round(n1 / ss, 6) AS r1, round(n2 / ss, 6) AS r2,
         |    round(n3 / ss, 6) AS r3 FROM a),
         |p AS (SELECT series, r1, r2, r3,
         |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM r),
         |q AS (SELECT series, r1, r2, r3, p22, r1 * (1.0 - p22) AS p21 FROM p)
         |SELECT * FROM (
         |  SELECT series, 1::BIGINT AS lag, round(r1, 6) AS pacf FROM q
         |  UNION ALL
         |  SELECT series, 2::BIGINT, round(p22, 6) FROM q
         |  UNION ALL
         |  SELECT series, 3::BIGINT,
         |    round((r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2), 6) FROM q
         |) ORDER BY series, lag""".stripMargin
    },
    "ccf" -> {
      def shiftSql(k: Int): String =
        if (k >= 0) s"lag(cb, $k) OVER (ORDER BY day)"
        else s"lead(cb, ${-k}) OVER (ORDER BY day)"
      def cname(k: Int): String = if (k < 0) s"bm${-k}" else s"bp$k"
      val lagCols = (-3 to 3).map(k => s"    ${shiftSql(k)} AS ${cname(k)}").mkString(",\n")
      val numAggs = (-3 to 3).map(k =>
        s"    sum(CASE WHEN ${cname(k)} IS NOT NULL THEN ca * ${cname(k)} ELSE 0.0 END) AS n_${cname(k)}").mkString(",\n")
      val unpivot = (-3 to 3).map(k =>
        s"  SELECT 'click~purchase' AS pair, ($k)::BIGINT AS lag, round(n_${cname(k)} / sqrt(ssa * ssb), 6) AS ccf FROM ag").mkString("\n  UNION ALL\n")
      s"""WITH d0 AS ($dailySql),
         |a AS (SELECT day, x AS xa FROM d0 WHERE series = 'click'),
         |b AS (SELECT day, x AS xb FROM d0 WHERE series = 'purchase'),
         |j AS (SELECT a.day AS day, xa, xb FROM a JOIN b ON a.day = b.day),
         |c AS (SELECT day, xa - avg(xa) OVER () AS ca, xb - avg(xb) OVER () AS cb FROM j),
         |l AS (SELECT day, ca, cb,
         |$lagCols
         |  FROM c),
         |ag AS (SELECT sum(ca * ca) AS ssa, sum(cb * cb) AS ssb,
         |$numAggs
         |  FROM l)
         |SELECT * FROM (
         |$unpivot
         |) ORDER BY lag""".stripMargin
    },
    "ljung_box" -> {
      val lagCols = (1 to 6).map(k =>
        s"    lag(cc, $k) OVER (PARTITION BY series ORDER BY t) AS l$k").mkString(",\n")
      val numAggs = (1 to 6).map(k =>
        s"    sum(CASE WHEN l$k IS NOT NULL THEN cc * l$k ELSE 0.0 END) AS n$k").mkString(",\n")
      val rhoTerms = (1 to 6).map(k =>
        s"round(n$k / ss, 6) * round(n$k / ss, 6) / (n - $k)").mkString(" + ")
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |c AS (SELECT series, t, x - avg(x) OVER (PARTITION BY series) AS cc,
         |    count(*) OVER (PARTITION BY series) AS n FROM s),
         |l AS (SELECT series, t, cc, n,
         |$lagCols
         |  FROM c),
         |a AS (SELECT series, max(n)::DOUBLE AS n, sum(cc * cc) AS ss,
         |$numAggs
         |  FROM l GROUP BY series),
         |q AS (SELECT series, n::BIGINT AS n,
         |    round(n * (n + 2) * ($rhoTerms), 4) AS q_stat FROM a)
         |SELECT series, n, q_stat, q_stat > 12.5916 AS reject
         |FROM q ORDER BY series""".stripMargin
    },
    "seasonal_strength" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |ma AS (SELECT series, t, x,
         |    avg(x) OVER (PARTITION BY series ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         |    count(*) OVER (PARTITION BY series ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
         |  FROM s),
         |det AS (SELECT series, t % 7 AS phase, x, x - trend AS det FROM ma WHERE nw = 7),
         |pm AS (SELECT series, phase, avg(det) AS raw FROM det GROUP BY 1, 2),
         |cg AS (SELECT series, phase, raw - avg(raw) OVER (PARTITION BY series) AS seasonal FROM pm)
         |SELECT d.series AS series, count(*)::BIGINT AS n,
         |  round(greatest(0.0, 1.0 - var_samp(d.det - f.seasonal) / var_samp(d.det)), 4) AS seasonal_strength,
         |  round(greatest(0.0, 1.0 - var_samp(d.det - f.seasonal) / var_samp(d.x - f.seasonal)), 4) AS trend_strength
         |FROM det d JOIN cg f ON d.series = f.series AND d.phase = f.phase
         |GROUP BY d.series ORDER BY series""".stripMargin,
    "seasonal_decompose" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |ma AS (SELECT series, t, x,
         |    avg(x) OVER (PARTITION BY series ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         |    count(*) OVER (PARTITION BY series ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
         |  FROM s),
         |det AS (SELECT series, t % 7 AS phase, x - trend AS det FROM ma WHERE nw = 7),
         |pm AS (SELECT series, phase, count(*)::BIGINT AS n, avg(det) AS raw FROM det GROUP BY 1, 2),
         |cg AS (SELECT series, phase, n, raw,
         |    raw - avg(raw) OVER (PARTITION BY series) AS seasonal FROM pm)
         |SELECT d.series AS series, d.phase::BIGINT AS phase, f.n AS n,
         |  round(f.seasonal, 4) AS seasonal,
         |  round(avg(d.det - f.seasonal), 4) AS mean_resid,
         |  round(stddev_samp(d.det - f.seasonal), 4) AS sd_resid
         |FROM det d JOIN cg f ON d.series = f.series AND d.phase = f.phase
         |GROUP BY d.series, d.phase, f.n, f.seasonal
         |ORDER BY series, phase""".stripMargin,
    "outlier_mad" ->
      s"""WITH d0 AS ($dailySql),
         |b AS (SELECT series, day, round(x, 4) AS x4 FROM d0),
         |r1 AS (SELECT series, day, x4,
         |    row_number() OVER (PARTITION BY series ORDER BY x4, day) AS rn,
         |    count(*) OVER (PARTITION BY series) AS n FROM b),
         |med AS (SELECT series, x4 AS med FROM r1 WHERE rn = ceil(n * 0.5)),
         |dv AS (SELECT b.series, b.day, b.x4, med.med,
         |    round(abs(b.x4 - med.med), 4) AS dev
         |  FROM b JOIN med ON b.series = med.series),
         |r2 AS (SELECT series, day, dev,
         |    row_number() OVER (PARTITION BY series ORDER BY dev, day) AS rn,
         |    count(*) OVER (PARTITION BY series) AS n FROM dv),
         |mad AS (SELECT series, dev AS mad FROM r2 WHERE rn = ceil(n * 0.5))
         |SELECT dv.series AS series, count(*)::BIGINT AS n_days,
         |  round(max(dv.med), 4) AS median, round(max(mad.mad), 4) AS mad,
         |  sum(CASE WHEN mad.mad > 0 AND dv.dev > (3.0 * 1.4826) * mad.mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
         |  round(max(dv.dev), 4) AS max_dev
         |FROM dv JOIN mad ON dv.series = mad.series
         |GROUP BY dv.series ORDER BY series""".stripMargin,
    "holt_damped" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |x1 AS (SELECT series, x AS xone FROM s WHERE t = 1),
         |hd AS (
         |  SELECT s.series, s.t, s.x AS l, x1.xone - s.x AS b
         |  FROM s JOIN x1 ON s.series = x1.series WHERE s.t = 0
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    0.3 * n.x + (1.0 - 0.3) * (hd.l + 0.9 * hd.b) AS l,
         |    0.1 * ((0.3 * n.x + (1.0 - 0.3) * (hd.l + 0.9 * hd.b)) - hd.l)
         |      + (1.0 - 0.1) * 0.9 * hd.b AS b
         |  FROM hd JOIN s n ON n.series = hd.series AND n.t = hd.t + 1),
         |last AS (SELECT series, l, b, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM hd)
         |SELECT series, k::BIGINT AS step, round(l, 4) AS level, round(b, 4) AS trend,
         |  round(l + 0.9 * (1.0 - pow(0.9, k)) / (1.0 - 0.9) * b, 4) AS forecast
         |FROM last, unnest([1, 2, 3, 4, 5]) AS u(k)
         |WHERE rn = 1 ORDER BY series, step""".stripMargin,
    "theta_forecast" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |g AS (SELECT series, count(*)::DOUBLE AS n, sum(t::DOUBLE) AS st, sum(x) AS sx,
         |    sum(t::DOUBLE * t::DOUBLE) AS stt, sum(t::DOUBLE * x) AS stx
         |  FROM s GROUP BY series),
         |cf AS (SELECT series,
         |    round((n * stx - st * sx) / (n * stt - st * st), 6) AS b,
         |    round((sx - round((n * stx - st * sx) / (n * stt - st * st), 6) * st) / n, 6) AS a
         |  FROM g),
         |th AS (SELECT s.series, s.t, 2.0 * s.x - (cf.a + cf.b * s.t) AS x
         |  FROM s JOIN cf USING (series)),
         |sm AS (
         |  SELECT series, t, x AS sv FROM th WHERE t = 0
         |  UNION ALL
         |  SELECT n.series, n.t, 0.3 * n.x + (1.0 - 0.3) * sm.sv AS sv
         |  FROM sm JOIN th n ON n.series = sm.series AND n.t = sm.t + 1),
         |last AS (SELECT series, t, sv, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM sm),
         |fin AS (SELECT l.series, l.t AS tl, l.sv, cf.a, cf.b
         |  FROM last l JOIN cf USING (series) WHERE l.rn = 1)
         |SELECT series, k::BIGINT AS step,
         |  round(0.5 * (a + b * (tl + k)) + 0.5 * sv, 4) AS forecast
         |FROM fin, unnest([1, 2, 3, 4, 5]) AS u(k) ORDER BY series, step""".stripMargin,
    "holt_trend" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |x1 AS (SELECT series, x AS xone FROM s WHERE t = 1),
         |ht AS (
         |  SELECT s.series, s.t, s.x AS l, x1.xone - s.x AS b
         |  FROM s JOIN x1 ON s.series = x1.series WHERE s.t = 0
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    0.3 * n.x + (1.0 - 0.3) * (ht.l + ht.b) AS l,
         |    0.1 * ((0.3 * n.x + (1.0 - 0.3) * (ht.l + ht.b)) - ht.l) + (1.0 - 0.1) * ht.b AS b
         |  FROM ht JOIN s n ON n.series = ht.series AND n.t = ht.t + 1),
         |last AS (SELECT series, t, l, b, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM ht)
         |SELECT series, t AS t_last, round(l, 4) AS level, round(b, 4) AS trend,
         |  round(l + b, 4) AS forecast1
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "holtwinters_seasonal" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |ini AS (SELECT series, list(x ORDER BY t) AS xs FROM s WHERE t < 14
         |  GROUP BY series HAVING count(*) = 14),
         |i2 AS (SELECT series,
         |    list_sum(xs[1:7]) / 7.0 AS l0,
         |    (list_sum(xs[8:14]) / 7.0 - list_sum(xs[1:7]) / 7.0) / 7.0 AS b0,
         |    list_transform(xs[1:7], v -> v - list_sum(xs[1:7]) / 7.0) AS seas
         |  FROM ini),
         |hw AS (
         |  SELECT series, 6::BIGINT AS t, l0 AS l, b0 AS b, seas FROM i2
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b) AS l,
         |    0.1 * ((0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b)) - hw.l) + (1.0 - 0.1) * hw.b AS b,
         |    list_append(hw.seas[2:],
         |      0.2 * (n.x - (0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b))) + (1.0 - 0.2) * hw.seas[1]) AS seas
         |  FROM hw JOIN s n ON n.series = hw.series AND n.t = hw.t + 1),
         |last AS (SELECT series, t, l, b, l + b + seas[1] AS f,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM hw)
         |SELECT series, t AS t_last, round(l, 4) AS level, round(b, 4) AS trend,
         |  round(f, 4) AS forecast1
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "holtwinters_mul" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |ini AS (SELECT series, list(x ORDER BY t) AS xs FROM s WHERE t < 14
         |  GROUP BY series HAVING count(*) = 14),
         |i2 AS (SELECT series,
         |    list_sum(xs[1:7]) / 7.0 AS l0,
         |    (list_sum(xs[8:14]) / 7.0 - list_sum(xs[1:7]) / 7.0) / 7.0 AS b0,
         |    list_transform(xs[1:7], v -> v / (list_sum(xs[1:7]) / 7.0)) AS seas
         |  FROM ini),
         |hw AS (
         |  SELECT series, 6::BIGINT AS t, l0 AS l, b0 AS b, seas FROM i2
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    0.3 * (n.x / hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b) AS l,
         |    0.1 * ((0.3 * (n.x / hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b)) - hw.l) + (1.0 - 0.1) * hw.b AS b,
         |    list_append(hw.seas[2:],
         |      0.2 * (n.x / (0.3 * (n.x / hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b))) + (1.0 - 0.2) * hw.seas[1]) AS seas
         |  FROM hw JOIN s n ON n.series = hw.series AND n.t = hw.t + 1),
         |last AS (SELECT series, t, l, b, (l + b) * seas[1] AS f,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM hw)
         |SELECT series, t AS t_last, round(l, 4) AS level, round(b, 4) AS trend,
         |  round(f, 4) AS forecast1
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "kalman_cv" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |kf AS (
         |  SELECT series, t, x AS x0, 0.0::DOUBLE AS x1, 1.0::DOUBLE AS p00,
         |    0.0::DOUBLE AS p01, 1.0::DOUBLE AS p11, 0.0::DOUBLE AS si
         |  FROM s WHERE t = 0
         |  UNION ALL
         |  SELECT series, t,
         |    x0p + k0 * iv AS x0,
         |    x1 + k1 * iv AS x1,
         |    (1.0 - k0) * p00p AS p00,
         |    (1.0 - k0) * p01p AS p01,
         |    p11p - k1 * p01p AS p11,
         |    si + iv * iv AS si
         |  FROM (
         |    SELECT q1.*, p00p / (p00p + 2.0) AS k0, p01p / (p00p + 2.0) AS k1,
         |      x - x0p AS iv
         |    FROM (
         |      SELECT kf.series, n.t, n.x, kf.x1, kf.si,
         |        kf.x0 + kf.x1 AS x0p,
         |        kf.p00 + kf.p01 + kf.p01 + kf.p11 + 0.05 AS p00p,
         |        kf.p01 + kf.p11 AS p01p,
         |        kf.p11 + 0.01 AS p11p
         |      FROM kf JOIN s n ON n.series = kf.series AND n.t = kf.t + 1) q1) q2),
         |last AS (SELECT series, t, x0, x1, p00, si,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM kf)
         |SELECT series, t AS t_last, round(x0, 4) AS level, round(x1, 4) AS trend,
         |  round(p00, 6) AS p00, round(si, 4) AS sum_innov2
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "kalman_1d" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |kf AS (
         |  SELECT series, t, x AS st, 1.0::DOUBLE AS p, 0.0::DOUBLE AS si FROM s WHERE t = 0
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    kf.st + ((kf.p + 0.1) / ((kf.p + 0.1) + 2.0)) * (n.x - kf.st) AS st,
         |    (kf.p + 0.1) * (1.0 - ((kf.p + 0.1) / ((kf.p + 0.1) + 2.0))) AS p,
         |    kf.si + (n.x - kf.st) * (n.x - kf.st) AS si
         |  FROM kf JOIN s n ON n.series = kf.series AND n.t = kf.t + 1),
         |last AS (SELECT series, t, st, p, si,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM kf)
         |SELECT series, t AS t_last, round(st, 4) AS state, round(p, 6) AS p_cov,
         |  round(si, 4) AS sum_innov2
         |FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "holtwinters" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |sm AS (
         |  SELECT series, t, x AS sv FROM s WHERE t = 0
         |  UNION ALL
         |  SELECT n.series, n.t, 0.3 * n.x + (1.0 - 0.3) * sm.sv AS sv
         |  FROM sm JOIN s n ON n.series = sm.series AND n.t = sm.t + 1),
         |last AS (SELECT series, t, sv, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM sm)
         |SELECT series, t AS t_last, round(sv, 4) AS s_last FROM last WHERE rn = 1 ORDER BY series""".stripMargin,
    "arima" ->
      s"""WITH s AS ($dailySql),
         |l AS (SELECT series, x AS y,
         |    lag(x, 1) OVER (PARTITION BY series ORDER BY day) AS x1,
         |    lag(x, 2) OVER (PARTITION BY series ORDER BY day) AS x2
         |  FROM s),
         |f AS (SELECT * FROM l WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
         |${cramer3Sql("f")}
         |SELECT series, term, coef FROM (
         |  SELECT series, 'intercept' AS term, round(c0, 4) AS coef FROM dt
         |  UNION ALL SELECT series, 'ar1', round(c1, 4) FROM dt
         |  UNION ALL SELECT series, 'ar2', round(c2, 4) FROM dt
         |) ORDER BY series, term""".stripMargin,
    "arima_pdq" ->
      s"""WITH $hrSql
         |SELECT series, term, coef FROM (
         |  SELECT series, 'intercept' AS term, round(c0, 4) AS coef FROM dt2
         |  UNION ALL SELECT series, 'ar1', round(c1, 4) FROM dt2
         |  UNION ALL SELECT series, 'ma1', round(c2, 4) FROM dt2
         |) ORDER BY series, term""".stripMargin,
    "arima_insample" ->
      s"""WITH $hrSql,
         |rows0 AS (SELECT e1.series, e1.dx, e1.l1, e1.e1, dt2.c0, dt2.c1, dt2.c2
         |  FROM e1 JOIN dt2 ON e1.series = dt2.series
         |  WHERE e1.l1 IS NOT NULL AND e1.e1 IS NOT NULL),
         |r2 AS (SELECT series, dx - (c0 + c1 * l1 + c2 * e1) AS resid FROM rows0),
         |ag AS (SELECT series, count(*)::DOUBLE AS n, sum(resid * resid) AS sse FROM r2 GROUP BY series),
         |ll AS (SELECT series, n, sse,
         |    (0.0 - n / 2.0) * (ln(2.0 * pi() * sse / n) + 1.0) AS loglik FROM ag)
         |SELECT series, n::BIGINT AS n, round(sse, 4) AS sse, round(loglik, 4) AS loglik,
         |  round(-2.0 * loglik + 6.0, 4) AS aic,
         |  round(-2.0 * loglik + 3.0 * ln(n), 4) AS bic
         |FROM ll ORDER BY series""".stripMargin,
    "arima_pdq_forecast" ->
      s"""WITH $hrSql,
         |lastE AS (SELECT series, dx AS dxT, e AS eT FROM (
         |    SELECT series, dx, e, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn
         |    FROM e1 WHERE e IS NOT NULL) q WHERE rn = 1),
         |lastX AS (SELECT series, x AS xT FROM (
         |    SELECT series, x, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn
         |    FROM s) q WHERE rn = 1),
         |j AS (SELECT dt2.series, c0, c1, c2, dxT, eT, xT
         |  FROM dt2 JOIN lastE ON dt2.series = lastE.series
         |  JOIN lastX ON dt2.series = lastX.series),
         |g1 AS (SELECT *, c0 + c1 * dxT + c2 * eT AS fd1 FROM j),
         |x1c AS (SELECT *, xT + fd1 AS xc1 FROM g1),
         |g2 AS (SELECT *, c0 + c1 * fd1 AS fd2 FROM x1c),
         |x2c AS (SELECT *, xc1 + fd2 AS xc2 FROM g2),
         |g3 AS (SELECT *, c0 + c1 * fd2 AS fd3 FROM x2c),
         |x3c AS (SELECT *, xc2 + fd3 AS xc3 FROM g3),
         |g4 AS (SELECT *, c0 + c1 * fd3 AS fd4 FROM x3c),
         |x4c AS (SELECT *, xc3 + fd4 AS xc4 FROM g4),
         |g5 AS (SELECT *, c0 + c1 * fd4 AS fd5 FROM x4c),
         |fin AS (SELECT *, xc4 + fd5 AS xc5 FROM g5)
         |SELECT series, step, forecast FROM (
         |  SELECT series, 1::BIGINT AS step, round(xc1, 4) AS forecast FROM fin
         |  UNION ALL SELECT series, 2::BIGINT, round(xc2, 4) FROM fin
         |  UNION ALL SELECT series, 3::BIGINT, round(xc3, 4) FROM fin
         |  UNION ALL SELECT series, 4::BIGINT, round(xc4, 4) FROM fin
         |  UNION ALL SELECT series, 5::BIGINT, round(xc5, 4) FROM fin
         |) ORDER BY series, step""".stripMargin,
    "forecast_accuracy" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |sm AS (
         |  SELECT series, t, x, x AS sv FROM s WHERE t = 0
         |  UNION ALL
         |  SELECT n.series, n.t, n.x, 0.3 * n.x + (1.0 - 0.3) * sm.sv AS sv
         |  FROM sm JOIN s n ON n.series = sm.series AND n.t = sm.t + 1),
         |l AS (SELECT series, t, x,
         |    lag(sv, 1) OVER (PARTITION BY series ORDER BY t) AS sp,
         |    lag(x, 1) OVER (PARTITION BY series ORDER BY t) AS xp
         |  FROM sm),
         |f AS (SELECT series, count(*)::BIGINT AS n,
         |    avg(abs(x - sp)) AS mae, sqrt(avg((x - sp) * (x - sp))) AS rmse,
         |    avg(abs(x - xp)) AS maen
         |  FROM l WHERE sp IS NOT NULL GROUP BY series)
         |SELECT series, n, round(mae, 4) AS mae, round(rmse, 4) AS rmse,
         |  round(mae / NULLIF(maen, 0), 4) AS mase,
         |  round(mae / NULLIF(maen, 0), 4) < 1.0 AS beats_naive
         |FROM f ORDER BY series""".stripMargin,
    "granger_causality" -> {
      val det = det3Sql(Seq(Seq("n", "sa", "sb"), Seq("sa", "saa", "sab"),
        Seq("sb", "sab", "sbb")))
      val d0 = det3Sql(Seq(Seq("sy", "sa", "sb"), Seq("say", "saa", "sab"),
        Seq("sby", "sab", "sbb")))
      val d1 = det3Sql(Seq(Seq("n", "sy", "sb"), Seq("sa", "say", "sab"),
        Seq("sb", "sby", "sbb")))
      val d2 = det3Sql(Seq(Seq("n", "sa", "sy"), Seq("sa", "saa", "say"),
        Seq("sb", "sab", "sby")))
      def dir(tag: String, cause: String, effect: String): String =
        s"""e$tag AS (SELECT day, x AS ye FROM s0 WHERE series = '$effect'),
           |c$tag AS (SELECT day, x AS xc FROM s0 WHERE series = '$cause'),
           |j$tag AS (SELECT e$tag.day, ye, xc FROM e$tag JOIN c$tag ON e$tag.day = c$tag.day),
           |l$tag AS (SELECT day, ye,
           |    lag(ye, 1) OVER (ORDER BY day) AS la,
           |    lag(xc, 1) OVER (ORDER BY day) AS lb FROM j$tag),
           |f$tag AS (SELECT * FROM l$tag WHERE la IS NOT NULL),
           |g$tag AS (SELECT count(*)::DOUBLE AS n, sum(la) AS sa, sum(lb) AS sb,
           |    sum(ye) AS sy, sum(la * la) AS saa, sum(la * lb) AS sab,
           |    sum(lb * lb) AS sbb, sum(la * ye) AS say, sum(lb * ye) AS sby,
           |    sum(ye * ye) AS syy FROM f$tag),
           |r$tag AS (SELECT n,
           |    syy - (($d0) / ($det) * sy + ($d1) / ($det) * say + ($d2) / ($det) * sby) AS ssef,
           |    syy - ((sy / n - (say - sa * sy / n) / (saa - sa * sa / n) * (sa / n)) * sy
           |      + (say - sa * sy / n) / (saa - sa * sa / n) * say) AS sser
           |  FROM g$tag),
           |o$tag AS (SELECT '$cause' AS cause, '$effect' AS effect, n::BIGINT AS n,
           |    round((sser - ssef) / (ssef / (n - 3.0)), 4) AS f_stat,
           |    round((sser - ssef) / (ssef / (n - 3.0)), 4) > 3.841 AS reject
           |  FROM r$tag)""".stripMargin
      s"""WITH s0 AS ($dailySql),
         |${dir("1", "view", "click")},
         |${dir("2", "click", "view")}
         |SELECT * FROM o1 UNION ALL SELECT * FROM o2 ORDER BY cause""".stripMargin
    },
    "ewma_chart" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |sm AS (
         |  SELECT series, t, x, x AS sv FROM s WHERE t = 0
         |  UNION ALL
         |  SELECT n.series, n.t, n.x, 0.2 * n.x + (1.0 - 0.2) * sm.sv AS sv
         |  FROM sm JOIN s n ON n.series = sm.series AND n.t = sm.t + 1),
         |st AS (SELECT series, avg(x) AS mu, stddev_samp(x) AS sd, count(*)::BIGINT AS n
         |  FROM s GROUP BY series),
         |e AS (SELECT sm.series, sm.t, st.n,
         |    round(abs(sm.sv - st.mu) -
         |      3.0 * st.sd * sqrt(0.2 / 1.8 * (1.0 - power(0.8, sm.t * 2))), 4) AS exc
         |  FROM sm JOIN st ON sm.series = st.series),
         |f AS (SELECT series, max(n) AS n,
         |    sum(CASE WHEN t >= 1 AND exc > 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_alarms,
         |    coalesce(min(CASE WHEN t >= 1 AND exc > 0.0 THEN t END), -1)::BIGINT AS first_alarm,
         |    round(max(CASE WHEN t >= 1 THEN exc END), 4) AS max_excess
         |  FROM e GROUP BY series)
         |SELECT series, n, n_alarms, first_alarm, max_excess FROM f ORDER BY series""".stripMargin,
    "page_hinkley" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |st AS (SELECT series, stddev_samp(x) AS sd, count(*)::BIGINT AS n FROM s GROUP BY series),
         |c AS (SELECT s.series, s.t, st.n, st.sd, s.x,
         |    avg(s.x) OVER (PARTITION BY s.series ORDER BY s.t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
         |  FROM s JOIN st ON s.series = st.series),
         |m AS (SELECT series, t, n, sd,
         |    sum(x - cm - 0.1 * sd) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv
         |  FROM c),
         |p AS (SELECT series, t, n, sd, mv,
         |    mv - min(mv) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
         |  FROM m),
         |e AS (SELECT series, t, n, ph, round(ph - 2.0 * sd, 4) AS exc FROM p),
         |f AS (SELECT series, max(n) AS n,
         |    sum(CASE WHEN exc > 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_alarms,
         |    coalesce(min(CASE WHEN exc > 0.0 THEN t END), -1)::BIGINT AS first_alarm,
         |    round(max(ph), 4) AS max_ph
         |  FROM e GROUP BY series)
         |SELECT series, n, n_alarms, first_alarm, max_ph FROM f ORDER BY series""".stripMargin,
    "binseg_changepoint" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |c AS (SELECT series, t,
         |    sum(x) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         |    sum(x * x) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq,
         |    (t + 1)::DOUBLE AS i
         |  FROM s),
         |ct AS (SELECT series, t, cs, cq, i,
         |    last_value(cs) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS sx,
         |    last_value(cq) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS qx,
         |    last_value(i) OVER (PARTITION BY series ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
         |  FROM c),
         |g AS (SELECT series, t, n, cs, i, sx,
         |    (qx - sx * sx / n) - ((cq - cs * cs / i) +
         |      ((qx - cq) - (sx - cs) * (sx - cs) / (n - i))) AS gain
         |  FROM ct WHERE i < n),
         |r AS (SELECT series, t, n, gain, cs, i, sx,
         |    row_number() OVER (PARTITION BY series ORDER BY round(gain, 4) DESC, t) AS rn
         |  FROM g)
         |SELECT series, n::BIGINT AS n, t AS cp_t, round(gain, 4) AS gain,
         |  round(cs / i, 4) AS mean_left, round((sx - cs) / (n - i), 4) AS mean_right
         |FROM r WHERE rn = 1 ORDER BY series""".stripMargin,
    "cusum_changepoint" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |st AS (SELECT series, avg(x) AS m, stddev_samp(x) AS sd, count(*)::DOUBLE AS n
         |  FROM s GROUP BY series),
         |c AS (SELECT s.series, s.t, st.sd, st.n,
         |    sum(s.x - st.m) OVER (PARTITION BY s.series ORDER BY s.t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |  FROM s JOIN st USING (series)),
         |r AS (SELECT series, t, sd, n, cs, row_number()
         |    OVER (PARTITION BY series ORDER BY round(abs(cs), 4) DESC, t) AS rn
         |  FROM c)
         |SELECT series, n::BIGINT AS n, t AS cp_t,
         |  round(abs(cs) / (sd * sqrt(n)), 4) AS cusum_stat
         |FROM r WHERE rn = 1 ORDER BY series""".stripMargin,
    "stationarity_kpss" ->
      s"""WITH s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |vx AS (SELECT series, t, x AS v FROM s),
         |dxs AS (SELECT series, t, x - lag(x, 1) OVER (PARTITION BY series ORDER BY t) AS v FROM s),
         |vdx AS (SELECT series, t, v FROM dxs WHERE v IS NOT NULL),
         |${kpssSql("vx", "0")},
         |${kpssSql("vdx", "1")}
         |SELECT pv0.series, round(pv0.stat, 6) AS kpss_x, round(pv0.pval, 4) AS pval_x,
         |  round(pv1.stat, 6) AS kpss_dx, round(pv1.pval, 4) AS pval_dx,
         |  (CASE WHEN pv0.pval > 0.05 THEN 0 WHEN pv1.pval > 0.05 THEN 1 ELSE -1 END)::BIGINT AS d
         |FROM pv0 JOIN pv1 ON pv0.series = pv1.series ORDER BY pv0.series""".stripMargin,
    "arima_fit_ml" ->
      s"""WITH RECURSIVE $hrSql,
         |$mlFitCtes
         |SELECT series, round(phi, 4) AS phi, round(theta, 4) AS theta,
         |  round(sigma2, 4) AS sigma2, round(loglik, 4) AS loglik
         |FROM rnk WHERE rk = 1 ORDER BY series""".stripMargin,
    // AR(3)+intercept on first differences, solved by Cramer over the
    // 4×4 Gram (det4 cofactor expansion — generated by cramer4P3Sql);
    // 5 chained forecast steps integrated back from x_T. The Spark side
    // solves the same normal equations by pivoted Gaussian elimination —
    // a different FP path, but Gram conditioning keeps the coefficient
    // divergence ~1e-10, far under the 4-decimal output grid.
    "ar_p_forecast" ->
      s"""WITH d0 AS ($dailySql),
         |s AS (SELECT series, x,
         |    (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM d0),
         |dxt AS (SELECT series, t, x - lag(x) OVER (PARTITION BY series ORDER BY t) AS v FROM s),
         |dx AS (SELECT series, t, v FROM dxt WHERE v IS NOT NULL),
         |lg AS (SELECT series, t, v,
         |    lag(v, 1) OVER (PARTITION BY series ORDER BY t) AS l1,
         |    lag(v, 2) OVER (PARTITION BY series ORDER BY t) AS l2,
         |    lag(v, 3) OVER (PARTITION BY series ORDER BY t) AS l3
         |  FROM dx),
         |m AS (SELECT series, count(*)::DOUBLE AS n,
         |    sum(l1) AS s1, sum(l2) AS s2, sum(l3) AS s3,
         |    sum(l1*l1) AS s11, sum(l1*l2) AS s12, sum(l1*l3) AS s13,
         |    sum(l2*l2) AS s22, sum(l2*l3) AS s23, sum(l3*l3) AS s33,
         |    sum(v) AS sy, sum(l1*v) AS s1y, sum(l2*v) AS s2y, sum(l3*v) AS s3y
         |  FROM lg WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
         |  GROUP BY series),
         |$cramer4P3Sql,
         |l3p AS (SELECT series,
         |    max(CASE WHEN rn = 1 THEN v END) AS xl0,
         |    max(CASE WHEN rn = 2 THEN v END) AS xl1,
         |    max(CASE WHEN rn = 3 THEN v END) AS xl2
         |  FROM (SELECT series, v,
         |      row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM dx) q
         |  WHERE rn <= 3 GROUP BY series HAVING count(*) >= 3),
         |lastX AS (SELECT series, x AS xT FROM (
         |    SELECT series, x, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn
         |    FROM s) q WHERE rn = 1),
         |j AS (SELECT dtp3.series, c0, c1, c2, c3, xl0, xl1, xl2, xT
         |  FROM dtp3 JOIN l3p ON dtp3.series = l3p.series
         |  JOIN lastX ON dtp3.series = lastX.series),
         |f1 AS (SELECT *, c0 + c1*xl0 + c2*xl1 + c3*xl2 AS g1 FROM j),
         |f2 AS (SELECT *, c0 + c1*g1 + c2*xl0 + c3*xl1 AS g2 FROM f1),
         |f3 AS (SELECT *, c0 + c1*g2 + c2*g1 + c3*xl0 AS g3 FROM f2),
         |f4 AS (SELECT *, c0 + c1*g3 + c2*g2 + c3*g1 AS g4 FROM f3),
         |f5 AS (SELECT *, c0 + c1*g4 + c2*g3 + c3*g2 AS g5 FROM f4),
         |i1 AS (SELECT *, xT + g1 AS y1 FROM f5),
         |i2 AS (SELECT *, y1 + g2 AS y2 FROM i1),
         |i3 AS (SELECT *, y2 + g3 AS y3 FROM i2),
         |i4 AS (SELECT *, y3 + g4 AS y4 FROM i3),
         |i5 AS (SELECT *, y4 + g5 AS y5 FROM i4)
         |SELECT series, step, forecast FROM (
         |  SELECT series, 1::BIGINT AS step, round(y1, 4) AS forecast FROM i5
         |  UNION ALL SELECT series, 2::BIGINT, round(y2, 4) FROM i5
         |  UNION ALL SELECT series, 3::BIGINT, round(y3, 4) FROM i5
         |  UNION ALL SELECT series, 4::BIGINT, round(y4, 4) FROM i5
         |  UNION ALL SELECT series, 5::BIGINT, round(y5, 4) FROM i5
         |) ORDER BY series, step""".stripMargin,
    // partial hash gate for the batched-L-BFGS fit (same design as
    // hw_fit_opt's): lattice winner replays via the arima_fit_ml CTEs,
    // the ≥-invariant as literal TRUE
    "arima_fit_bfgs" ->
      s"""WITH RECURSIVE $hrSql,
         |$mlFitCtes
         |SELECT series, round(phi, 4) AS phi_lat, round(theta, 4) AS theta_lat,
         |  round(loglik, 4) AS ll_lattice, TRUE AS opt_ge_lattice
         |FROM rnk WHERE rk = 1 ORDER BY series""".stripMargin,
    "arima_ml_forecast" ->
      s"""WITH RECURSIVE $hrSql,
         |$mlFitCtes,
         |win AS (SELECT series, phi, pred FROM rnk WHERE rk = 1),
         |lastX AS (SELECT series, x AS xT FROM (
         |    SELECT series, x, row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn
         |    FROM s) q WHERE rn = 1),
         |j AS (SELECT win.series, phi, pred, mu, xT
         |  FROM win JOIN mu0 ON win.series = mu0.series
         |  JOIN lastX ON win.series = lastX.series),
         |c1 AS (SELECT *, xT + (mu + pred) AS xc1, phi * pred AS dz2 FROM j),
         |c2 AS (SELECT *, xc1 + (mu + dz2) AS xc2, phi * dz2 AS dz3 FROM c1),
         |c3 AS (SELECT *, xc2 + (mu + dz3) AS xc3, phi * dz3 AS dz4 FROM c2),
         |c4 AS (SELECT *, xc3 + (mu + dz4) AS xc4, phi * dz4 AS dz5 FROM c3),
         |c5 AS (SELECT *, xc4 + (mu + dz5) AS xc5 FROM c4)
         |SELECT series, step, forecast FROM (
         |  SELECT series, 1::BIGINT AS step, round(xc1, 4) AS forecast FROM c5
         |  UNION ALL SELECT series, 2::BIGINT, round(xc2, 4) FROM c5
         |  UNION ALL SELECT series, 3::BIGINT, round(xc3, 4) FROM c5
         |  UNION ALL SELECT series, 4::BIGINT, round(xc4, 4) FROM c5
         |  UNION ALL SELECT series, 5::BIGINT, round(xc5, 4) FROM c5
         |) ORDER BY series, step""".stripMargin,
    "hw_fit" ->
      s"""WITH RECURSIVE ${hwFitCtes(mul = false)}
         |SELECT series, round(alpha, 2) AS alpha, round(beta, 2) AS beta,
         |  round(gamma, 2) AS gamma, round(sse, 4) AS sse
         |FROM sel WHERE rk = 1 ORDER BY series""".stripMargin,
    // partial hash gate for the continuous refinement: the lattice winner
    // replays exactly (same CTEs as hw_fit); the optimizer's never-lose-
    // to-lattice invariant replays as literal TRUE — if L-BFGS ever
    // regressed below its seed, the Spark side would emit false and the
    // hash would break. The continuous optimum itself is spec-gated.
    "hw_fit_opt" ->
      s"""WITH RECURSIVE ${hwFitCtes(mul = false)}
         |SELECT series, round(alpha, 2) AS alpha_lat, round(beta, 2) AS beta_lat,
         |  round(gamma, 2) AS gamma_lat, round(sse, 4) AS sse_lattice,
         |  TRUE AS opt_leq_lattice
         |FROM sel WHERE rk = 1 ORDER BY series""".stripMargin,
    "arima_predict_insample" ->
      s"""WITH $hrSql
         |SELECT e1.series, e1.t,
         |  round(dt2.c0 + dt2.c1 * e1.l1 + dt2.c2 * e1.e1, 4) AS pred
         |FROM e1 JOIN dt2 ON e1.series = dt2.series
         |WHERE e1.l1 IS NOT NULL AND e1.e1 IS NOT NULL
         |ORDER BY e1.series, e1.t""".stripMargin,
    "arima_grid_search" ->
      s"""WITH $hrSql,
         |common AS (SELECT series, dx, l1, l2, e1 FROM e1
         |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND e1 IS NOT NULL),
         |p010 AS (SELECT series, count(*)::DOUBLE AS n, sum(dx) AS sdx,
         |    sum(dx*dx) AS s2dx FROM common GROUP BY series),
         |a010 AS (SELECT series, n, '010' AS ord, 1.0 AS k,
         |    s2dx - sdx * sdx / n AS sse FROM p010),
         |p110 AS (SELECT series, count(*)::DOUBLE AS n, sum(l1) AS sx, sum(dx) AS sy,
         |    sum(l1*l1) AS sxx, sum(l1*dx) AS sxy FROM common GROUP BY series),
         |f110 AS (SELECT series, n, n * sxx - sx * sx AS det, sx, sy, sxy FROM p110),
         |g110 AS (SELECT series, n, sx, sy,
         |    CASE WHEN det = 0 THEN NULL ELSE (n * sxy - sx * sy) / det END AS b
         |  FROM f110),
         |h110 AS (SELECT series, b, (sy - b * sx) / n AS a FROM g110),
         |a110 AS (SELECT c.series, count(*)::DOUBLE AS n, '110' AS ord, 2.0 AS k,
         |    sum((c.dx - (h.a + h.b * c.l1)) * (c.dx - (h.a + h.b * c.l1))) AS sse
         |  FROM common c JOIN h110 h ON c.series = h.series GROUP BY c.series),
         |src210 AS (SELECT series, dx AS y, l1 AS x1, l2 AS x2 FROM common),
         |${cramer3Sql("src210", "_210")},
         |a210 AS (SELECT c.series, count(*)::DOUBLE AS n, '210' AS ord, 3.0 AS k,
         |    sum((c.dx - (d.c0 + d.c1 * c.l1 + d.c2 * c.l2)) *
         |        (c.dx - (d.c0 + d.c1 * c.l1 + d.c2 * c.l2))) AS sse
         |  FROM common c JOIN dt_210 d ON c.series = d.series GROUP BY c.series),
         |src111 AS (SELECT series, dx AS y, l1 AS x1, e1 AS x2 FROM common),
         |${cramer3Sql("src111", "_111")},
         |a111 AS (SELECT c.series, count(*)::DOUBLE AS n, '111' AS ord, 3.0 AS k,
         |    sum((c.dx - (d.c0 + d.c1 * c.l1 + d.c2 * c.e1)) *
         |        (c.dx - (d.c0 + d.c1 * c.l1 + d.c2 * c.e1))) AS sse
         |  FROM common c JOIN dt_111 d ON c.series = d.series GROUP BY c.series),
         |uall AS (SELECT * FROM a010 UNION ALL SELECT * FROM a110
         |  UNION ALL SELECT * FROM a210 UNION ALL SELECT * FROM a111),
         |scored AS (SELECT series, ord, n, k, sse,
         |    -2.0 * ((0.0 - n / 2.0) * (ln(2.0 * pi() * sse / n) + 1.0)) + k * ln(n) AS bic
         |  FROM uall),
         |rnk AS (SELECT *, row_number() OVER (PARTITION BY series ORDER BY bic ASC, ord) AS rk
         |  FROM scored)
         |SELECT series, ord, round(bic, 4) AS bic,
         |  (CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS chosen
         |FROM rnk ORDER BY series, ord""".stripMargin,
    "arima_loglike" ->
      s"""WITH RECURSIVE $hrSql,
         |mu0 AS (SELECT series, avg(dx) AS mu FROM d1 GROUP BY series),
         |n0 AS (SELECT series, count(*)::DOUBLE AS n FROM d1 GROUP BY series),
         |zt AS (SELECT d1.series, d1.dx - mu0.mu AS z,
         |    (row_number() OVER (PARTITION BY d1.series ORDER BY d1.t) - 1)::BIGINT AS i
         |  FROM d1 JOIN mu0 ON d1.series = mu0.series),
         |par AS (SELECT series, c1 AS phi, c2 AS theta FROM dt2 WHERE abs(c1) < 1.0),
         |kf AS (
         |  SELECT par.series, par.phi, par.theta, 0::BIGINT AS i, 0.0::DOUBLE AS pred,
         |    (1.0 + 2.0 * par.phi * par.theta + par.theta * par.theta) / (1.0 - par.phi * par.phi) AS f,
         |    0.0::DOUBLE AS slogf, 0.0::DOUBLE AS sv2f
         |  FROM par
         |  UNION ALL
         |  SELECT kf.series, kf.phi, kf.theta, kf.i + 1,
         |    kf.phi * z.z + kf.theta * (z.z - kf.pred) / kf.f AS pred,
         |    1.0 + kf.theta * kf.theta * (1.0 - 1.0 / kf.f) AS f,
         |    kf.slogf + ln(kf.f) AS slogf,
         |    kf.sv2f + (z.z - kf.pred) * (z.z - kf.pred) / kf.f AS sv2f
         |  FROM kf JOIN zt z ON z.series = kf.series AND z.i = kf.i),
         |fin AS (SELECT kf.series, phi, theta, slogf, sv2f, n
         |  FROM kf JOIN n0 ON kf.series = n0.series WHERE kf.i = n0.n::BIGINT),
         |llc AS (SELECT series, phi, theta, sv2f / n AS sigma2,
         |    (0.0 - n / 2.0) * (ln(2.0 * pi()) + 1.0 + ln(sv2f / n)) - 0.5 * slogf AS loglik
         |  FROM fin)
         |SELECT series, round(phi, 4) AS phi, round(theta, 4) AS theta,
         |  round(sigma2, 4) AS sigma2, round(loglik, 4) AS loglik,
         |  round(-2.0 * loglik + 6.0, 4) AS aic_ml
         |FROM llc ORDER BY series""".stripMargin,
    "hw_fit_mul" ->
      s"""WITH RECURSIVE ${hwFitCtes(mul = true)}
         |SELECT series, round(alpha, 2) AS alpha, round(beta, 2) AS beta,
         |  round(gamma, 2) AS gamma, round(sse, 4) AS sse
         |FROM sel WHERE rk = 1 ORDER BY series""".stripMargin,
    "hw_fit_forecast" ->
      s"""WITH RECURSIVE ${hwFitCtes(mul = false)}
         |SELECT series, k::BIGINT AS step,
         |  round(l + k * b + seas[((k - 1) % 7) + 1], 4) AS forecast
         |FROM sel, generate_series(1, 5) AS g(k) WHERE rk = 1
         |ORDER BY series, step""".stripMargin,
    "hw_fit_state" ->
      s"""WITH RECURSIVE ${hwFitCtes(mul = false)}
         |SELECT series, component, value FROM (
         |  SELECT series, 'level' AS component, round(l, 4) AS value FROM sel WHERE rk = 1
         |  UNION ALL SELECT series, 'trend', round(b, 4) FROM sel WHERE rk = 1
         |  UNION ALL SELECT series, 'season_' || (k - 1)::VARCHAR, round(seas[k], 4)
         |    FROM sel, generate_series(1, 7) AS g(k) WHERE rk = 1
         |) ORDER BY series, component""".stripMargin,
    "hw_forecast" ->
      s"""WITH RECURSIVE s0 AS ($dailySql),
         |s AS (SELECT series, x, (row_number() OVER (PARTITION BY series ORDER BY day) - 1)::BIGINT AS t FROM s0),
         |ini AS (SELECT series, list(x ORDER BY t) AS xs FROM s WHERE t < 14
         |  GROUP BY series HAVING count(*) = 14),
         |i2 AS (SELECT series,
         |    list_sum(xs[1:7]) / 7.0 AS l0,
         |    (list_sum(xs[8:14]) / 7.0 - list_sum(xs[1:7]) / 7.0) / 7.0 AS b0,
         |    list_transform(xs[1:7], v -> v - list_sum(xs[1:7]) / 7.0) AS seas
         |  FROM ini),
         |hw AS (
         |  SELECT series, 6::BIGINT AS t, l0 AS l, b0 AS b, seas FROM i2
         |  UNION ALL
         |  SELECT n.series, n.t,
         |    0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b) AS l,
         |    0.1 * ((0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b)) - hw.l) + (1.0 - 0.1) * hw.b AS b,
         |    list_append(hw.seas[2:],
         |      0.2 * (n.x - (0.3 * (n.x - hw.seas[1]) + (1.0 - 0.3) * (hw.l + hw.b))) + (1.0 - 0.2) * hw.seas[1]) AS seas
         |  FROM hw JOIN s n ON n.series = hw.series AND n.t = hw.t + 1),
         |last AS (SELECT series, t, l, b, seas,
         |    row_number() OVER (PARTITION BY series ORDER BY t DESC) AS rn FROM hw),
         |fin AS (SELECT series, l, b, seas FROM last WHERE rn = 1)
         |SELECT series, k::BIGINT AS step,
         |  round(l + k * b + seas[((k - 1) % 7) + 1], 4) AS forecast
         |FROM fin, generate_series(1, 5) AS g(k)
         |ORDER BY series, step""".stripMargin,
    "arima_forecast" ->
      s"""WITH s0 AS ($dailySql),
         |l AS (SELECT series, x AS y,
         |    lag(x, 1) OVER (PARTITION BY series ORDER BY day) AS x1,
         |    lag(x, 2) OVER (PARTITION BY series ORDER BY day) AS x2
         |  FROM s0),
         |f AS (SELECT * FROM l WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
         |${cramer3Sql("f")},
         |lt AS (SELECT series,
         |    max(CASE WHEN rnd = 1 THEN x END) AS xT,
         |    max(CASE WHEN rnd = 2 THEN x END) AS xT1
         |  FROM (SELECT series, x, row_number() OVER (PARTITION BY series ORDER BY day DESC) AS rnd FROM s0) q
         |  WHERE rnd <= 2 GROUP BY series),
         |j AS (SELECT dt.series, c0, c1, c2, xT, xT1 FROM dt JOIN lt ON dt.series = lt.series),
         |f1 AS (SELECT *, c0 + c1 * xT + c2 * xT1 AS fc1 FROM j),
         |f2 AS (SELECT *, c0 + c1 * fc1 + c2 * xT AS fc2 FROM f1),
         |f3 AS (SELECT *, c0 + c1 * fc2 + c2 * fc1 AS fc3 FROM f2),
         |f4 AS (SELECT *, c0 + c1 * fc3 + c2 * fc2 AS fc4 FROM f3),
         |f5 AS (SELECT *, c0 + c1 * fc4 + c2 * fc3 AS fc5 FROM f4)
         |SELECT series, step, forecast FROM (
         |  SELECT series, 1::BIGINT AS step, round(fc1, 4) AS forecast FROM f5
         |  UNION ALL SELECT series, 2::BIGINT, round(fc2, 4) FROM f5
         |  UNION ALL SELECT series, 3::BIGINT, round(fc3, 4) FROM f5
         |  UNION ALL SELECT series, 4::BIGINT, round(fc4, 4) FROM f5
         |  UNION ALL SELECT series, 5::BIGINT, round(fc5, 4) FROM f5
         |) ORDER BY series, step""".stripMargin,
    "stationarity" ->
      s"""WITH s AS ($dailySql),
         |t AS (SELECT series, x, row_number() OVER (PARTITION BY series ORDER BY day) AS rn FROM s),
         |d AS (SELECT series, x, x - lag(x) OVER (PARTITION BY series ORDER BY rn) AS dx FROM t)
         |SELECT series, round(var_samp(dx) / var_samp(x), 6) AS var_ratio,
         |  (CASE WHEN var_samp(dx) < var_samp(x) THEN 1 ELSE 0 END)::BIGINT AS d
         |FROM d GROUP BY series ORDER BY series""".stripMargin
  )
}
