package graft.tsa

import graft.SparkTestSession
import graft.tsa.SeriesFixtures.{bits, events, shuffles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-series Hannan–Rissanen pass behind every ARIMA surface equals
  * the window + grouped-aggregate chain it replaced (kept here as the
  * reference) to the last bit, and it and every other per-series pass
  * group in place. */
class ArimaStageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The former `arimaHRStage`: window lags, [[TimeSeries.cramer3]] solves
    * and a coefficient join, expression for expression as its SQL oracle. */
  private def windowChain(series: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
    val dx = series.withColumn("dx", col("x") - lag(col("x"), 1).over(w))
      .filter(col("dx").isNotNull)
      .select(col("series"), col("t"), col("dx"))
    val l = dx
      .withColumn("l1", lag(col("dx"), 1).over(w))
      .withColumn("l2", lag(col("dx"), 2).over(w))
    val f1 = l.filter(col("l1").isNotNull && col("l2").isNotNull)
    val ar = TimeSeries.cramer3(f1, col("dx"), col("l1"), col("l2"))
    val e = l.join(ar, Seq("series"))
      .withColumn("e", when(col("l1").isNotNull && col("l2").isNotNull,
        col("dx") - (col("c0") + col("c1") * col("l1") + col("c2") * col("l2"))))
    val e1 = e.withColumn("e1", lag(col("e"), 1).over(w))
      .select(col("series"), col("t"), col("dx"), col("l1"), col("l2"),
        col("e"), col("e1"))
    val f2 = e1.filter(col("l1").isNotNull && col("e1").isNotNull)
    (e1, TimeSeries.cramer3(f2, col("dx"), col("l1"), col("e1")))
  }

  private def assertSameAsChain(series: DataFrame): (Seq[String], Seq[String]) = {
    val (rows, cf) = TimeSeries.arimaHRStage(series)
    val (refRows, refCf) = windowChain(series)
    assert(rows.columns.toSeq == refRows.columns.toSeq)
    assert(cf.columns.toSeq == refCf.columns.toSeq)
    val (a, b) = (bits(rows), bits(refRows))
    val sameRows = a == b
    assert(sameRows, s"rows differ: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
    val (c, d) = (bits(cf), bits(refCf))
    val sameCoefs = c == d
    assert(sameCoefs, s"coefficients differ: $c vs $d")
    (a, c)
  }

  test("arimaHRStage equals the window chain on daily series over several partitions") {
    val daily = TimeSeries.dailySeries(events(17L))
    val (rows, cf) = assertSameAsChain(daily)
    assert(cf.length == 5, cf)
    assert(rows.length == 5 * 44, rows.length)
  }

  test("arimaHRStage equals the window chain on short, constant and gapped series") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val short = (0 until 3).map(t => ("short", t.toLong, Option(1.0 + t * t)))
    val const = (0 until 30).map(t => ("const", t.toLong, Option(5.0)))
    val gap = (0 until 40).map { t =>
      ("gap", t.toLong, if (t == 10) None else Option(t * 0.5 + rnd.nextGaussian()))
    }
    val plain = (0 until 40).map(t => ("plain", t.toLong, Option(math.cos(t * 0.4) + t * 0.1)))
    val df = (short ++ const ++ gap ++ plain).toDF("series", "t", "x").repartition(2)
    val (rows, cf) = assertSameAsChain(df)
    // fewer than 3 differences: dropped from both frames
    assert(!rows.exists(_.startsWith("short|")) && !cf.exists(_.startsWith("short|")))
    // det = 0: rows kept with e null, no coefficient row
    val constRows = TimeSeries.arimaHRStage(df)._1.filter(col("series") === "const").collect()
    assert(constRows.length == 29 && constRows.forall(_.isNullAt(5)))
    assert(!cf.exists(_.startsWith("const|")))
    // the null x drops two differences; the lags run over the rest
    assert(rows.count(_.startsWith("gap|")) == 37)
    assert(cf.exists(_.startsWith("gap|")) && cf.exists(_.startsWith("plain|")))
  }

  test("every per-series pass adds no shuffle to dailySeries") {
    val daily = TimeSeries.dailySeries(events(23L))
    val own = shuffles(daily)
    assert(own >= 1)
    val (as, bs, gs) = (Seq(0.2, 0.6), Seq(0.1), Seq(0.1, 0.5))
    val ca = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0))
    // every public function on bySeries whose own tail adds no exchange
    // (arimaForecastML and thetaForecast join after the pass)
    val table: Seq[(String, DataFrame => DataFrame)] = Seq(
      "arimaHR" -> TimeSeries.arimaHR,
      "holtWintersSeasonal" -> (TimeSeries.holtWintersSeasonal(_, 0.3, 0.1, 0.2, 7)),
      "sesSmoothed" -> (TimeSeries.sesSmoothed(_, 0.3)),
      "holtTrend" -> (TimeSeries.holtTrend(_, 0.3, 0.1)),
      "holtDamped" -> (TimeSeries.holtDamped(_, 0.3, 0.1, 0.9, 3)),
      "holtWintersForecast" -> (TimeSeries.holtWintersForecast(_, 0.3, 0.1, 0.2, 7, 3)),
      "hwFit" -> (TimeSeries.hwFit(_, 7, as, bs, gs)),
      "hwFitOpt" -> (TimeSeries.hwFitOpt(_, 7, as, bs, gs, maxIter = 5)),
      "hwFitForecast" -> (TimeSeries.hwFitForecast(_, 7, as, bs, gs, 3)),
      "hwFitState" -> (TimeSeries.hwFitState(_, 7, as, bs, gs)),
      "hwFitStateRaw" -> (TimeSeries.hwFitStateRaw(_, 7, as, bs, gs)),
      "kalman1D" -> (TimeSeries.kalman1D(_, 0.1, 2.0)),
      "kalmanCV" -> (TimeSeries.kalmanCV(_, 0.05, 0.01, 2.0)),
      "kalmanMat" -> (TimeSeries.kalmanMat(_, ca, Seq(1.0, 0.0), Seq(0.05, 0.01), 2.0)),
      "kalmanMatVec" -> (df => TimeSeries.kalmanMatVec(
        df.withColumn("z", array(col("x"), col("x"))),
        ca, Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)), Seq(0.05, 0.01), Seq(2.0, 4.0))),
      "arimaLoglike" -> TimeSeries.arimaLoglike,
      "arimaFitML" -> (TimeSeries.arimaFitML(_)),
      "arimaFitBFGS" -> (TimeSeries.arimaFitBFGS(_, maxIter = 5)),
      "arimaMLStateLong" -> (TimeSeries.arimaMLStateLong(_)),
      "arimaPredictInsample" -> TimeSeries.arimaPredictInsample)
    val added = table.collect { case (name, f) if shuffles(f(daily)) != own => name }
    assert(added.isEmpty, s"an exchange beyond dailySeries's $own in: ${added.mkString(", ")}")
    assert(TimeSeries.arimaHR(daily).count() == 5 * 3)
    assert(TimeSeries.holtWintersSeasonal(daily, 0.3, 0.1, 0.2, 7).count() == 5)
  }
}
