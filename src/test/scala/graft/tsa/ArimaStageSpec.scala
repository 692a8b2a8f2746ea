package graft.tsa

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-series Hannan–Rissanen pass behind every ARIMA surface equals
  * the window + grouped-aggregate chain it replaced (kept here as the
  * reference) to the last bit, and groups in place. */
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

  /** Rows as comparable strings: doubles by their bits, so equal means
    * identical to the last bit (and -0.0 differs from 0.0). */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

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

  private def events(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = for (tpe <- 0 until 5; day <- 0 until 45; k <- 0 until 1 + rnd.nextInt(3))
      yield (s"type$tpe", 1704067200L + day * 86400L + rnd.nextInt(86400),
        10.0 * tpe + 0.3 * day + math.sin(day * 0.9) * 2 + rnd.nextGaussian())
    rows.toDF("event_type", "sec", "value")
      .select(col("event_type"), timestamp_seconds(col("sec")).as("ts"), col("value"))
      .repartition(3)
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

  private def shuffles(df: DataFrame): Int =
    "(?<!Broadcast)Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("arimaHR and holtWintersSeasonal add no shuffle to dailySeries") {
    val daily = TimeSeries.dailySeries(events(23L))
    val own = shuffles(daily)
    assert(own >= 1)
    val arima = TimeSeries.arimaHR(daily)
    assert(shuffles(arima) == own, arima.queryExecution.executedPlan.toString)
    val hw = TimeSeries.holtWintersSeasonal(daily, 0.3, 0.1, 0.2, 7)
    assert(shuffles(hw) == own, hw.queryExecution.executedPlan.toString)
    assert(arima.count() == 5 * 3 && hw.count() == 5)
  }
}
