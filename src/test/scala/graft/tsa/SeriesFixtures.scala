package graft.tsa

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inputs and comparisons shared by the per-series pass specs. */
object SeriesFixtures {
  /** A seeded events frame over 3 partitions: 5 event types × 45 days,
    * 1–3 events a day, so [[TimeSeries.dailySeries]] gives 5 series of
    * 45 days. */
  def events(seed: Long): DataFrame = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = for (tpe <- 0 until 5; day <- 0 until 45; k <- 0 until 1 + rnd.nextInt(3))
      yield (s"type$tpe", 1704067200L + day * 86400L + rnd.nextInt(86400),
        10.0 * tpe + 0.3 * day + math.sin(day * 0.9) * 2 + rnd.nextGaussian())
    rows.toDF("event_type", "sec", "value")
      .select(col("event_type"), timestamp_seconds(col("sec")).as("ts"), col("value"))
      .repartition(3)
  }

  /** Rows as comparable strings: doubles by their bits, so equal means
    * identical to the last bit (and -0.0 differs from 0.0). */
  def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case s: scala.collection.Seq[_] => s.map {
        case d: Double => java.lang.Double.doubleToLongBits(d).toString
        case v => String.valueOf(v)
      }.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Shuffle exchanges in the physical plan (broadcasts not counted). */
  def shuffles(df: DataFrame): Int =
    "(?<!Broadcast)Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).length
}
