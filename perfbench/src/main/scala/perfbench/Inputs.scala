package perfbench

import graft.tools.MakeOrganicSF
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. This is harness work: it runs before set-up
  * is timed, and the program only ever sees the parquet files it writes.
  * Every value is a pure function of (seed, row id). */
object Inputs {
  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(Main.Cores).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** A uniform in [0, 1) keyed on (seed, salt, row). */
  private def u(seed: Long, salt: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1000003L)).cast("double") / 1000003.0

  def documents(spark: SparkSession, dir: String, n: Long, seed: Long): Unit =
    write(MakeOrganicSF.documents(spark, n, seed), dir, "documents")

  def embeddings(spark: SparkSession, dir: String, n: Long, seed: Long): Unit =
    write(MakeOrganicSF.embeddings(spark, n, seed), dir, "embeddings")

  /** A lineitem table with TPC-H's column names and value ranges. Return
    * flags follow quantity and discount, so tree and margin models have
    * something to learn. */
  def lineitem(spark: SparkSession, dir: String, n: Long, seed: Long): Unit = {
    val id = col("id")
    val qty = floor(u(seed, "qty", id) * 50) + 1
    val price = round(qty * (u(seed, "px", id) * 1100 + 900), 2)
    val disc = floor(u(seed, "disc", id) * 11) / 100
    val tax = floor(u(seed, "tax", id) * 9) / 100
    val modes = array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK").map(lit): _*)
    val df = spark.range(n).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (floor(u(seed, "part", id) * 20000) + 1).cast("long").as("l_partkey"),
      (floor(u(seed, "supp", id) * 1000) + 1).cast("long").as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"), price.as("l_extendedprice"),
      disc.as("l_discount"), tax.as("l_tax"),
      when(qty > 30, "R").when(disc > 0.05, "A").otherwise("N").as("l_returnflag"),
      when(u(seed, "ls", id) < 0.5, "O").otherwise("F").as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), floor(u(seed, "ship", id) * 2500).cast("int"))
        .as("l_shipdate"),
      element_at(modes, (floor(u(seed, "mode", id) * 7) + 1).cast("int")).as("l_shipmode"))
    write(df, dir, "lineitem")
  }

  /** Daily event stream: `types` series over `days` days, `perDay` events
    * a day, each series a level plus trend plus a weekly season. */
  def events(spark: SparkSession, dir: String, types: Int, days: Int, perDay: Int,
             seed: Long): Unit = {
    val id = col("id")
    val day = (id / (types * perDay)).cast("int")
    val tpe = (id / perDay % types).cast("int")
    val season = sin(day * (2 * math.Pi / 7)) * (u(seed, "amp", tpe) * 3 + 1)
    val df = spark.range(types.toLong * days * perDay).select(
      id.as("event_id"),
      concat(lit("type"), tpe).as("event_type"),
      timestamp_seconds(lit(1704067200L) + day * 86400 + pmod(id * 7919, lit(86400))).as("ts"),
      (u(seed, "lvl", tpe) * 10 + 5 + day * 0.05 + season + u(seed, "nz", id) - 0.5).as("value"))
    write(df, dir, "events")
  }

  /** The per-pass input: a filter seeded by the pass that keeps every row.
    * The plan is new on each pass, so no memo keyed on an input plan can
    * serve an earlier pass, while the data, and with it every iterative
    * fit's iteration count, stays the same from pass to pass. */
  def fresh(df: DataFrame, idCol: String, passSeed: Long): DataFrame =
    df.filter(col(idCol) =!= lit(-1L - passSeed))

  /** `q` query vectors: corpus vectors drawn by the seed, each moved by up
    * to ±0.2 per dimension. */
  def queries(emb: DataFrame, nVecs: Long, q: Int, seed: Long): DataFrame = {
    val ids = new scala.util.Random(seed).shuffle((0L until nVecs).toVector).take(q)
    emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), transform(col("embedding"), (x, j) =>
        x.cast("double") + (pmod(xxhash64(col("vec_id"), j, lit(seed)), lit(2001)) - 1000)
          / 5000.0).as("embedding"))
  }
}
