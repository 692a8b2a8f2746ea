package graft.tools

import graft.core.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for bench runs beyond the driver-provided
  * testdata: union-replicates every fact table N× with re-keyed ids
  * (per-replica offsets that preserve referential integrity — orders ↔
  * lineitem on orderkey, orders → customer, lineitem → supplier/part),
  * keeping the region/nation dimension tables as-is. Usage:
  *   runMain graft.tools.MakeSF <srcSfDir> <outDir> <factor>
  * The point is the measured scale curve (BENCH_r12_sf1.json), not new
  * data: every replica is value-identical modulo key offsets, so
  * per-query work scales exactly N× for corpus-shaped operators.
  */
object MakeSF {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: MakeSF <srcSfDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val spark = Session.local(Session.cpus)
    make(spark, src, out, factorS.toInt)
    println(s"""{"made":"$out","factor":${factorS.toInt}}""")
    spark.stop()
  }

  def make(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 1 && factor <= 100)

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // key offsets: one round power-of-ten step above each table's max id
    // keeps replicated keys disjoint AND the join structure intact
    def step(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key).cast("long"))).head().getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    val orders = load("orders"); val lineitem = load("lineitem")
    val customer = load("customer"); val supplier = load("supplier")
    val part = load("part"); val events = load("events")
    val documents = load("documents"); val embeddings = load("embeddings")
    val okStep = step(orders, "o_orderkey")
    val ckStep = step(customer, "c_custkey")
    val skStep = step(supplier, "s_suppkey")
    val pkStep = step(part, "p_partkey")

    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { r =>
        shifts.foldLeft(df) { case (acc, (c, s)) =>
          acc.withColumn(c, col(c) + lit(r * s))
        }
      }.reduce(_ unionByName _)

    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    // dimension tables pass through untouched
    write(spark.read.parquet(s"$src/region.parquet"), "region", 1)
    write(spark.read.parquet(s"$src/nation.parquet"), "nation", 1)
    write(replicate(customer, Map("c_custkey" -> ckStep)), "customer", 4)
    write(replicate(supplier, Map("s_suppkey" -> skStep)), "supplier", 1)
    write(replicate(part, Map("p_partkey" -> pkStep)), "part", 4)
    write(replicate(orders,
      Map("o_orderkey" -> okStep, "o_custkey" -> ckStep)), "orders", 8)
    write(replicate(lineitem,
      Map("l_orderkey" -> okStep, "l_partkey" -> pkStep,
        "l_suppkey" -> skStep)), "lineitem", 16)
    write(replicate(events,
      Map("event_id" -> step(events, "event_id"),
        "user_id" -> step(events, "user_id"))), "events", 8)
    write(replicate(documents,
      Map("doc_id" -> step(documents, "doc_id"))), "documents", 4)
    write(replicate(embeddings,
      Map("vec_id" -> step(embeddings, "vec_id"))), "embeddings", 4)
  }
}
