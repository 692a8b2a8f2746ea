package graft

import graft.cluster.DBSCANGrid
import graft.graph.{ConnectedComponents, HITS, LabelPropagation, PageRank}
import graft.linear.GradientSolver
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Executor loss is routine at scale: every cached or checkpointed block
  * can vanish between two calls. A repeated call on an identical input
  * must then recompute, never serve a memoized frame whose blocks are
  * gone; a driver-local memo (fitted coefficients) stays valid. */
class BlockLossSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** What losing every executor's storage does to the driver's view. */
  private def dropAllBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Collected through a fresh projection, as a caller's next query over
    * the result would read it: collecting the returned frame itself could
    * reuse the shuffle files of its first execution and never touch the
    * blocks underneath them. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.map(col): _*).collect().map(_.mkString(",")).sorted.toSeq

  // chains 0-1-…-9 and 20-…-29 plus a triangle 40-41-42
  private def edgeList: Seq[(Long, Long)] =
    (0L until 9L).map(i => (i, i + 1)) ++ (20L until 29L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 42L), (42L, 40L))

  private def edges(a: String, b: String): DataFrame = {
    import spark.implicits._
    edgeList.toDF(a, b)
  }

  private def points: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    ((0 until 60).map(i => (i.toLong, rnd.nextGaussian() * 0.5, rnd.nextGaussian() * 0.5)) ++
      (0 until 60).map(i => (100L + i, 6 + rnd.nextGaussian() * 0.5, rnd.nextGaussian() * 0.5)))
      .toDF("id", "x", "y")
  }

  private val calls: Seq[(String, () => DataFrame)] = Seq(
    "ConnectedComponents.propagate" -> (() =>
      ConnectedComponents.propagate(edges("a", "b"), "a", "b", 8)),
    "ConnectedComponents.converge" -> (() =>
      ConnectedComponents.converge(edges("a", "b"), "a", "b")),
    "ConnectedComponents.distributed" -> (() =>
      ConnectedComponents.distributed(edges("a", "b"), "a", "b", 64)),
    "PageRank.run" -> (() => PageRank.run(edges("src", "dst"), "src", "dst", rounds = 5)),
    "HITS.run" -> (() => HITS.run(edges("c", "p"), "c", "p", rounds = 3, topK = 5)),
    "LabelPropagation.propagate" -> { () =>
      import spark.implicits._
      val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => (n, if (n % 10 == 0) Some(n / 10) else None)).toDF("node", "seed")
      LabelPropagation.propagate(nodes, edges("src", "dst"), 4)
    },
    "DBSCANGrid.fitND" -> (() => DBSCANGrid.fitND(points, "id", Seq("x", "y"), 1.0, 4)))

  for ((name, call) <- calls) test(s"$name: a repeated call survives block loss") {
    val first = rows(call())
    dropAllBlocks()
    assert(rows(call()) == first)
  }

  test("a driver-local memo (fitQN) serves the same instance after block loss") {
    import spark.implicits._
    def df = (0 until 200).map(i => (i.toDouble / 200, if (i % 3 == 0) 1.0 else 0.0))
      .toDF("x", "y")
    val a = GradientSolver.fitQN(df, Seq("x"), "y", maxIter = 10)
    dropAllBlocks()
    assert(GradientSolver.fitQN(df, Seq("x"), "y", maxIter = 10) eq a)
  }
}
