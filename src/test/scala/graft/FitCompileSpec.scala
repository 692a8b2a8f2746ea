package graft

import graft.core.Rows
import graft.decomposition.{PCAGraft, TSVDGraft}
import graft.ensemble.Forest
import graft.linear.{GradientSolver, Lasso, OLS, Ridge, Softmax}
import graft.svm.SVMGraft
import graft.tsa.TimeSeries
import org.apache.spark.graft.Codegen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** No fitted value lands in generated code: a fit over new values of the
  * same schema reuses every class the first fit compiled. Also the
  * solvers' one-pass standardization statistics, and that the fits
  * release the rows they cache. */
class FitCompileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val fs = Seq("x0", "x1", "x2")

  // The frames are local, so no input value is a literal in any plan, and
  // sit over a shuffle, as a scanned table would, so the optimizer cannot
  // fold a fit's projections into the local relation while planning.
  private def tabular(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until 400).map { _ =>
      val (x0, x1, x2) = (rnd.nextGaussian() * 3 + 1, rnd.nextDouble() * 10, rnd.nextGaussian())
      (x0, x1, x2, if (x0 - 0.4 * x1 + rnd.nextGaussian() > -1) 1.0 else 0.0)
    }.toDF("x0", "x1", "x2", "y").repartition(2)
  }

  private def series(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (for (s <- 0 until 3; t <- 0 until 60)
      yield (s"s$s", t.toLong, 5.0 * s + 0.2 * t + rnd.nextGaussian())).toDF("series", "t", "x")
      .repartition(2)
  }

  /** Classes compiled by the second of two calls on fresh frames. Each
    * test draws its own seeds: a frame another test already fitted could
    * find its classes cached even where a fitted value is a literal. */
  private def secondCallCompiles(frame: Long => DataFrame, seed: Long)(
      fit: DataFrame => Any): Long = {
    fit(frame(seed))
    val before = Codegen.compiles()
    fit(frame(seed + 1))
    Codegen.compiles() - before
  }

  test("fitQN compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 1L)(GradientSolver.fitQN(_, fs, "y", maxIter = 5)) == 0)
  }

  test("Softmax.fit compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 9L)(Softmax.fit(_, fs, "y", maxIter = 5)) == 0)
  }

  test("GradientSolver.fit compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 3L)(
      GradientSolver.fit(_, fs, "y", GradientSolver.SquaredLoss, iters = 3)) == 0)
  }

  test("linearSvcSummary compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 5L)(
      SVMGraft.linearSvcSummary(_, fs, col("y") === 1.0, maxIter = 5).collect()) == 0)
  }

  test("linearSvcGate compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 15L)(
      SVMGraft.linearSvcGate(_, fs, col("y") === 1.0, maxIter = 5).collect()) == 0)
  }

  test("rbfSvcSummary compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 27L)(
      SVMGraft.rbfSvcSummary(_, fs, col("y") === 1.0, dRff = 8, maxIter = 5).collect()) == 0)
  }

  test("rbfSvcGate compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 29L)(
      SVMGraft.rbfSvcGate(_, fs, col("y") === 1.0, dRff = 8, maxIter = 5).collect()) == 0)
  }

  test("Forest.classifierSummary compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 17L)(
      Forest.classifierSummary(_, fs, "y", numTrees = 3, maxDepth = 3).collect()) == 0)
  }

  test("Forest.regressorSummary compiles no class for a second frame of new values") {
    assert(secondCallCompiles(tabular, 19L)(
      Forest.regressorSummary(_, fs, "y", numTrees = 3, maxDepth = 3).collect()) == 0)
  }

  test("arimaHR compiles no class for a second frame of new values") {
    assert(secondCallCompiles(series, 7L)(TimeSeries.arimaHR(_).collect()) == 0)
  }

  test("standardization matches avg and stddev_samp; degenerate columns fall back to scale 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 1000).map(_ =>
      (1e6 + rnd.nextGaussian() * 3, rnd.nextDouble() * 1e-3 - 5, 7.25)).toDF("a", "b", "c")
      .repartition(3)
    val cols = Seq("a", "b", "c")
    val (n, mu, sd) = GradientSolver.standardization(Rows.of(df, cols.map(col)), 3)
    val ref = df.agg(avg("a"), stddev_samp("a"), avg("b"), stddev_samp("b"), avg("c")).head()
    def rel(a: Double, b: Double) = math.abs(a - b) / math.abs(b)
    assert(n == 1000L)
    for (i <- 0 until 2) {
      assert(rel(mu(i), ref.getDouble(2 * i)) <= 1e-12, s"mean $i: ${mu(i)} vs ${ref.get(2 * i)}")
      assert(rel(sd(i), ref.getDouble(2 * i + 1)) <= 1e-12,
        s"sd $i: ${sd(i)} vs ${ref.get(2 * i + 1)}")
    }
    assert(mu(2) == ref.getDouble(4) && sd(2) == 1.0, s"constant column: ${mu(2)}, ${sd(2)}")
    val (n1, mu1, sd1) = GradientSolver.standardization(
      Rows.of(Seq((2.0, -3.0)).toDF("a", "b"), Seq(col("a"), col("b"))), 2)
    assert(n1 == 1L && mu1.toSeq == Seq(2.0, -3.0) && sd1.toSeq == Seq(1.0, 1.0))
  }

  private def leavesNothing(name: String)(run: => Any): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    run
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"$name left persisted RDDs ${added.mkString(", ")}")
  }

  test("fitQN, fit and linearSvcSummary leave no persisted RDD") {
    leavesNothing("fitQN")(GradientSolver.fitQN(tabular(11L), fs, "y", maxIter = 5))
    leavesNothing("fit")(GradientSolver.fit(tabular(12L), fs, "y", GradientSolver.LogisticLoss,
      iters = 3, batchFraction = 0.5))
    leavesNothing("linearSvcSummary")(
      SVMGraft.linearSvcSummary(tabular(13L), fs, col("y") === 1.0, maxIter = 5).collect())
    leavesNothing("Softmax.fit")(Softmax.fit(tabular(14L), fs, "y", maxIter = 5))
    leavesNothing("rbfSvcSummary")(
      SVMGraft.rbfSvcSummary(tabular(31L), fs, col("y") === 1.0, dRff = 8, maxIter = 5).collect())
    leavesNothing("rbfSvcGate")(
      SVMGraft.rbfSvcGate(tabular(32L), fs, col("y") === 1.0, dRff = 8, maxIter = 5).collect())
    leavesNothing("rbfSvcDecide")(SVMGraft.rbfSvcDecide(tabular(33L).withColumn("id",
      monotonically_increasing_id()), col("id"), fs, col("y") === 1.0, dRff = 8, maxIter = 5)
      .collect())
  }

  test("the forest fits and PCAGraft.fitWide leave no persisted RDD") {
    leavesNothing("classifierSummary")(
      Forest.classifierSummary(tabular(21L), fs, "y", numTrees = 3, maxDepth = 3).collect())
    leavesNothing("regressorGate")(
      Forest.regressorGate(tabular(22L), fs, "y", numTrees = 3, maxDepth = 3).collect())
    leavesNothing("inferenceSummary")(
      Forest.inferenceSummary(tabular(23L), tabular(24L), fs, "y", numTrees = 3).collect())
    leavesNothing("PCAGraft.fitWide")(
      PCAGraft.fitWide(tabular(25L).select(array(fs.map(col): _*).as("v")), "v"))
    leavesNothing("PCAGraft.fitNarrow")(PCAGraft.fitNarrow(tabular(26L), fs))
    leavesNothing("TSVDGraft.singularValues")(
      TSVDGraft.singularValues(tabular(34L).select(array(fs.map(col): _*).as("v")), "v", 2))
    leavesNothing("OLS.fit")(OLS.fit(tabular(35L), fs, "y"))
    leavesNothing("Ridge.fit")(Ridge.fit(tabular(36L), fs, "y", 1.0))
    leavesNothing("Lasso.fit")(Lasso.fit(tabular(37L), fs, "y", 0.1))
  }
}
