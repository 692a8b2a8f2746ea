package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.Rows
import graft.decomposition.PCAGraft
import graft.linear.{LinearModel, Lasso, OLS, Ridge}
import graft.stats.Moments
import org.apache.spark.graft.Codegen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The closed-form fits' one co-moment pass ([[Moments.of]]): against a
  * two-pass reference, against the raw-sum normal equations it replaced,
  * its null and empty-input policy, and its plan (one job, one stage). */
class MomentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val fs = Seq("x0", "x1", "x2")

  /** 600 rows over 3 partitions: y = 2 + 1.5·x0 − 0.7·x1 + 0.2·x2 + noise,
    * the features off-center and on different scales. */
  private lazy val rows: Seq[(Double, Double, Double, Double)] = {
    val rnd = new scala.util.Random(5)
    (0 until 600).map { _ =>
      val (x0, x1, x2) = (100 + rnd.nextGaussian() * 3, rnd.nextDouble() * 10, rnd.nextGaussian())
      (x0, x1, x2, 2 + 1.5 * x0 - 0.7 * x1 + 0.2 * x2 + rnd.nextGaussian())
    }
  }

  private def frame: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 3).toDF("x0", "x1", "x2", "y")
  }

  private def rel(a: Double, b: Double): Double =
    if (a == b) 0.0 else math.abs(a - b) / math.max(math.abs(a), math.abs(b))

  test("Moments.of matches a two-pass reference on 3 partitions and repeats bit for bit") {
    val df = frame
    assert(df.rdd.getNumPartitions == 3)
    val m = Moments.of(Rows.of(df, (fs :+ "y").map(col)))
    val x = rows.map(r => Array(r._1, r._2, r._3, r._4))
    val n = x.size
    val mu = Array.tabulate(4)(j => x.map(_(j)).sum / n)
    val c = Array.tabulate(4, 4)((i, j) => x.map(r => (r(i) - mu(i)) * (r(j) - mu(j))).sum)
    assert(m.n == n.toLong && m.p == 4)
    for (j <- 0 until 4) assert(rel(m.mean(j), mu(j)) <= 1e-12, s"mean $j: ${m.mean(j)} vs ${mu(j)}")
    for (i <- 0 until 4; j <- 0 until 4) {
      // an off-diagonal entry near 0 is compared at the scale of its row and column
      val scale = math.sqrt(c(i)(i) * c(j)(j))
      assert(math.abs(m.comoment(i, j) - c(i)(j)) <= 1e-12 * scale,
        s"C($i,$j): ${m.comoment(i, j)} vs ${c(i)(j)}")
    }
    val again = Moments.of(Rows.of(frame, (fs :+ "y").map(col)))
    assert(again.n == m.n && again.mean.toArray.sameElements(m.mean.toArray) &&
      again.comoment.toArray.sameElements(m.comoment.toArray), "a second pass differs in its bits")
  }

  /** The former raw-sum statistics: n, Σx, Σxxᵀ, Σxy, Σy of the rows. */
  private final case class RawSums(n: Double, xs: DenseVector[Double], xx: DenseMatrix[Double],
                                   xy: DenseVector[Double], ys: Double)

  private def rawSums: RawSums = {
    val x = rows.map(r => DenseVector(r._1, r._2, r._3))
    RawSums(rows.size.toDouble, x.reduce(_ + _), x.map(v => v * v.t).reduce(_ + _),
      x.zip(rows).map { case (v, r) => v * r._4 }.reduce(_ + _), rows.map(_._4).sum)
  }

  /** The raw-sum normal-equation solves the co-moment fits replaced: OLS on
    * the design Gram [[n, Σxᵀ], [Σx, Σxxᵀ]], and Ridge and coordinate descent
    * on the Gram re-centered from the raw sums. */
  private def olsReference(g: RawSums): Array[Double] = {
    val p = g.xs.length
    val design = DenseMatrix.zeros[Double](p + 1, p + 1)
    design(0, 0) = g.n
    for (i <- 0 until p) { design(0, i + 1) = g.xs(i); design(i + 1, 0) = g.xs(i) }
    for (i <- 0 until p; j <- 0 until p) design(i + 1, j + 1) = g.xx(i, j)
    (design \ DenseVector.vertcat(DenseVector(g.ys), g.xy)).toArray
  }

  private def centered(g: RawSums): (DenseMatrix[Double], DenseVector[Double]) =
    (g.xx - (g.xs * g.xs.t) / g.n, g.xy - g.xs * (g.ys / g.n))

  private def withIntercept(g: RawSums, w: DenseVector[Double]): Array[Double] =
    (g.ys / g.n - (w dot g.xs) / g.n) +: w.toArray

  private def ridgeReference(g: RawSums, lambda: Double): Array[Double] = {
    val (cg, cxy) = centered(g)
    withIntercept(g, (cg + DenseMatrix.eye[Double](g.xs.length) * lambda) \ cxy)
  }

  private def lassoReference(g: RawSums, alpha: Double): Array[Double] = {
    val (cg0, cxy0) = centered(g)
    val (cg, cxy) = (cg0 / g.n, cxy0 / g.n)
    val p = g.xs.length
    val b = DenseVector.zeros[Double](p)
    for (_ <- 0 until 200; j <- 0 until p) {
      val rho = cxy(j) - ((cg(j, ::) * b) - cg(j, j) * b(j))
      b(j) = math.signum(rho) * math.max(math.abs(rho) - alpha, 0.0) / cg(j, j)
    }
    withIntercept(g, b)
  }

  test("OLS, Ridge and Lasso match the raw-sum normal-equation solves") {
    val g = rawSums
    def check(name: String, m: LinearModel, ref: Array[Double]): Unit = {
      assert(m.terms == "intercept" +: fs)
      m.coefs.zip(ref).zipWithIndex.foreach { case ((a, b), i) =>
        assert(rel(a, b) <= 1e-9, s"$name coef $i: $a vs $b")
      }
    }
    check("OLS", OLS.fit(frame, fs, "y"), olsReference(g))
    check("Ridge", Ridge.fit(frame, fs, "y", 50.0), ridgeReference(g, 50.0))
    check("Lasso", Lasso.fit(frame, fs, "y", 0.01), lassoReference(g, 0.01))
  }

  /** The IllegalArgumentException in `f`'s cause chain, if it threw one. */
  private def illegal(f: => Any): Option[Throwable] =
    scala.util.Try(f).failed.toOption.flatMap { e =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException])
    }

  test("a null feature or label, or an empty frame, fails the closed-form fits loudly") {
    import spark.implicits._
    val withNull = Seq[(Double, Option[Double], Option[Double])](
      (1.0, Some(2.0), Some(3.0)), (2.0, None, Some(1.0)), (3.0, Some(1.0), Some(4.0)),
      (4.0, Some(5.0), None), (5.0, Some(0.5), Some(2.0))).toDF("x0", "x1", "y")
    val empty = frame.filter(col("y") > 1e9)
    val fits: Seq[(String, (DataFrame, Seq[String]) => Any)] = Seq(
      "OLS" -> ((df, f) => OLS.fit(df, f, "y")),
      "Ridge" -> ((df, f) => Ridge.fit(df, f, "y", 1.0)),
      "Lasso" -> ((df, f) => Lasso.fit(df, f, "y", 0.1)),
      "PCAGraft.fitNarrow" -> ((df, f) => PCAGraft.fitNarrow(df, f :+ "y")))
    for ((name, fit) <- fits) {
      val e = illegal(fit(withNull, Seq("x0", "x1")))
      assert(e.exists(_.getMessage.startsWith("null ")), s"$name on a null: $e")
      val e2 = illegal(fit(withNull.filter(col("x1").isNotNull), Seq("x0", "x1")))
      assert(e2.exists(_.getMessage.startsWith("null y")), s"$name on a null label: $e2")
      val e3 = illegal(fit(empty, Seq("x0", "x1")))
      assert(e3.exists(_.getMessage.contains("no rows")), s"$name on no rows: $e3")
    }
  }

  test("OLS.fit runs one job of one stage on a 4-partition range") {
    val sc = spark.sparkContext
    val df = spark.range(0, 4000, 1, 4)
      .select((col("id") % 7).cast("double").as("x0"), (col("id") % 13).cast("double").as("x1"),
        (col("id") * 0.5 + (col("id") % 7) * 2.0).as("y"))
    val group = "moments-ols"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (ours(j.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (ours(s.properties)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "OLS.fit")
      try OLS.fit(df, Seq("x0", "x1"), "y") finally sc.clearJobGroup()
      Codegen.drainListeners(sc)
      assert(jobs.get == 1 && stages.get == 1, s"${jobs.get} jobs, ${stages.get} stages")
    } finally sc.removeSparkListener(listener)
  }
}
