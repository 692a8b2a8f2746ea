package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multiclass (softmax) logistic regression. */
class SoftmaxSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("multinomial fit separates three planted blobs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val mk = (label: String, cx: Double, cy: Double) => (0 until 300).map { _ =>
      (label, cx + rnd.nextGaussian(), cy + rnd.nextGaussian())
    }
    val df = (mk("a", 0.0, 0.0) ++ mk("b", 6.0, 0.0) ++ mk("c", 0.0, 6.0))
      .toDF("y", "f1", "f2")
    val (coefs, acc) = graft.linear.Softmax.fit(df, Seq("f1", "f2"), "y")
    val rows = coefs.collect()
    // 3 classes x (intercept + 2 features)
    assert(rows.length == 9, s"got ${rows.length} coef rows")
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq == Seq("a", "b", "c"))
    // well-separated blobs: far above the 1/3 majority-class rate
    assert(acc > 0.95, s"train accuracy $acc")
  }

  test("a null label fails naming the label column") {
    import spark.implicits._
    val df = Seq((Some("a"), 0.0), (None, 1.0), (Some("b"), 2.0)).toDF("y", "f1")
    val e = intercept[IllegalArgumentException](graft.linear.Softmax.fit(df, Seq("f1"), "y"))
    assert(e.getMessage.contains("y"), e.getMessage)
  }

  test("two classes: w_b - w_a is fitQN's logistic fit") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (0 until 2000).map { _ =>
      val (x1, x2) = (rnd.nextGaussian(), rnd.nextGaussian() * 2 + 1)
      val p = 1.0 / (1.0 + math.exp(-(0.3 + 1.2 * x1 - 0.8 * x2)))
      (if (rnd.nextDouble() < p) "b" else "a", x1, x2)
    }.toDF("y", "x1", "x2")
    val coef = graft.linear.Softmax.fit(df, Seq("x1", "x2"), "y")._1.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val lr = graft.linear.GradientSolver.fitQN(
      df.withColumn("yb", (col("y") === "b").cast("double")), Seq("x1", "x2"), "yb")
    lr.terms.zip(lr.coefs).foreach { case (t, c) =>
      val d = coef(("b", t)) - coef(("a", t))
      assert(math.abs(d - c) < 1e-3, s"$t: softmax $d vs logistic $c")
    }
  }

  test("softmax predict: argmax + winning probability match a hand check") {
    import spark.implicits._
    val df = Seq((1.0, 0.0), (0.0, 1.0)).toDF("f1", "f2")
    // class X scores f1, class Y scores f2, class Z flat zero
    val (pred, pMax) = graft.linear.Softmax.predict(
      Seq(col("f1"), col("f2")), Seq("X", "Y", "Z"),
      Seq(0.0, 0.0, 0.0), Seq(Seq(2.0, 0.0), Seq(0.0, 2.0), Seq(0.0, 0.0)))
    val got = df.select(col("f1"), pred.as("c"), round(pMax, 6).as("p"))
      .collect().map(r => (r.getDouble(0), r.getString(1), r.getDouble(2))).toSet
    val e2 = math.exp(2.0)
    val pWin = math.rint(e2 / (e2 + 1 + 1) * 1e6) / 1e6
    assert(got == Set((1.0, "X", pWin), (0.0, "Y", pWin)), got.toString)
  }
}
