package graft

import graft.neighbors.{IVF, KNN}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What the top-k path does with a score it cannot rank: a zero vector
  * under cosine fails the scan with DIVIDE_BY_ZERO (ANSI mode, Spark's
  * default), and a NaN or null score fails the aggregate. None of them is
  * ranked silently. */
class TopKFailureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The messages of `f`'s failure and all its causes. */
  private def failure(f: => Any): String = {
    val t = intercept[Throwable](f)
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" / ")
  }

  private def vecs = {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)), (3L, Seq(0.5, 0.5))).toDF("id", "v")
  }

  test("a zero vector fails cosine bruteForce and IVF.topK with DIVIDE_BY_ZERO") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = vecs
    val q = df.filter(col("id") === 1L)
    val bf = failure(KNN.bruteForce(q, df, "id", "id", "v", "v", 2, KNN.Cosine).collect())
    assert(bf.contains("DIVIDE_BY_ZERO"), bf)
    // two cells, both probed: the zero vector is scored whichever it holds
    val idx = IVF.Index(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val ivf = failure(IVF.topK(df, q, "id", "v", idx, k = 2, nprobe = 2).collect())
    assert(ivf.contains("DIVIDE_BY_ZERO"), ivf)
    // euclidean has no division: the zero vector ranks by its distance
    val l2 = KNN.bruteForce(q, df, "id", "id", "v", "v", 3, KNN.Euclidean)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(l2.toSeq == Seq((1L, 0.0), (3L, 0.7071), (2L, 1.0)))
  }

  test("topKPerKey fails on a NaN or null score instead of ranking it") {
    import spark.implicits._
    val order = KNN.nearFirst(KNN.Euclidean)
    val nan = Seq((1L, 1L, 0.5), (1L, 2L, Double.NaN)).toDF("qid", "id", "_s")
    val m = failure(KNN.topKPerKey(nan, 2, order).collect())
    assert(m.contains("cannot rank score NaN of id 2"), m)
    val nul = Seq((1L, 1L, Some(0.5)), (1L, 2L, None)).toDF("qid", "id", "_s")
    val n = failure(KNN.topKPerKey(nul, 2, order).collect())
    assert(n.contains("cannot rank score null of id 2"), n)
  }
}
