package graft

import graft.core.Tables
import graft.ensemble.Forest
import graft.ensemble.Forest.{Leaf, Split, TreeNode}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The histogram forest against exact references. On a small
  * single-partition frame with at most 8 distinct values per feature the
  * bins are the distinct values, and a one-tree forest uses every row and
  * every feature, so its tree is exactly CART's: a depth-1 tree splits
  * where stump_fit's rank-1 row does, and a depth-2 tree equals a
  * driver-side brute-force CART. With bootstrap and feature sampling on,
  * a fit repeats bit for bit under its seed. */
class ForestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val feats = Seq("l_quantity", "l_discount", "l_tax")

  /** 90 rows: quantity 5..40 (8 values), discount 0.00..0.07 (8), tax
    * 0.00..0.06 (7); flags follow quantity and discount, and about a tenth
    * are flipped. `binary` keeps R against N only. Discounts are even
    * cents at quantity <= 20 and odd ones above, so below the root's split
    * two thresholds cut the same partition and the tie rule decides. */
  private def rows(binary: Boolean): Seq[(Double, Double, Double, String)] = {
    val rnd = new scala.util.Random(17)
    (0 until 90).map { _ =>
      val q = (rnd.nextInt(8) + 1) * 5.0
      val d = (2 * rnd.nextInt(4) + (if (q <= 20) 0 else 1)) / 100.0
      val t = rnd.nextInt(7) / 100.0
      val flag = if (q > 22) "R" else if (!binary && d > 0.04) "A" else "N"
      val noisy = if (rnd.nextDouble() < 0.1) (if (flag == "R") "N" else "R") else flag
      (q, d, t, noisy)
    }
  }

  private def frame(binary: Boolean): DataFrame = {
    import spark.implicits._
    rows(binary).toDF("l_quantity", "l_discount", "l_tax", "l_returnflag").coalesce(1)
  }

  test("a depth-1 tree splits where stump_fit's rank-1 row does") {
    val dir = java.nio.file.Files.createTempDirectory("forest_stump")
    val (stump, tree) = try {
      frame(binary = true).write.parquet(s"$dir/lineitem.parquet")
      val li = Tables.lineitem(spark, dir.toString)
      assert(li.rdd.getNumPartitions == 1)
      (SparkEntry.queries("stump_fit")(spark, dir.toString).collect(),
        Forest.fit(li, feats, "l_returnflag", classify = true, numTrees = 1, maxDepth = 1,
          seed = 7L).trees.head)
    } finally {
      val paths = java.nio.file.Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally paths.close()
    }
    // the reference's winner is unique, so no tie rule decides it
    assert(stump(0).getDouble(3) < stump(1).getDouble(3), stump.mkString(", "))
    tree match {
      case Split(f, thr, Leaf(_), Leaf(_)) =>
        assert((feats(f), thr) == ((stump(0).getString(1), stump(0).getDouble(2))),
          s"$tree vs ${stump(0)}")
      case other => fail(s"not a stump: $other")
    }
  }

  /** CART by enumeration: every threshold of every feature (each distinct
    * value but the largest), the largest Gini gain winning, the lower
    * feature and then the lower threshold on a tie; a leaf holds the
    * majority class (the lower index on a tie). */
  private def cart(xs: Seq[(Array[Double], Int)], thr: Seq[Seq[Double]], k: Int,
                   depth: Int): TreeNode = {
    def counts(s: Seq[(Array[Double], Int)]) = Array.tabulate(k)(c => s.count(_._2 == c).toDouble)
    def gini(c: Array[Double]) = { val w = c.sum; 1.0 - c.map(v => (v / w) * (v / w)).sum }
    val all = counts(xs)
    val leaf = Leaf(all.indices.maxBy(c => (all(c), -c)).toDouble)
    val w = all.sum
    val cands = for (f <- thr.indices; t <- thr(f)) yield {
      val (l, r) = xs.partition(_._1(f) <= t)
      val (cl, cr) = (counts(l), counts(r))
      val gain = if (l.isEmpty || r.isEmpty) 0.0
        else gini(all) - cl.sum / w * gini(cl) - cr.sum / w * gini(cr)
      (gain, f, t, l, r)
    }
    val best = cands.foldLeft((0.0, -1, 0.0, xs, xs)) { (b, c) => if (c._1 > b._1) c else b }
    if (depth == 0 || gini(all) <= 0.0 || best._2 < 0) leaf
    else Split(best._2, best._3, cart(best._4, thr, k, depth - 1), cart(best._5, thr, k, depth - 1))
  }

  test("a depth-2 tree equals a driver-side brute-force CART") {
    val rs = rows(binary = false)
    val labels = rs.map(_._4).distinct.sorted
    assert(labels == Seq("A", "N", "R"))
    val xs = rs.map { case (q, d, t, l) => (Array(q, d, t), labels.indexOf(l)) }
    val thr = (0 until 3).map(f => xs.map(_._1(f)).distinct.sorted.dropRight(1))
    val want = cart(xs, thr, labels.size, 2)
    val got = Forest.fit(frame(binary = false), feats, "l_returnflag", classify = true,
      numTrees = 1, maxDepth = 2, seed = 7L).trees.head
    assert(got == want)
    assert(want.isInstanceOf[Split] && want.asInstanceOf[Split].left.isInstanceOf[Split])
  }

  test("two fits with the same seed return equal trees and importances") {
    // local rows over several partitions: a frame whose row order no
    // shuffle can change between the two fits
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      li.orderBy("l_orderkey", "l_linenumber").collect().toSeq, 3), li.schema)
    assert(df.rdd.getNumPartitions == 3)
    for ((label, classify) <- Seq(("l_returnflag", true), ("l_extendedprice", false))) {
      def run() = Forest.fit(df, feats, label, classify, numTrees = 5, maxDepth = 3, seed = 11L)
      val (a, b) = (run(), run())
      assert(a.trees == b.trees, label)
      assert(a.importances.sameElements(b.importances), label)
      assert(a.train.sameElements(b.train), label)
      assert(a.trees.distinct.size > 1, s"$label: bootstrap and feature sampling drew one tree")
    }
  }

  test("importances are non-negative and sum to 1") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
    for ((label, classify) <- Seq(("l_returnflag", true), ("l_extendedprice", false))) {
      val imp = Forest.fit(df, feats, label, classify, numTrees = 5, maxDepth = 3, seed = 3L)
        .importances
      assert(imp.forall(_ >= 0.0) && math.abs(imp.sum - 1.0) <= 1e-9, imp.mkString(","))
    }
  }
}
