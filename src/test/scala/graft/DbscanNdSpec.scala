package graft

import graft.cluster.DBSCANGrid
import org.scalatest.funsuite.AnyFunSuite

/** n-dimensional grid DBSCAN vs brute force. */
class DbscanNdSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("3-D grid DBSCAN matches brute-force DBSCAN exactly on 1.2k points") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val blob = (cx: Double, cy: Double, cz: Double, n: Int, o: Int) =>
      (0 until n).map { i =>
        (o + i.toLong, cx + rnd.nextGaussian() * 1.2,
          cy + rnd.nextGaussian() * 1.2, cz + rnd.nextGaussian() * 1.2)
      }
    val pts = blob(0.0, 0.0, 0.0, 400, 0) ++ blob(7.0, 2.0, -1.0, 400, 1000) ++
      blob(2.0, 8.0, 5.0, 250, 2000) ++
      (0 until 150).map(i => (5000L + i, rnd.nextDouble() * 20 - 5,
        rnd.nextDouble() * 20 - 5, rnd.nextDouble() * 20 - 5))
    val eps = 1.0; val minPts = 5
    val arr = pts.toArray
    val n = arr.length
    def d2(a: (Long, Double, Double, Double), b: (Long, Double, Double, Double)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3; val dz = a._4 - b._4
      dx * dx + dy * dy + dz * dz
    }
    val neigh = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; j <- i + 1 until n if d2(arr(i), arr(j)) <= eps * eps) {
      neigh(i) ::= j; neigh(j) ::= i
    }
    val isCore = (0 until n).map(i => neigh(i).size >= minPts - 1)
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var r = a; while (parent(r) != r) r = parent(r); parent(a) = r; r }
    for (i <- 0 until n if isCore(i); j <- neigh(i) if isCore(j)) {
      val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val compLabel = scala.collection.mutable.Map.empty[Int, Long]
    for (i <- 0 until n if isCore(i)) {
      val r = find(i)
      compLabel(r) = math.min(compLabel.getOrElse(r, Long.MaxValue), arr(i)._1)
    }
    val want = (0 until n).map { i =>
      val cl =
        if (isCore(i)) compLabel(find(i))
        else {
          val cs = neigh(i).filter(isCore).map(j => compLabel(find(j)))
          if (cs.isEmpty) -1L else cs.min
        }
      arr(i)._1 -> (isCore(i), cl)
    }.toMap
    val got = DBSCANGrid.fitND(pts.toDF("id", "x", "y", "z"), "id",
        Seq("x", "y", "z"), eps, minPts)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(got.size == n)
    val bad = want.keys.filter(k => got(k) != want(k))
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g. ${bad.take(5).map(k => (k, got(k), want(k)))}")
  }

  test("4-D grid DBSCAN matches brute force on a smaller mixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val mk = (c: Array[Double], n: Int, o: Int) => (0 until n).map { i =>
      (o + i.toLong, c(0) + rnd.nextGaussian(), c(1) + rnd.nextGaussian(),
        c(2) + rnd.nextGaussian(), c(3) + rnd.nextGaussian())
    }
    val pts = mk(Array(0, 0, 0, 0), 250, 0) ++ mk(Array(6, 6, 0, -3), 250, 1000) ++
      (0 until 80).map(i => (5000L + i, rnd.nextDouble() * 14 - 4,
        rnd.nextDouble() * 14 - 4, rnd.nextDouble() * 10 - 5, rnd.nextDouble() * 10 - 6))
    val eps = 1.3; val minPts = 4
    val arr = pts.toArray
    val n = arr.length
    def d2(a: (Long, Double, Double, Double, Double),
           b: (Long, Double, Double, Double, Double)) = {
      val ds = Seq(a._2 - b._2, a._3 - b._3, a._4 - b._4, a._5 - b._5)
      ds.map(x => x * x).sum
    }
    val neigh = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; j <- i + 1 until n if d2(arr(i), arr(j)) <= eps * eps) {
      neigh(i) ::= j; neigh(j) ::= i
    }
    val isCore = (0 until n).map(i => neigh(i).size >= minPts - 1)
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var r = a; while (parent(r) != r) r = parent(r); parent(a) = r; r }
    for (i <- 0 until n if isCore(i); j <- neigh(i) if isCore(j)) {
      val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val compLabel = scala.collection.mutable.Map.empty[Int, Long]
    for (i <- 0 until n if isCore(i)) {
      val r = find(i)
      compLabel(r) = math.min(compLabel.getOrElse(r, Long.MaxValue), arr(i)._1)
    }
    val want = (0 until n).map { i =>
      val cl =
        if (isCore(i)) compLabel(find(i))
        else {
          val cs = neigh(i).filter(isCore).map(j => compLabel(find(j)))
          if (cs.isEmpty) -1L else cs.min
        }
      arr(i)._1 -> (isCore(i), cl)
    }.toMap
    val got = DBSCANGrid.fitND(pts.toDF("id", "x0", "x1", "x2", "x3"), "id",
        Seq("x0", "x1", "x2", "x3"), eps, minPts)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    val bad = want.keys.filter(k => got(k) != want(k))
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g. ${bad.take(5).map(k => (k, got(k), want(k)))}")
  }

  test("predictND assigns held-out points to the nearest core's cluster, noise stays -1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(19)
    val blobA = (0 until 40).map(i => (i.toLong, rnd.nextDouble() * 0.8, rnd.nextDouble() * 0.8))
    val blobB = (0 until 40).map(i => (100L + i, 50.0 + rnd.nextDouble() * 0.8, 50.0 + rnd.nextDouble() * 0.8))
    val train = (blobA ++ blobB).toDF("id", "x", "y")
    val fitted = DBSCANGrid.fit(train, "id", "x", "y", eps = 1.0, minPts = 4)
    val labels = fitted.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (clA, clB) = (labels(0L), labels(100L))
    assert(clA != clB && clA >= 0 && clB >= 0)
    // held-out: one point inside each blob, one far away
    val qs = Seq((900L, 0.4, 0.4), (901L, 50.3, 50.2), (999L, 500.0, 500.0))
      .toDF("id", "x", "y")
    val pred = DBSCANGrid.predictND(train, fitted, "id", Seq("x", "y"), qs, "id", 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pred(900L) == clA && pred(901L) == clB && pred(999L) == -1L, pred.toString)
    // predicting the train core points returns their own cluster
    // (self-distance 0 wins the argmin)
    val coreIds = fitted.filter(col("is_core")).select("id").as[Long].collect().toSet
    val self = DBSCANGrid.predictND(train, fitted, "id", Seq("x", "y"),
        train.filter(col("id").isin(coreIds.toSeq.map(Long.box): _*)), "id", 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    coreIds.foreach { id =>
      assert(self(id) == labels(id), s"core $id: ${self(id)} vs ${labels(id)}")
    }
  }

  /** The result owns its one checkpoint; every intermediate SQL cache entry
    * is released. */
  private def ownsItsStorage(name: String)(result: => org.apache.spark.sql.DataFrame): Unit = {
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    assert(result.collect().nonEmpty, s"$name returned no rows")
    assert(cacheManager.isEmpty, s"$name left a SQL cache entry")
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"$name left persisted RDDs ${added.mkString(", ")}")
  }

  private def blobs(seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until 80).map(i => (i.toLong, (i % 2) * 9 + rnd.nextGaussian() * 0.6,
      rnd.nextGaussian() * 0.6)).toDF("id", "x", "y")
  }

  test("fitND leaves no SQL cache entry and at most its own checkpoint") {
    ownsItsStorage("fitND")(DBSCANGrid.fitND(blobs(31), "id", Seq("x", "y"), 1.0, 4))
  }

  test("coreSummary leaves no SQL cache entry and at most its own checkpoint") {
    ownsItsStorage("coreSummary")(DBSCANGrid.coreSummary(blobs(32), "id", Seq("x", "y"), 1.0, 4))
  }
}
