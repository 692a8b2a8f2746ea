package graft

import graft.graph.ConnectedComponents
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-round min-label propagation: exact round semantics against a
  * per-round DataFrame reference, null endpoints, one shuffle per round,
  * and the storage a call leaves behind. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def labels(df: DataFrame): Set[(Option[Long], Long)] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSet

  /** The per-round DataFrame formulation: every node takes the min over its
    * own label and its neighbors' labels, one join + one grouped min per
    * round, checkpointed each round to keep the plan flat. */
  private def reference(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
    val dir = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    var lab = dir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    (0 until rounds).foreach { _ =>
      lab = dir.join(lab.select(col("node").as("dst"), col("label").as("_nl")), "dst")
        .select(col("src").as("node"), col("_nl").as("label"))
        .unionAll(lab)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
    }
    lab
  }

  test("a null endpoint is not a node: its other end keeps its own label") {
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(5L), None), (Some(7L), Some(7L)), (Some(2L), Some(1L)))
      .toDF("a", "b")
    val got = labels(ConnectedComponents.propagate(edges, "a", "b", 8))
    assert(got == Set((Some(1L), 1L), (Some(2L), 1L), (Some(5L), 5L), (Some(7L), 7L)),
      got.toString)
  }

  test("propagate runs exactly `rounds` rounds: min label within that many hops") {
    import spark.implicits._
    // a 20-node path (diameter 19 > 8) plus a duplicate edge and a self-loop
    val path = (0 until 19).map(i => (100L + i, 101L + i))
    val edges = (path :+ ((105L, 106L)) :+ ((110L, 110L))).toDF("a", "b")
    val got = labels(ConnectedComponents.propagate(edges, "a", "b", 8))
    assert(got == labels(reference(edges, 8)))
    assert(got == (0 until 20).map(i => (Some(100L + i), 100L + math.max(0, i - 8))).toSet,
      got.toString)
  }

  test("propagate runs one shuffle per round in one job: stages <= rounds + 3") {
    import spark.implicits._
    val sc = spark.sparkContext
    val group = "cc-propagate-stages"
    // stages that RAN (skipped ones never complete) in jobs of `group`
    val listener = new SparkListener {
      val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      @volatile var stages = 0
      @volatile var markerDone = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(ours.add)
          case Some("marker") => markers.add(e.jobId)
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId)) stages += 1
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) markerDone = true
    }
    // a materialized edge frame (local rows): every stage counted is propagate's
    val rounds = 8
    val edges = (0 until 40).map(i => (1000L + i, 1000L + (i * 7) % 40)).toDF("a", "b")
    sc.addSparkListener(listener)
    try {
      // the result is materialized inside the call; count() runs outside it
      sc.setJobGroup(group, "propagate")
      val lab = try ConnectedComponents.propagate(edges, "a", "b", rounds)
      finally sc.clearJobGroup()
      assert(lab.count() == 40)
      // listener events arrive in order: once the marker job's end is seen,
      // every stage of the propagate call has been counted
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!listener.markerDone && System.nanoTime() < deadline) Thread.sleep(20)
      assert(listener.markerDone, "listener never saw the marker job")
      assert(listener.stages > 0 && listener.stages <= rounds + 3,
        s"${listener.stages} stages for $rounds rounds")
    } finally sc.removeSparkListener(listener)
  }

  test("propagate keeps at most its one memoized checkpoint, never its edge list") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = (0 until 30).map(i => (2000L + i, 2000L + i / 3)).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val lab = ConnectedComponents.propagate(edges, "a", "b", 8)
    assert(lab.count() == 30)
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq
    assert(added.size <= 1, added.mkString(", "))
    assert(!added.exists(_.isInstanceOf[ShuffledRDD[_, _, _]]), added.mkString(", "))
  }
}
