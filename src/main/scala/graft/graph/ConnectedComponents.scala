package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Distributed connected components by min-label propagation over an
  * undirected edge list — the shuffle-native alternative to collecting the
  * edge list into a driver union-find when the graph itself is data-scale
  * (reference cpp/src/dbscan/ runs its CC on-GPU for the same reason).
  *
  * Each round every node takes the minimum label over itself and its
  * neighbors; labels only decrease, and the propagation converges in
  * graph-diameter rounds to label = min node id of the component.
  * [[propagate]] runs its fixed rounds as co-partitioned RDD rounds: the
  * edge list is hash-partitioned by node ONCE and the labels stay under
  * the same partitioner, so each round is one narrow (partition-local)
  * join plus one `reduceByKey(min)` shuffle, and all rounds run in one
  * job. [[converge]] keeps the DataFrame rounds (its pointer jump joins
  * by label, not by node, so it cannot stay co-partitioned).
  */
object ConnectedComponents {
  /** Both directions of the edge list: (src, dst). */
  private def directed(edges: DataFrame, a: String, b: String): DataFrame = {
    val e = edges.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def initLabels(dir: DataFrame): DataFrame =
    dir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))

  private def step(dir: DataFrame, lab: DataFrame): DataFrame = {
    // min(own label, min over neighbor labels) as ONE grouped min over
    // the union of neighbor-label rows and the node's own label row —
    // one join + one aggregate per round (r17 opt; the former shape paid
    // a second node-key join to stitch the neighbor min back onto the
    // label frame). min over a union is the same min: bit-exact.
    dir.join(lab.select(col("node").as("dst"), col("label").as("_nl")), "dst")
      .select(col("src").as("node"), col("_nl").as("label"))
      .unionAll(lab)
      .groupBy(col("node")).agg(min(col("label")).as("label"))
  }

  /** Exactly `rounds` propagation rounds — deterministic and (for graphs
    * whose diameter < rounds) converged. The fixed count exists so a SQL
    * oracle can replay the identical computation as chained CTEs. A null
    * endpoint is not a node: an edge with one null end keeps only its
    * other end (as an isolated node unless other edges reach it). */
  def propagate(edges: DataFrame, a: String, b: String, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // (node, neighbor) in both directions, partitioned ONCE by node; a
    // one-sided edge becomes a self-loop so its endpoint stays a node
    val adj = edges.select(col(a).cast("long"), col(b).cast("long"))
      .queryExecution.toRdd.flatMap { r =>
        if (r.isNullAt(0) && r.isNullAt(1)) Iterator.empty
        else if (r.isNullAt(0)) Iterator((r.getLong(1), r.getLong(1)))
        else if (r.isNullAt(1)) Iterator((r.getLong(0), r.getLong(0)))
        else Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
      }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // every node is a key of adj, and adj's partitions are key-disjoint
    val init: RDD[(Long, Long)] = adj.mapPartitions(
      _.map(_._1).distinct.map(n => (n, n)), preservesPartitioning = true)
    val lab = (0 until rounds).foldLeft(init) { (lab, _) =>
      // narrow join: partition i of the labels covers exactly the nodes of
      // adj's partition i, so each neighbor row streams past a label map
      // of its own partition's nodes (no per-node neighbor lists)
      adj.zipPartitions(lab) { (es, ls) =>
        val own = mutable.LongMap.empty[Long]
        ls.foreach { case (n, l) => own.update(n, l) }
        own.iterator ++ es.map { case (n, nb) => (nb, own(n)) }
      }.reduceByKey(part, (x: Long, y: Long) => math.min(x, y))
    }
    val schema = StructType(Seq(StructField("node", LongType), StructField("label", LongType)))
    val out = spark.createDataFrame(lab.map { case (n, l) => Row(n, l) }, schema)
      .localCheckpoint(true)
    adj.unpersist(blocking = false)
    out
  }

  /** Pointer jump: every node additionally adopts its current label's OWN
    * label (label-of-label hop). Composed with the neighbor-min step this
    * is path doubling — labels reach the component minimum in
    * O(log diameter) rounds instead of O(diameter). */
  private def jump(lab: DataFrame): DataFrame =
    lab.join(lab.select(col("node").as("label"), col("label").as("_ll")), Seq("label"), "left")
      .select(col("node"), least(col("label"), coalesce(col("_ll"), col("label"))).as("label"))

  /** Propagate until no label changes (≤ maxRounds) — exact CC for
    * arbitrary diameter. Each round is neighbor-min + pointer jump, so
    * convergence needs O(log diameter) rounds and the default bound covers
    * any real graph. One extra count() per round for the fixpoint test.
    * (The fixed-rounds `propagate` deliberately omits the jump: its SQL
    * oracle replays plain neighbor-min rounds.) */
  def converge(edges: DataFrame, a: String, b: String, maxRounds: Int = 64): DataFrame = {
    // UNBOUNDED loop ⇒ graft.core.Iterate.materialize, NOT localCheckpoint:
    // Spark 4 carries estimated stats through checkpoints, and with three
    // joins per round the estimated sizeInBytes grows 3^r in bit-width —
    // past ~20 rounds the driver live-locks in BigInteger multiplication
    // during planning (observed on the sf1 bench).
    val dirS = graft.core.Iterate.materialize(directed(edges, a, b))
    val dir = dirS.df
    var labS = graft.core.Iterate.materialize(initLabels(dir))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nextS = graft.core.Iterate.materialize(jump(step(dir, labS.df)))
      changed = nextS.df.as("n").join(labS.df.as("p"), col("n.node") === col("p.node"))
        .filter(col("n.label") =!= col("p.label")).count()
      labS.unpersist()
      labS = nextS
      round += 1
    }
    dirS.unpersist()
    labS.df
  }
}
