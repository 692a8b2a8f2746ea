package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Connected components of an undirected edge list by min-label
  * propagation: every node ends labelled with the minimum node id of its
  * component (reference cpp/src/dbscan/ runs its CC on-GPU; here a graph
  * that is data-scale never leaves the cluster).
  *
  * Each round every node takes the minimum label over itself and its
  * neighbors; labels only decrease. Rounds run on RDDs: the edge list is
  * hash-partitioned by node ONCE and the labels stay under the same
  * partitioner, so a round's neighbor min is one narrow (partition-local)
  * zip plus one `reduceByKey(min)` shuffle. [[propagate]] runs exactly
  * that round a fixed number of times in one job; [[converge]] adds a
  * pointer jump per round and runs to the fixpoint, one job per round.
  *
  * A null endpoint is not a node: an edge with one null end keeps only its
  * other end (as an isolated node unless other edges reach it), and an edge
  * with two null ends is dropped.
  */
object ConnectedComponents {
  /** Edge count up to which [[converge]] collects the edge list into a
    * driver union-find: a few MB of longs, and no round jobs. */
  private val DriverEdges = 500000L

  private val Schema = StructType(Seq(StructField("node", LongType), StructField("label", LongType)))

  /** Runs `rounds` on the edge list's adjacency and returns its labels as
    * a (node, label) frame on one checkpoint, which ends the lineage so the
    * adjacency is released. The adjacency is (node, neighbor) in both
    * directions, hash-partitioned ONCE by node; a one-sided edge becomes a
    * self-loop so its endpoint stays a node. */
  private def overAdjacency(edges: DataFrame, a: String, b: String)(
      rounds: (RDD[(Long, Long)], HashPartitioner) => RDD[(Long, Long)]): DataFrame = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj = edges.select(col(a).cast("long"), col(b).cast("long"))
      .queryExecution.toRdd.flatMap { r =>
        if (r.isNullAt(0) && r.isNullAt(1)) Iterator.empty
        else if (r.isNullAt(0)) Iterator((r.getLong(1), r.getLong(1)))
        else if (r.isNullAt(1)) Iterator((r.getLong(0), r.getLong(0)))
        else Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
      }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val lab = rounds(adj, part)
    val out = spark.createDataFrame(lab.map { case (n, l) => Row(n, l) }, Schema)
      .localCheckpoint(true)
    adj.unpersist(blocking = false)
    out
  }

  /** Every node labelled with itself: every node is a key of `adj`, and
    * adj's partitions are key-disjoint. */
  private def selfLabels(adj: RDD[(Long, Long)]): RDD[(Long, Long)] =
    adj.mapPartitions(_.map(_._1).distinct.map(n => (n, n)), preservesPartitioning = true)

  /** The labels of one partition by node. */
  private def byNode(ls: Iterator[(Long, Long)]): mutable.LongMap[Long] = {
    val own = mutable.LongMap.empty[Long]
    ls.foreach { case (n, l) => own.update(n, l) }
    own
  }

  /** One round: min(own label, neighbor labels). A narrow zip — partition
    * i of the labels covers exactly the nodes of adj's partition i, so each
    * neighbor row streams past a label map of its own partition's nodes
    * (no per-node neighbor lists) — and one `reduceByKey(min)` shuffle. */
  private def neighborMin(adj: RDD[(Long, Long)], lab: RDD[(Long, Long)],
                          part: HashPartitioner): RDD[(Long, Long)] =
    adj.zipPartitions(lab) { (es, ls) =>
      val own = byNode(ls)
      own.iterator ++ es.map { case (n, nb) => (nb, own(n)) }
    }.reduceByKey(part, (x: Long, y: Long) => math.min(x, y))

  /** Pointer jump: every node adopts its label's own label (label-of-label
    * hop). The labels keyed by label shuffle to the partition that holds
    * each label's node, meet it there in a narrow zip, and shuffle back by
    * node. Composed with [[neighborMin]] this is path doubling: labels
    * reach the component minimum in O(log diameter) rounds instead of
    * O(diameter). */
  private def jump(lab: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] =
    lab.map(_.swap).partitionBy(part).zipPartitions(lab) { (byLabel, ls) =>
      val own = byNode(ls)
      byLabel.map { case (l, n) => (n, math.min(l, own.getOrElse(l, l))) }
    }.partitionBy(part)

  /** Nodes whose label differs between two co-partitioned label sets. */
  private def changed(old: RDD[(Long, Long)], next: RDD[(Long, Long)]): Long =
    old.zipPartitions(next) { (os, ns) =>
      val prev = byNode(os)
      Iterator.single(ns.count { case (n, l) => prev(n) != l }.toLong)
    }.fold(0L)(_ + _)

  /** Exactly `rounds` propagation rounds — deterministic and (for graphs
    * whose diameter < rounds) converged. The fixed count exists so a SQL
    * oracle can replay the identical computation as chained CTEs, and all
    * rounds run in one job. */
  def propagate(edges: DataFrame, a: String, b: String, rounds: Int): DataFrame =
    overAdjacency(edges, a, b) { (adj, part) =>
      (0 until rounds).foldLeft(selfLabels(adj))((lab, _) => neighborMin(adj, lab, part))
    }

  /** Exact connected components. Up to [[DriverEdges]] edges the edge list
    * is collected into a driver union-find ([[unionFind]]: one count and
    * one collect job, and a local result hinted for broadcast); past it
    * [[distributed]] runs neighbor-min + pointer-jump rounds until no label
    * changes, at most `maxRounds` of them. Both give every node the min
    * node id of its component; `maxRounds` bounds only the rounds, and the
    * default covers any real graph since convergence takes O(log diameter)
    * rounds. The rounds are RDD rounds because the loop is unbounded:
    * Spark 4 carries a frame's estimated size through `localCheckpoint`,
    * and in a loop of DataFrame joins that estimate multiplies each round
    * until planning live-locks. (The fixed-rounds [[propagate]]
    * deliberately omits the jump: its SQL oracle replays plain
    * neighbor-min rounds.) */
  def converge(edges: DataFrame, a: String, b: String, maxRounds: Int = 64): DataFrame =
    if (edges.count() <= DriverEdges) unionFind(edges, a, b)
    else distributed(edges, a, b, maxRounds)

  /** The driver path of [[converge]]: union by min root, with path
    * compression. */
  private[graft] def unionFind(edges: DataFrame, a: String, b: String): DataFrame = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select(col(a).cast("long"), col(b).cast("long")).collect().foreach { r =>
      if (!r.isNullAt(0) || !r.isNullAt(1)) {
        val (ra, rb) = (find(if (r.isNullAt(0)) r.getLong(1) else r.getLong(0)),
          find(if (r.isNullAt(1)) r.getLong(0) else r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val rows = parent.keys.toSeq.map(n => Row(n, find(n)))
    broadcast(edges.sparkSession.createDataFrame(rows.asJava, Schema))
  }

  /** The round path of [[converge]]: one job per round, which computes the
    * round's labels and counts the changed ones in a narrow zip with the
    * previous labels. Every round's labels live in its shuffle files, and
    * only the result is kept, on one checkpoint. */
  private[graft] def distributed(edges: DataFrame, a: String, b: String,
                                 maxRounds: Int): DataFrame =
    overAdjacency(edges, a, b) { (adj, part) =>
      var lab = selfLabels(adj)
      var round = 0
      var moved = 1L
      while (moved > 0 && round < maxRounds) {
        val next = jump(neighborMin(adj, lab, part), part)
        moved = changed(lab, next)
        lab = next
        round += 1
      }
      lab
    }
}
