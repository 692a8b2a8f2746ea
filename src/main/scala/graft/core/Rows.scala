package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** The iteration substrate of the library's driver-loop fits
  * (GradientSolver's SGD / QN passes, the k-means Lloyd rounds, the forest
  * levels): a projection materialized as a cached primitive
  * `RDD[Array[Double]]`, so every round is a cache scan plus map-side
  * partial aggregation instead of a re-planned, re-compiled Catalyst
  * aggregate (the weights or centers change every round). The caller
  * owns the storage: it unpersists the rows before it returns.
  *
  * A null input fails the job loudly, as MLlib's VectorAssembler does by
  * default; it is never read as 0.0. */
object Rows {
  /** One row of the given scalar columns, each cast to double. */
  def cached(df: DataFrame, cols: Seq[Column]): RDD[Array[Double]] =
    of(df, cols).persist(StorageLevel.MEMORY_AND_DISK)

  /** [[cached]] without the storage: for a single pass over the rows. */
  def of(df: DataFrame, cols: Seq[Column]): RDD[Array[Double]] = {
    val p = cols.size
    val names = cols.map(_.toString)
    df.select(cols.zipWithIndex.map { case (c, i) => c.cast("double").as(s"_f$i") }: _*)
      .rdd.map { r =>
        val a = new Array[Double](p)
        var i = 0
        while (i < p) {
          if (r.isNullAt(i)) throw new IllegalArgumentException(s"null ${names(i)} in row $r")
          a(i) = r.getDouble(i)
          i += 1
        }
        a
      }
  }

  /** The elements of one array column (e.g. an `array<float>` embedding),
    * cast to double: one primitive row per input row. */
  def cachedVectors(df: DataFrame, vec: Column): RDD[Array[Double]] =
    vectors(df, vec).persist(StorageLevel.MEMORY_AND_DISK)

  /** [[cachedVectors]] without the storage: for a single pass. */
  def vectors(df: DataFrame, vec: Column): RDD[Array[Double]] =
    df.select(vec.cast("array<double>")).rdd.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException("null vector")
      r.getSeq[Any](0).iterator.map {
        case d: Double => d
        case _ => throw new IllegalArgumentException(s"null element in vector $r")
      }.toArray
    }

  /** One pass that folds each partition into one partial with `part`
    * (given the partition index) and merges the partials with `merge` in
    * partition order, as a depth-2 tree. Up to the size where
    * treeAggregate (depth 2) adds no level, the driver merges the P
    * partials in partition order. Above it, runs of about √P consecutive
    * partitions are merged in partition order on the executors first, so
    * the driver receives about √P partials, not P. treeAggregate itself
    * merges in task-completion order, so its floating-point sums could
    * differ in the last bits from run to run; the fixed order makes
    * identical rows give identical results. */
  def fold[T, A: ClassTag](rows: RDD[T])(part: (Int, Iterator[T]) => A)(
      merge: (A, A) => A): A = {
    val partials = rows.mapPartitionsWithIndex((p, it) => Iterator((p, part(p, it))))
    // treeAggregate's depth-2 rule: the group level runs only when P
    // exceeds scale + ⌈P/scale⌉
    val nP = rows.getNumPartitions
    require(nP > 0, "no partitions to fold")
    val scale = math.max(math.ceil(math.sqrt(nP)).toInt, 2)
    val nGroups = (nP + scale - 1) / scale
    val merged =
      if (nP <= scale + nGroups) partials.collect()
      else partials.map { case (p, a) => (p / scale, (p, a)) }.groupByKey(nGroups)
        .map { case (g, ps) => (g, ps.toSeq.sortBy(_._1).map(_._2).reduce(merge)) }
        .collect()
    merged.sortBy(_._1).map(_._2).reduce(merge)
  }

  /** Element-wise `a += b`, returning `a`: the merge of additive partials. */
  def add(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
