package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** The iteration substrate of the library's driver-loop fits
  * (GradientSolver's SGD / QN passes, the k-means Lloyd rounds): a
  * projection materialized as a cached primitive `RDD[Array[Double]]`, so
  * every round is a cache scan plus map-side partial aggregation instead of
  * a re-planned, re-compiled Catalyst aggregate (the weights or centers
  * change every round). The caller owns the storage: it unpersists the rows
  * before it returns.
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
    df.select(vec.cast("array<double>")).rdd.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException("null vector")
      r.getSeq[Any](0).iterator.map {
        case d: Double => d
        case _ => throw new IllegalArgumentException(s"null element in vector $r")
      }.toArray
    }.persist(StorageLevel.MEMORY_AND_DISK)
}
