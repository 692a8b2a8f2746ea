package graft.cluster

import graft.core.{FitCache, Rows}
import graft.core.Num.r4
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clustering surface (reference python/cuml/cluster/kmeans.pyx,
  * dbscan.pyx). KMeansGraft fits with [[Lloyd]], the library's one
  * k-means (best-of-8 k-means++ seeding of a bounded sample, then Lloyd
  * rounds over cached primitive rows), which also trains the IVF coarse
  * quantizer and seeds the PQ codebooks.
  */
object KMeansGraft {
  /** The seeded fit shared by [[fitSummary]] and [[fitGate]]: the features
    * become cached primitive rows, [[Lloyd.fit]] finds the centers (the
    * FitCache entry, under one "kmeans" key for both views), and one more
    * pass over the same rows gives the per-cluster sizes and sums and the
    * SSE, which `use` reads (with the rows, for a further pass). The rows are
    * unpersisted before it returns. */
  private def withFit[T](df: DataFrame, features: Seq[String], k: Int, seed: Long,
                         maxIter: Int)(use: (RDD[Array[Double]], Lloyd.Pass) => T): T = {
    val rows = Rows.cached(df, features.map(col))
    try {
      val centers = FitCache.getOrFit(FitCache.key(df, "kmeans", features.mkString(","),
        k, seed, maxIter)) {
        Lloyd.fit(rows, k, maxIter, tol = 1e-8, seed)
      }
      use(rows, Lloyd.pass(rows, centers))
    } finally rows.unpersist(blocking = false)
  }

  /** Fit the graft k-means (the Spark-native counterpart of cuML's GPU
    * Lloyd; same objective, seeded). Returns per-cluster size and centroid,
    * ordered by size desc for a deterministic presentation. */
  def fitSummary(df: DataFrame, features: Seq[String], k: Int, seed: Long = 42L,
                 maxIter: Int = 20): DataFrame = {
    val p = withFit(df, features, k, seed, maxIter)((_, p) => p)
    val spark = df.sparkSession
    import spark.implicits._
    p.counts.indices.filter(p.counts(_) > 0).sortBy(j => (-p.counts(j), j))
      .map(j => (p.counts(j), p.sums(j).map(_ / p.counts(j))))
      .toDF("size", "_m")
      .select(col("size") +: features.zipWithIndex.map { case (f, i) =>
        r4(col("_m")(i)).as(s"mean_$f")
      }: _*)
  }

  /** PARTIAL HASH GATE row for the seeded k-means fit: point count
    * (SQL-exact), the BOUNDED non-empty-cluster invariant 1 ≤ k' ≤ k
    * (an exact k' would fail spuriously if Lloyd ever left a cluster
    * empty on degenerate data — same discipline as DBSCAN's
    * n_clusters_bounded), and the invariant SSE < total sum of squares
    * (the k=1 solution — any useful k=4 fit sits strictly below it).
    * Centroid coordinates stay spec-gated. */
  def fitGate(df: DataFrame, features: Seq[String], k: Int, seed: Long = 42L,
              maxIter: Int = 20): DataFrame = {
    // the total sum of squares is the SSE of the one-center fit at the
    // mean, summed term by term (no Σ‖x‖² − ‖Σx‖²/n cancellation: constant
    // features give exactly the fit's own SSE)
    val (p, tss) = withFit(df, features, k, seed, maxIter) { (rows, p) =>
      val n = p.counts.sum
      val mean = features.indices.map(x => p.sums.map(_(x)).sum / n).toArray
      (p, Lloyd.pass(rows, Array(mean)).sse)
    }
    val n = p.counts.sum
    val kk = p.counts.count(_ > 0)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, kk >= 1 && kk <= k, p.sse < tss))
      .toDF("n_points", "n_clusters_bounded", "sse_lt_totss")
  }

  /** The assignment step (KMeans.predict) as a pure codegen'd expression:
    * argmin of squared distance to fixed centroids. Zero shuffle — this is
    * the piece that scores 100 TB of rows against a broadcast model. */
  def assign(features: Seq[Column], centroids: Seq[Seq[Double]]): Column = {
    val dists = centroids.map { c =>
      features.zip(c).map { case (f, ci) => (f - ci) * (f - ci) }.reduce(_ + _)
    }
    val best = least(dists: _*)
    dists.zipWithIndex.foldRight(lit(-1)) { case ((d, i), acc) =>
      when(d === best, lit(i)).otherwise(acc)
    }
  }

  /** Distance to EACH fixed centroid — cuML KMeans.transform(), which
    * returns the n×k centroid-distance matrix (reference
    * python/cuml/cluster/kmeans.pyx transform). Pure codegen'd columns,
    * zero shuffle: the 100 TB shape of scoring rows against a broadcast
    * model. */
  def distances(features: Seq[Column], centroids: Seq[Seq[Double]]): Seq[Column] =
    centroids.map { c =>
      sqrt(features.zip(c).map { case (f, ci) => (f - ci) * (f - ci) }.reduce(_ + _))
    }

  /** Squared distance to the NEAREST fixed centroid — the per-row term of
    * KMeans.score()/inertia_. Same codegen'd zero-shuffle shape as
    * [[assign]]; summing it per assigned cluster is the scoring pass. */
  def minSqDist(features: Seq[Column], centroids: Seq[Seq[Double]]): Column =
    least(centroids.map { c =>
      features.zip(c).map { case (f, ci) => (f - ci) * (f - ci) }.reduce(_ + _)
    }: _*)
}

/** DBSCAN. The exact 1-D case is fully expressible with range windows
  * (sort by value; a core point has ≥ minPts neighbors within eps; clusters
  * break where consecutive core points gap > eps). Until r11 this ran as
  * ONE global-order window — a single-partition sort that caps out on one
  * executor at scale. r12 range-partitions on value: points hash to
  * width-W buckets (W ≥ eps, so a ±eps range spans at most the adjacent
  * buckets), boundary points are MIRRORED into the neighbor bucket for
  * the neighbor count, per-bucket windows do the gap scan, and only the
  * bucket-summary frame (≤ #buckets rows: first/last core value + local
  * segment count) crosses partitions to stitch chains that span a bucket
  * boundary. Output is bit-identical to the global-window formulation.
  * Reference: cuml.DBSCAN (reference python/cuml/cluster/dbscan.pyx;
  * cpp/src/dbscan/).
  */
object DBSCAN {
  /** Returns (id, value, is_core, cluster) for core points; cluster = dense
    * index of the core-chain, -1 for non-core. */
  def oneD(df: DataFrame, idCol: String, valueCol: String,
           eps: Double, minPts: Int, nBuckets: Int = 0): DataFrame = {
    // range frames need integral offsets in the DataFrame API: work in
    // integer cents (values here carry 2 decimals), eps likewise.
    val epsC = math.round(eps * 100)
    val buckets = if (nBuckets > 0) nBuckets
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val v = round(col(valueCol).cast("double") * 100).cast("long")
    val pts = df.select(col(idCol).cast("long").as("id"), v.as("v"))
    // ONE stats pass picks the bucket width (driver reads 1 row)
    val st = pts.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n")).head()
    if (st.getLong(2) == 0L)
      return pts.select(col("id"), r4(col("v") / 100.0).as("value"),
        lit(false).as("is_core"), lit(-1L).as("cluster"))
    val lo = st.getLong(0)
    val bW = math.max(epsC, (st.getLong(1) - lo) / buckets + 1)
    val maxB = (st.getLong(1) - lo) / bW
    val home = pts.withColumn("b", ((col("v") - lo) / bW).cast("long"))
      .withColumn("home", lit(true))
    // mirror boundary points into the adjacent bucket so its range
    // window sees every true ±eps neighbor; mirrors are counted but
    // never emitted (home=false)
    val off = (col("v") - lo) % bW
    val mirrorL = home.filter(off < epsC && col("b") > 0)
      .withColumn("b", col("b") - 1).withColumn("home", lit(false))
    val mirrorR = home.filter(off >= bW - epsC && col("b") < maxB)
      .withColumn("b", col("b") + 1).withColumn("home", lit(false))
    val all = home.unionByName(mirrorL).unionByName(mirrorR)
    val wRange = Window.partitionBy(col("b")).orderBy(col("v"))
      .rangeBetween(-epsC, epsC)
    val counted = all.withColumn("n_nbr", count(lit(1)).over(wRange))
      .filter(col("home"))
      .withColumn("is_core", col("n_nbr") >= minPts)
    // per-bucket gap scan over cores: local dense segment index
    val wSeq = Window.partitionBy(col("b")).orderBy(col("v"), col("id"))
    val cores = counted.filter(col("is_core"))
      .withColumn("gap", col("v") - lag(col("v"), 1).over(wSeq))
      .withColumn("new_seg", when(col("gap").isNull || col("gap") > epsC, 1L).otherwise(0L))
      .withColumn("local_seg", sum(col("new_seg")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
    // bucket summary (≤ #buckets rows): stitch cross-boundary chains.
    // base(b) = global cluster id of the bucket's first segment; a
    // bucket whose first core sits within eps of the previous non-empty
    // bucket's last core continues that cluster. The single-partition
    // window here runs over the TINY summary frame, never the data.
    val wB = Window.orderBy(col("b"))
    val bases = cores.groupBy(col("b"))
      .agg((max(col("local_seg")) + 1).as("n_segs"),
        min(col("v")).as("first_v"), max(col("v")).as("last_v"))
      .withColumn("prev_last", lag(col("last_v"), 1).over(wB))
      .withColumn("merged", when(col("prev_last").isNotNull &&
        col("first_v") - col("prev_last") <= epsC, 1L).otherwise(0L))
      .withColumn("segs_before", coalesce(sum(col("n_segs")).over(
        wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("merges_through", sum(col("merged")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("b"), (col("segs_before") - col("merges_through")).as("base"))
    val clustered = cores.join(broadcast(bases), Seq("b"))
      .select(col("id"), (col("base") + col("local_seg")).as("cluster"))
    counted.join(clustered, Seq("id"), "left")
      .select(col("id"), r4(col("v") / 100.0).as("value"),
        col("is_core"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
