package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed 2-D DBSCAN (reference python/cuml/cluster/dbscan.pyx,
  * cpp/src/dbscan/ — cuML materializes the eps-neighborhood graph on GPU).
  *
  * Spark-first shape for 100 TB:
  *  1. bucket points into grid cells of width eps/√2 (pure map). The cell
  *     DIAGONAL is then exactly eps, so any two points sharing a cell are
  *     eps-neighbors — cell-level merging is exact, not an approximation
  *     (an eps-wide cell would merge points up to eps·√2 apart);
  *  2. candidate pairs only between points within ±2 cells (eps spans at
  *     most 2 cell widths — bounded 5×5 fan-out, never all-pairs), each
  *     pair distance-verified against eps;
  *  3. core points from exact neighbor counts;
  *  4. connected components on the CELL graph over distance-verified
  *     core-core edges: exact because same-cell cores are always mutual
  *     eps-neighbors (1.), and the number of occupied cells is bounded by
  *     area/cellWidth² (not by n), so the distinct core-cell edge list
  *     collapses to a driver-sized union-find — one pass over the pairs,
  *     no iterative label propagation over points.
  */
object DBSCANGrid {
  /** 2-D entry point (kept for the query surface); delegates to the
    * n-dimensional grid, whose d=2 specialization is bit-identical
    * (62/2 = 31-bit packed halves, ±2-cell half-plane window). */
  def fit(points: DataFrame, idCol: String, xCol: String, yCol: String,
          eps: Double, minPts: Int, ccEdgeLimit: Long = 500000L): DataFrame =
    fitND(points, idCol, Seq(xCol, yCol), eps, minPts, ccEdgeLimit)

  /** Steps 1-2 of the grid estimator, shared with [[coreSummary]]: the
    * packed fine/coarse cell frame and the distance-verified eps-pair set
    * (normalized id < bid), both cached — callers unpersist. */
  private def cellsAndPairs(points: DataFrame, idCol: String, featCols: Seq[String],
                            eps: Double): (DataFrame, DataFrame) = {
    val d = featCols.size
    require(d >= 2 && d <= 5, s"grid DBSCAN supports 2..5 dims, got $d")
    val xs = featCols.indices
    val pts = points.select((col(idCol).cast("long").as("id") +:
      xs.map(i => col(featCols(i)).cast("double").as(s"x$i"))): _*)

    // 1. per-axis cell coordinates packed into one long key (Horner):
    // fine (width eps/√d, exact same-cell merging) for the CC grid,
    // coarse (width eps, ±1 candidate window) for the pair join
    val cw = eps / math.sqrt(d.toDouble)
    val bits = 62 / d
    val Half = 1L << (bits - 1)
    val Mult = 1L << bits
    def packed(width: Double) =
      xs.map(i => floor(col(s"x$i") / width).cast("long") + Half)
        .reduceLeft((acc, c) => acc * Mult + c)
    val withCell = pts.withColumn("fcell", packed(cw))
      .withColumn("cell", packed(eps)).cache()

    // extent guard: a cell coordinate outside the per-axis bit budget
    // would silently corrupt the packed-key neighbor arithmetic (missed
    // pairs, split clusters) — fail loudly instead. One cheap aggregate;
    // the estimator is multi-pass anyway. Checked on the FINE grid (the
    // larger coordinates) with ⌈√d⌉ cells of headroom, which covers the
    // coarse key's ±1 offset arithmetic a fortiori.
    val headroom = math.ceil(math.sqrt(d.toDouble)).toLong
    val cellAbs = greatest(xs.map(i => abs(floor(col(s"x$i") / cw).cast("long"))): _*)
    val maxCell = pts.agg(max(cellAbs)).head().getLong(0)
    require(maxCell < Half - headroom,
      s"coordinate extent needs |coord/cellWidth| = $maxCell cells but the " +
        s"$bits-bit per-axis budget at d=$d allows ${Half - headroom - 1} — " +
        "increase eps or rescale the features")

    // 2. candidate pairs via HALF-SPACE replication of the build side over
    // the coarse ±1 window: origin + offsets whose first nonzero component
    // is positive. H ∩ −H = {origin}, so every unordered cross-cell pair
    // materializes exactly once in one orientation; same-cell pairs
    // (origin offset) are deduped by id<bid. (3^d+1)/2 offsets — d=2: 5,
    // d=3: 14, d=5: 122.
    val vecs = xs.foldLeft(Seq(List.empty[Long])) { (acc, _) =>
      for (v <- acc; x <- -1L to 1L) yield v :+ x
    }
    val offsets = vecs
      .filter(v => v.find(_ != 0L).forall(_ > 0L))
      .map(v => v.foldLeft(0L)((acc, x) => acc * Mult + x))
    val build = withCell.select((col("id").as("bid") +:
        xs.map(i => col(s"x$i").as(s"bx$i")) :+ col("cell").as("bcell")): _*)
      .withColumn("cell", explode(array(offsets.map(o => col("bcell") + o): _*)))
    val sqDist = xs.map(i => (col(s"x$i") - col(s"bx$i")) * (col(s"x$i") - col(s"bx$i")))
      .reduce(_ + _)
    // cheap per-axis rejects short-circuit before the full distance: most
    // window candidates fail on a single coordinate, and the axis check is
    // one subtract+compare vs d multiplies
    val axisPrune = xs.map(i => abs(col(s"x$i") - col(s"bx$i")) <= eps).reduce(_ && _)
    val probe = withCell.select((col("id") +: col("cell") +:
      xs.map(i => col(s"x$i"))): _*)
    val pairs = probe.join(build, Seq("cell"))
      .filter(col("cell") =!= col("bcell") || col("id") < col("bid"))
      .filter(axisPrune && sqDist <= eps * eps)
      .select(least(col("id"), col("bid")).as("id"),
        greatest(col("id"), col("bid")).as("bid")).cache()
    (withCell, pairs)
  }

  /** n-dimensional grid DBSCAN (reference dbscan.pyx accepts any feature
    * count). TWO grids, one job each does what one grid cannot do cheaply:
    *
    *  - candidate PAIRS come from COARSE cells of width eps: two points
    *    within eps are within ±1 coarse cell per axis, so the window is
    *    3^d and half-space replication is (3^d+1)/2 offsets (d=3: 14 — vs
    *    63 on a fine ±⌈√d⌉ window, 4.5× less explode/shuffle volume, the
    *    term that dominates at corpus scale). Every candidate is still
    *    distance-verified, so the pair set is EXACTLY all eps-pairs.
    *  - cluster MERGING runs on FINE cells of width eps/√d: the fine-cell
    *    diagonal is exactly eps, so same-fine-cell core points are always
    *    mutual eps-neighbors and the cell-graph CC is exact, with the
    *    graph bounded by occupied cells, not by n.
    *
    * The grid method is for LOW d (the regime where cuML's own grid/rtree
    * strategies win; at high d use knnJoin-style brute force), enforced by
    * d ≤ 5.
    *
    * Cell coordinates pack into one long key, ⌊62/d⌋ bits per axis
    * (signed-centered: valid for |coord/cw| < 2^(bits−1) — at d=2 that
    * is the old 31-bit layout, at d=3 a ±2^19-cell extent per axis; the
    * fine grid has the larger coordinates, so its extent guard also
    * covers the coarse key).
    *
    * @param ccEdgeLimit cell-edge count above which the connected
    *   components run distributed (min-label propagation) instead of in a
    *   driver union-find. The occupied-cell graph is usually tiny next to
    *   n, but sparse data over a huge extent can make it data-scale too —
    *   both paths produce identical labels (component rep = min cell id). */
  def fitND(points: DataFrame, idCol: String, featCols: Seq[String],
            eps: Double, minPts: Int, ccEdgeLimit: Long = 500000L): DataFrame = {
    val (withCell, pairs) = cellsAndPairs(points, idCol, featCols, eps)
    val bothDirs = pairs.unionAll(pairs.select(col("bid").as("id"), col("id").as("bid")))

    // 3. core points (deg counts the point itself implicitly via minPts-1)
    val degrees = bothDirs.groupBy("id").agg(count(lit(1)).as("deg"))
    val core = withCell.join(degrees, Seq("id"), "left")
      .withColumn("is_core", coalesce(col("deg"), lit(0L)) >= (minPts - 1))
      .select(col("id"), col("fcell").as("cell"), col("is_core")).cache()

    // 4. distinct core-cell edges -> connected components. Small graphs
    // collapse into a driver union-find (zero extra jobs); past
    // ccEdgeLimit the CC runs distributed as min-label propagation — both
    // label every cell with the min cell id of its component.
    val coreSide = core.filter(col("is_core"))
    val cellEdgeDF = pairs
      .join(coreSide.select(col("id"), col("cell").as("ca")), Seq("id"))
      .join(coreSide.select(col("id").as("bid"), col("cell").as("cb")), Seq("bid"))
      .select(col("ca"), col("cb")).distinct().cache()
    val spark = points.sparkSession
    import spark.implicits._
    val rootDF =
      if (cellEdgeDF.count() > ccEdgeLimit)
        graft.graph.ConnectedComponents.converge(cellEdgeDF, "ca", "cb")
          .select(col("node").as("cell"), col("label").as("root"))
      else {
        val cellEdges = cellEdgeDF.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(a: Long): Long = {
          var r = a
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = a
          while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        cellEdges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val roots = parent.keys.map(c => (c, find(c))).toSeq
        broadcast(roots.toDF("cell", "root"))
      }

    // core labels: component root -> renumber by min core id (determinism)
    val coreLabeled = coreSide
      .join(rootDF, Seq("cell"), "left")
      .withColumn("root", coalesce(col("root"), col("cell"))) // isolated core cell
    val rename = coreLabeled.groupBy("root").agg(min(col("id")).as("cluster"))
    val coreOut = coreLabeled.join(broadcast(rename), Seq("root"))
      .select(col("id"), col("cluster"))

    // border points attach to the min-cluster core neighbor; noise = -1
    // (bothDirs: the core neighbor can sit on either side of the half-pair)
    val borderLabel = bothDirs
      .join(coreOut.select(col("id").as("bid"), col("cluster").as("bcl")), Seq("bid"))
      .groupBy("id").agg(min(col("bcl")).as("border_cluster"))
    val out = core.select(col("id"), col("is_core"))
      .join(coreOut, Seq("id"), "left")
      .join(borderLabel, Seq("id"), "left")
      .select(col("id"), col("is_core"),
        coalesce(col("cluster"), col("border_cluster"), lit(-1L)).as("cluster"))
      .localCheckpoint(true) // materialize, then drop the intermediate caches
    withCell.unpersist(); pairs.unpersist(); core.unpersist(); cellEdgeDF.unpersist()
    out
  }

  /** Out-of-sample DBSCAN assignment — the fit/predict separation of the
    * estimator contract: a new point takes the cluster of its NEAREST
    * core point within eps (ties → smaller core id), else noise (−1).
    * Same coarse-cell bounded-fan-out/verify shape as the fit's pair
    * stage, but asymmetric: the CORE side replicates over the full 3^d
    * offset window while query points never fan out, so the shuffle is
    * |queries| + 3^d·|cores| regardless of corpus size.
    * `fitted` is [[fitND]] output for `train`. */
  def predictND(train: DataFrame, fitted: DataFrame, idCol: String,
                featCols: Seq[String], newPoints: DataFrame, newIdCol: String,
                eps: Double): DataFrame = {
    val d = featCols.size
    require(d >= 2 && d <= 5, s"grid DBSCAN supports 2..5 dims, got $d")
    val xs = featCols.indices
    val bits = 62 / d
    val Half = 1L << (bits - 1)
    val Mult = 1L << bits
    def packShifted(coords: Seq[Column]): Column =
      coords.map(_ + Half).reduceLeft((acc, c) => acc * Mult + c)
    val offsets = xs.foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _))
    }
    val cores = train
      .select(col(idCol).cast("long").as("bid") +:
        xs.map(i => col(featCols(i)).cast("double").as(s"bx$i")): _*)
      .join(fitted.filter(col("is_core"))
        .select(col("id").as("bid"), col("cluster")), "bid")
    val coreCells = cores.withColumn("cell", explode(array(offsets.map(off =>
      packShifted(xs.map(i =>
        floor(col(s"bx$i") / eps).cast("long") + off(i)))): _*)))
    val q = newPoints.select(col(newIdCol).cast("long").as("id") +:
      xs.map(i => col(featCols(i)).cast("double").as(s"qx$i")): _*)
      .withColumn("cell", packShifted(xs.map(i => floor(col(s"qx$i") / eps).cast("long"))))
    val d2 = xs.map(i => (col(s"qx$i") - col(s"bx$i")) * (col(s"qx$i") - col(s"bx$i")))
      .reduce(_ + _)
    val hits = q.join(coreCells, Seq("cell"))
      .filter(d2 <= eps * eps)
      .select(col("id"), col("cluster"), round(d2, 6).as("_d2"), col("bid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("_d2"), col("bid"))
    val assigned = hits.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).select(col("id"), col("cluster"))
    q.select(col("id")).join(assigned, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** Deterministic summary for the query surface. */
  def summary(points: DataFrame, idCol: String, xCol: String, yCol: String,
              eps: Double, minPts: Int): DataFrame =
    summarize(fit(points, idCol, xCol, yCol, eps, minPts))

  /** n-D variant of [[summary]]. */
  def summaryND(points: DataFrame, idCol: String, featCols: Seq[String],
                eps: Double, minPts: Int): DataFrame =
    summarize(fitND(points, idCol, featCols, eps, minPts))

  /** Deterministic DBSCAN structure summary — the SQL-oracle-able slice of
    * the family: core/border/noise classification and the eps-pair count
    * are closed-form given (eps, minPts) (cluster LABELS additionally need
    * the iterative connected components, which stays parity-spec-gated in
    * [[fitND]]). Same coarse-cell candidate machinery as the full
    * estimator, so the hash gate exercises the exact pair-generation path.
    * Output: one row (n_points, n_eps_pairs, n_core, n_border, n_noise). */
  def coreSummary(points: DataFrame, idCol: String, featCols: Seq[String],
                  eps: Double, minPts: Int): DataFrame = {
    val (withCell, pairs) = cellsAndPairs(points, idCol, featCols, eps)
    val bothDirs = pairs.unionAll(pairs.select(col("bid").as("id"), col("id").as("bid")))
    val degrees = bothDirs.groupBy("id").agg(count(lit(1)).as("deg"))
    val flagged = withCell.select(col("id")).join(degrees, Seq("id"), "left")
      .withColumn("is_core", coalesce(col("deg"), lit(0L)) >= (minPts - 1))
    // border = non-core with at least one CORE eps-neighbor
    val hasCoreNbr = bothDirs
      .join(flagged.filter(col("is_core")).select(col("id").as("bid")), Seq("bid"))
      .select(col("id")).distinct().withColumn("_nbr", lit(true))
    val classified = flagged.join(hasCoreNbr, Seq("id"), "left")
    val nPairs = pairs.groupBy().agg(count(lit(1)).cast("long").as("n_eps_pairs"))
    val out = classified.groupBy().agg(
        count(lit(1)).cast("long").as("n_points"),
        sum(when(col("is_core"), 1L).otherwise(0L)).cast("long").as("n_core"),
        sum(when(!col("is_core") && col("_nbr").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_border"),
        sum(when(!col("is_core") && col("_nbr").isNull, 1L).otherwise(0L))
          .cast("long").as("n_noise"))
      .crossJoin(broadcast(nPairs))
      .select(col("n_points"), col("n_eps_pairs"), col("n_core"),
        col("n_border"), col("n_noise"))
      .localCheckpoint(true) // materialize, then release the shared caches
    withCell.unpersist(); pairs.unpersist()
    out
  }

  private def summarize(f: DataFrame): DataFrame =
    f.groupBy((col("cluster") >= 0).as("clustered")).agg(
        count(lit(1)).as("n"),
        countDistinct(when(col("cluster") >= 0, col("cluster"))).as("n_clusters"),
        sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"))
      .orderBy("clustered")

  /** PARTIAL HASH GATE summary (r11): the closed-form structure slice —
    * clustered/noise counts and core counts, the exact quantities
    * [[coreSummary]]'s DuckDB replay derives — hashed exactly, with the
    * iterative CC's cluster count reduced to its exact bounds (1..n_core
    * on the clustered side, 0 on the noise side). Full label parity stays
    * spec-gated against brute force. */
  def summaryGate(points: DataFrame, idCol: String, featCols: Seq[String],
                  eps: Double, minPts: Int): DataFrame =
    fitND(points, idCol, featCols, eps, minPts)
      .groupBy((col("cluster") >= 0).as("clustered")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"),
        countDistinct(when(col("cluster") >= 0, col("cluster"))).as("_k"))
      .select(col("clustered"), col("n"), col("n_core"),
        when(col("clustered"), col("_k") >= 1 && col("_k") <= col("n_core"))
          .otherwise(col("_k") === 0).as("n_clusters_bounded"))
      .orderBy("clustered")
}
