package graft.neighbors

import graft.cluster.Lloyd
import graft.core.{FitCache, Rows}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors: a k-means coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * nprobe nearest cells and rerank exactly inside them.
  *
  * The 100 TB path: cells are the shuffle/partition key (corpus is written
  * bucketed by cell), probing touches nprobe/ncells of the data, and the
  * rerank is a codegen'd scan of those partitions. The quantizer is the
  * library's one k-means, [[graft.cluster.Lloyd]]: a bounded, seeded sample
  * is seeded by the local k-means++/Lloyd that also trains the PQ codebooks
  * (best of 8 restarts by SSE), then Lloyd rounds over the cached corpus
  * vectors refine it.
  */
object IVF {
  final case class Index(centers: Array[Array[Double]])

  def train(corpus: DataFrame, vecCol: String, nCells: Int, seed: Long = 42L): Index =
    // seeded k-means quantizer → deterministic → fit-once
    FitCache.getOrFit(FitCache.key(corpus, "ivf", vecCol, nCells, seed)) {
      val rows = Rows.cachedVectors(corpus, col(vecCol))
      try Index(Lloyd.fit(rows, nCells, maxIter = 15, tol = 1e-4, seed))
      finally rows.unpersist(blocking = false)
    }

  /** The nprobe nearest cells for a query vector ([[Lloyd.nearestN]]). */
  private def probeUdf(idx: Index, nprobe: Int) = udf { (v: Seq[Double]) =>
    Lloyd.nearestN(v.toArray, idx.centers, nprobe)
  }

  /** The corpus as (id, cv, cell): the rows an IVF list holds, each in its
    * [[Lloyd.nearest]] cell. A fully-unrolled expression tree over k·dim
    * literals exceeds the codegen method limit, so the assignment runs as a
    * JVM closure over the broadcast centers (tight primitive loop — faster
    * than the interpreted-expression fallback, and not part of any oracle
    * contract). */
  private def cells(corpus: DataFrame, idCol: String, vecCol: String, idx: Index): DataFrame = {
    val cell = udf((x: Seq[Double]) => Lloyd.nearest(x.toArray, idx.centers))
    KNN.vectors(corpus, Seq(col(idCol).cast("long").as("id")), vecCol, "cv")
      .select(col("id"), col("cv"), cell(col("cv")).as("cell"))
  }

  /** Top-k cosine neighbors probing nprobe cells per query. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           idx: Index, k: Int, nprobe: Int): DataFrame =
    probe(cells(corpus, idCol, vecCol, idx), queries, idCol, vecCol, idx, k, nprobe)

  /** Persist the corpus bucketed by quantizer cell — at scale the index IS
    * the table layout: probes then join bucket-to-bucket, so the corpus is
    * never re-shuffled at query time (only the small probe side moves).
    * Written once per index build, like any IVF list structure. */
  def writeBucketed(corpus: DataFrame, idCol: String, vecCol: String, idx: Index,
                    table: String, nBuckets: Int = 32): Unit =
    cells(corpus, idCol, vecCol, idx)
      .write.mode("overwrite").bucketBy(nBuckets, "cell")
      .format("parquet").saveAsTable(table)

  /** Top-k over a bucketed corpus table written by writeBucketed: the scan
    * side carries its bucketing, so the cell join adds no corpus exchange. */
  def topKBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   idx: Index, k: Int, nprobe: Int): DataFrame =
    probe(spark.table(table), queries, idCol, vecCol, idx, k, nprobe)

  /** The search both top-k entry points run over a corpus side of
    * (id, cv, cell): each query explodes into its nprobe nearest cells
    * (nprobe above the cell count probes them all), joins the corpus on the
    * cell, and the cosine-scored pairs rerank in [[KNN.topKPerKey]]'s
    * bounded top-k (partially aggregated map-side) instead of a row_number
    * window over the full O(candidates) pair set. Both sides carry their
    * squared norms, computed once per row, so a pair costs one dot. */
  private def probe(data: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                    idx: Index, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"IVF: nprobe must be at least 1, got $nprobe")
    val q = KNN.vectors(queries, Seq(col(idCol).cast("long").as("qid")), vecCol, "qv",
        normed = true)
      .select(col("qid"), col("qv"), col("sq_qv"),
        explode(probeUdf(idx, nprobe)(col("qv"))).as("cell"))
    val pairs = q.join(KNN.withNorm(data, "cv", normed = true), Seq("cell"))
      .select(col("qid"), col("id"), KNN.score(KNN.Cosine, "qv", "cv").as("_s"))
    KNN.topKPerKey(pairs, k, KNN.nearFirst(KNN.Cosine))
  }

  /** Recall@k of the IVF result against brute force — the query-surface
    * summary (avg recall over the query set) — and the cost it was bought
    * with: `scanned_frac`, the mean over queries of the share of the corpus
    * in the nprobe probed cells (nprobe/nCells only when the cells are
    * equal in size). */
  def recallSummary(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nCells: Int, k: Int, nprobe: Int): DataFrame = {
    val idx = train(corpus, vecCol, nCells)
    KNN.recallFrame(corpus, queries, idCol, vecCol, k, KNN.Cosine,
      topK(corpus, queries, idCol, vecCol, idx, k, nprobe),
      Some(scannedShare(corpus, queries, idCol, vecCol, idx, nprobe)))(
      round(avg(col("scanned")), 4).as("scanned_frac"))
  }

  /** (qid, scanned): per query, the share of the corpus in the nprobe
    * cells it probes — measured from the cell sizes, the scan a recall
    * figure was bought with (shared by [[recallSummary]] and
    * [[IVFPQ.recallSummary]]). */
  private[neighbors] def scannedShare(corpus: DataFrame, queries: DataFrame, idCol: String,
                                      vecCol: String, idx: Index, nprobe: Int): DataFrame = {
    val share = cells(corpus, idCol, vecCol, idx).groupBy("cell").count()
      .select(col("cell"), (col("count") / sum(col("count")).over()).as("share"))
    queries.select(col(idCol).cast("long").as("qid"),
        explode(probeUdf(idx, nprobe)(col(vecCol).cast("array<double>"))).as("cell"))
      .join(share, Seq("cell"), "left").groupBy("qid")
      .agg(sum(coalesce(col("share"), lit(0.0))).as("scanned"))
  }
}
