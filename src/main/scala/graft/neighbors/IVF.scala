package graft.neighbors

import graft.cluster.Lloyd
import graft.core.{FitCache, Rows, VectorOps}
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

  /** Nearest-cell id. A fully-unrolled expression tree over k·dim literals
    * exceeds the codegen method limit, so the quantizer assignment runs as
    * a JVM closure over the broadcast centers (tight primitive loop —
    * faster than the interpreted-expression fallback, and not part of any
    * oracle contract). */
  private def cellUdf(idx: Index) = udf { (v: Seq[Double]) =>
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < idx.centers.length) {
      val ctr = idx.centers(c)
      var d = 0.0; var i = 0
      while (i < ctr.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The nprobe nearest cells for a query vector. */
  private def probeUdf(idx: Index, nprobe: Int) = udf { (v: Seq[Double]) =>
    idx.centers.indices.map { c =>
      val ctr = idx.centers(c)
      var d = 0.0; var i = 0
      while (i < ctr.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
      (d, c)
    }.sortBy(identity).take(nprobe).map(_._2)
  }

  /** Top-k cosine neighbors probing nprobe cells per query. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           idx: Index, k: Int, nprobe: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val dim = idx.centers(0).length
    val data = corpus.select(col(idCol).cast("long").as("id"), v.as("cv"),
      cellUdf(idx)(v).as("cell"))
    // per-query list of the nprobe nearest cells, exploded → (qid, qv, cell)
    val q = queries.select(col(idCol).cast("long").as("qid"), v.as("qv"),
        probeUdf(idx, nprobe)(v).as("probes"))
      .select(col("qid"), col("qv"), explode(col("probes")).as("cell"))
    val s = VectorOps.dotFixed(col("qv"), col("cv"), dim) /
      sqrt(VectorOps.sqNormFixed(col("qv"), dim) * VectorOps.sqNormFixed(col("cv"), dim))
    val pairs = q.join(data, Seq("cell")).select(col("qid"), col("id"), s.as("_s"))
    // bounded-heap rerank (map-side combined) instead of a row_number
    // window over the full O(candidates) pair set
    KNN.topKPerKey(pairs, k, KNN.nearFirst(KNN.Cosine))
  }

  /** Persist the corpus bucketed by quantizer cell — at scale the index IS
    * the table layout: probes then join bucket-to-bucket, so the corpus is
    * never re-shuffled at query time (only the small probe side moves).
    * Written once per index build, like any IVF list structure. */
  def writeBucketed(corpus: DataFrame, idCol: String, vecCol: String, idx: Index,
                    table: String, nBuckets: Int = 32): Unit = {
    val v = col(vecCol).cast("array<double>")
    corpus.select(col(idCol).cast("long").as("id"), v.as("cv"),
        cellUdf(idx)(v).as("cell"))
      .write.mode("overwrite").bucketBy(nBuckets, "cell")
      .format("parquet").saveAsTable(table)
  }

  /** Top-k over a bucketed corpus table written by writeBucketed: the scan
    * side carries its bucketing, so the cell join adds no corpus exchange. */
  def topKBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   idx: Index, k: Int, nprobe: Int): DataFrame = {
    val data = spark.table(table)
    val v = col(vecCol).cast("array<double>")
    val dim = idx.centers(0).length
    val q = queries.select(col(idCol).cast("long").as("qid"), v.as("qv"),
        probeUdf(idx, nprobe)(v).as("probes"))
      .select(col("qid"), col("qv"), explode(col("probes")).as("cell"))
    val s = VectorOps.dotFixed(col("qv"), col("cv"), dim) /
      sqrt(VectorOps.sqNormFixed(col("qv"), dim) * VectorOps.sqNormFixed(col("cv"), dim))
    val pairs = q.join(data, Seq("cell")).select(col("qid"), col("id"), s.as("_s"))
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
    val approx = topK(corpus, queries, idCol, vecCol, idx, k, nprobe)
      .select(col("qid"), col("id"))
    val exact = KNN.bruteForceCached(queries, corpus, idCol, idCol, vecCol, vecCol,
      k, KNN.Cosine).select(col("qid"), col("id"))
    val hits = exact.join(approx, Seq("qid", "id")).groupBy("qid")
      .agg(count(lit(1)).cast("double").as("hits"))
    val scanned = scannedShare(corpus, queries, idCol, vecCol, idx, nprobe)
    exact.groupBy("qid").agg(count(lit(1)).cast("double").as("total"))
      .join(hits, Seq("qid"), "left")
      .join(scanned, Seq("qid"), "left")
      .select(col("qid"), (coalesce(col("hits"), lit(0.0)) / col("total")).as("recall"),
        col("scanned"))
      .agg(count(lit(1)).cast("long").as("n_queries"),
        round(avg(col("recall")), 4).as("avg_recall"),
        round(avg(col("scanned")), 4).as("scanned_frac"))
  }

  /** (qid, scanned): per query, the share of the corpus in the nprobe
    * cells it probes — measured from the cell sizes, the scan a recall
    * figure was bought with (shared by [[recallSummary]] and
    * [[IVFPQ.recallSummary]]). */
  private[neighbors] def scannedShare(corpus: DataFrame, queries: DataFrame, idCol: String,
                                      vecCol: String, idx: Index, nprobe: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val share = corpus.select(cellUdf(idx)(v).as("cell")).groupBy("cell").count()
      .select(col("cell"), (col("count") / sum(col("count")).over()).as("share"))
    queries.select(col(idCol).cast("long").as("qid"),
        explode(probeUdf(idx, nprobe)(v)).as("cell"))
      .join(share, Seq("cell"), "left").groupBy("qid")
      .agg(sum(coalesce(col("share"), lit(0.0))).as("scanned"))
  }
}
