package graft.neighbors

import graft.cluster.Lloyd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ — the composition production ANN systems deploy at corpus scale
  * (Jégou, Douze & Schmid TPAMI 2011 §V, the layout FAISS calls IVFPQ):
  * an inverted file of k-means cells PRUNES the search to nprobe cells,
  * and product-quantized RESIDUALS (x − cell centroid) COMPRESS what
  * remains. graft already ships both halves ([[IVF]], [[PQ]]); this joins
  * them.
  *
  * Scale shape: the compressed index is (id, cell, code) — bucketable by
  * cell exactly like IVF.writeBucketed, 32× smaller than the raw vectors
  * at m=8 over 64-dim float32. A query explodes into nprobe
  * (qid, cell, lut) rows — the ADC table is per probe because the
  * residual depends on that cell's centroid — joins the code table on
  * the cell key (only the tiny probe side moves), scores each candidate
  * with M element_at adds, and reranks in a bounded top-k. Candidate
  * volume is the probed fraction of the corpus; nothing re-shuffles.
  */
object IVFPQ {
  final case class Index(ivf: IVF.Index, cb: PQ.Codebook)

  /** Train the coarse quantizer on the corpus sample, then the PQ
    * codebooks on RESIDUALS against the assigned centroid (the paper's
    * residual encoding — residuals are centered and much lower-variance
    * than raw vectors, which is where IVFPQ's accuracy comes from). */
  def train(corpus: DataFrame, vecCol: String, nCells: Int, m: Int,
            kCodes: Int, seed: Long = 42L): Index =
    // memoized on the CORPUS plan: the residual frame's plan embeds a
    // fresh UDF closure per call, so keying the inner PQ.train on it
    // would never hit across invocations
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(corpus,
      "ivfpq", vecCol, nCells, m, kCodes, seed)) {
      val ivf = IVF.train(corpus, vecCol, nCells, seed)
      val res = graft.core.Barrier.once(corpus, Seq.empty,
          residualUdf(ivf)(col(vecCol).cast("array<double>")), "_rs")
        .select(col("_rs").getField("_2").as("rv"))
      Index(ivf, PQ.train(res, "rv", m, kCodes, seed))
    }

  /** (cell, residual) for one vector: its [[Lloyd.nearest]] cell and
    * x − that cell's centroid (IVFPQ's residual encoding). */
  private def cellResidual(ivf: IVF.Index, v: Seq[Double]): (Int, Array[Double]) = {
    val x = v.toArray
    val c = Lloyd.nearest(x, ivf.centers)
    (c, residual(x, ivf.centers(c)))
  }

  private def residual(x: Array[Double], ctr: Array[Double]): Array[Double] =
    Array.tabulate(ctr.length)(i => x(i) - ctr(i))

  /** [[cellResidual]] as a broadcast-centers JVM closure, for the same
    * codegen-limit reason as IVF's cell assignment. Every UDF here is
    * emitted through a structural barrier (Barrier.once, or the Generate
    * that explode() already is): a struct result read through two
    * getFields must not run the UDF twice per row, nor the per-probe ADC
    * table M times per candidate (see PQ.encodeUdf). */
  private def residualUdf(ivf: IVF.Index) = udf { (v: Seq[Double]) => cellResidual(ivf, v) }

  /** Corpus → (id, cell, code): the compressed, cell-bucketable index. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String, idx: Index): DataFrame = {
    val enc = udf { (v: Seq[Double]) =>
      val (c, r) = cellResidual(idx.ivf, v)
      (c, PQ.encodeVec(idx.cb, r))
    }
    graft.core.Barrier.once(corpus, Seq(col(idCol).cast("long").as("id")),
        enc(col(vecCol).cast("array<double>")), "_e")
      .select(col("id"), col("_e._1").as("cell"), col("_e._2").as("code"))
  }

  /** The nprobe nearest cells ([[Lloyd.nearestN]]) with their per-cell
    * residual ADC tables. */
  private def probeLutUdf(idx: Index, nprobe: Int) = udf { (v: Seq[Double]) =>
    val x = v.toArray
    Lloyd.nearestN(x, idx.ivf.centers, nprobe).map(c =>
      (c, PQ.adcVec(idx.cb, residual(x, idx.ivf.centers(c)))))
  } // consumed directly under explode(): the Generate node IS the barrier

  /** Top-k by asymmetric distance over the probed cells: cell-key join,
    * M element_at adds per candidate, bounded top-k rerank. */
  def topK(codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           idx: Index, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"IVFPQ: nprobe must be at least 1, got $nprobe")
    val q = queries.select(col(idCol).cast("long").as("qid"),
        explode(probeLutUdf(idx, nprobe)(col(vecCol).cast("array<double>"))).as("p"))
      .select(col("qid"), col("p._1").as("cell"), col("p._2").as("lut"))
    val dist = (0 until idx.cb.m).map(s =>
      element_at(col("lut"), element_at(col("code"), s + 1) + lit(s * idx.cb.k) + 1))
      .reduce(_ + _)
    val pairs = q.join(codes, Seq("cell"))
      .select(col("qid"), col("id"), dist.as("_s"))
    KNN.topKPerKey(pairs, k, KNN.nearFirst(KNN.Euclidean))
  }

  /** ADC shortlist + EXACT rerank over the probed cells (IVFADC+R /
    * FAISS refine — see [[PQ.topKRefined]] for the scale argument: the
    * raw-vector fetch joins only the bounded q·shortlist candidate
    * set). */
  def topKRefined(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, idx: Index, k: Int,
                  nprobe: Int, shortlist: Int): DataFrame =
    KNN.refine(topK(codes, queries, idCol, vecCol, idx, shortlist, nprobe), corpus, queries,
      idCol, vecCol, k)

  /** Recall@k vs exact L2 brute force + compression + probed fraction —
    * the figure-of-merit surface, as for [[IVF]] and [[PQ]].
    * `probed_frac` is the nominal nprobe/nCells; `scanned_frac` is the
    * measured mean share of the corpus in the probed cells (as
    * [[IVF.recallSummary]]'s), which follows the cell sizes.
    * `shortlist` > k enables the refine stage ([[topKRefined]]). */
  def recallSummary(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nCells: Int, m: Int, kCodes: Int,
                    k: Int, nprobe: Int, shortlist: Int = 0): DataFrame = {
    val idx = train(corpus, vecCol, nCells, m, kCodes)
    val codes = encode(corpus, idCol, vecCol, idx)
    val approx = if (shortlist > k)
        topKRefined(codes, corpus, queries, idCol, vecCol, idx, k, nprobe, shortlist)
      else topK(codes, queries, idCol, vecCol, idx, k, nprobe)
    KNN.recallFrame(corpus, queries, idCol, vecCol, k, KNN.Euclidean, approx,
      Some(IVF.scannedShare(corpus, queries, idCol, vecCol, idx.ivf, nprobe)))(
      lit(idx.cb.subDim * 4L).as("compression_x"),
      round(lit(nprobe.toDouble / nCells), 4).as("probed_frac"),
      round(avg(col("scanned")), 4).as("scanned_frac"))
  }
}
