package graft.neighbors

import graft.cluster.Lloyd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze & Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the compression layer
  * corpus-scale ANN systems put under their inverted files; the reference's
  * neighbors surface is brute force, `cpp/src/knn/knn.cu`, and this is the
  * declared scale path beyond it alongside IVF).
  *
  * D dims split into M subspaces; a K-centroid codebook per subspace turns
  * each vector into M small codes — 64-dim float32 → 8 codes ≈ 32×
  * compression, the difference between a spilling scan and a RAM-resident
  * one at corpus scale. A query builds one M×K table of subspace distances
  * (asymmetric distance computation), so scoring a candidate is M array
  * lookups + adds: pure codegen over the code column, no per-pair
  * multiplies. Codebooks train on a bounded driver-side sample with the
  * library's one k-means seeding, [[graft.cluster.Lloyd.bestOf]] (the same
  * local k-means++/Lloyd that seeds the IVF quantizer and KMeansGraft;
  * standard PQ practice — the sample, not the corpus, bounds training);
  * encoding is a broadcast-codebook map, shuffle-free. */
object PQ {
  /** centers(m)(j) = the j-th centroid of subspace m (length dim/m each). */
  final case class Codebook(m: Int, k: Int, centers: Array[Array[Array[Double]]]) {
    def subDim: Int = centers(0)(0).length
  }

  /** Per-subspace k-means codebooks, trained on a BOUNDED driver-side
    * sample (standard PQ practice — FAISS trains its codebooks on ~10⁴-10⁵
    * sampled vectors regardless of corpus size): one collect of sampleN
    * rows, then M tiny local Lloyd runs ([[graft.cluster.Lloyd.bestOf]]:
    * seeded k-means++ init, best-of-8 by SSE). Replaces M sequential MLlib jobs whose per-job overhead
    * dominated at small k·subdim — training cost is now independent of
    * the corpus SIZE up to the one full scan the md5-order sample
    * requires (a TakeOrdered pass; the Lloyd work itself is bounded);
    * only encode/score touch the corpus again (broadcast-codebook
    * maps). */
  def train(corpus: DataFrame, vecCol: String, m: Int, k: Int,
            seed: Long = 42L, sampleN: Int = 10000): Codebook =
    // md5-ordered sample + seeded Lloyd → deterministic → fit-once
    graft.core.FitCache.getOrFit(graft.core.FitCache.key(corpus,
      "pq", vecCol, m, k, seed, sampleN)) {
      trainUncached(corpus, vecCol, m, k, seed, sampleN)
    }

  private def trainUncached(corpus: DataFrame, vecCol: String, m: Int, k: Int,
                            seed: Long, sampleN: Int): Codebook = {
    val v = col(vecCol).cast("array<double>")
    // deterministic sample: md5-hash order (id-free, engine-stable)
    val sample = corpus.select(v.as("v"))
      .orderBy(md5(col("v").cast("string")))
      .limit(sampleN).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ.train: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val subPts = (0 until m).map { s =>
      sample.map(row => java.util.Arrays.copyOfRange(row, s * sub, (s + 1) * sub))
    }
    Codebook(m, k, Lloyd.bestOf(subPts, k, iters = 40,
      (s, r) => seed + s + r * 1000L).toArray)
  }

  /** Nearest-code vector for one input: per subspace s, [[Lloyd.nearest]]
    * over the slice at s·subDim (shared with IVFPQ's residual encoding). */
  private[neighbors] def encodeVec(cb: Codebook, v: Array[Double]): Array[Int] =
    Array.tabulate(cb.m)(s => Lloyd.nearest(v, cb.centers(s), s * cb.subDim))

  /** The flattened M×K ADC table: lut[s*k + j] = ‖v_s − c_sj‖² (shared
    * with IVFPQ's per-probe residual tables). */
  private[neighbors] def adcVec(cb: Codebook, v: Array[Double]): Array[Double] =
    Array.tabulate(cb.m * cb.k) { x =>
      val s = x / cb.k
      Lloyd.sq(v, cb.centers(s)(x % cb.k), s * cb.subDim)
    }

  /** Nearest-centroid code per subspace (broadcast-codebook JVM closure: an
    * m·k·subdim unrolled expression tree exceeds the codegen method limit,
    * so the assignment is a primitive loop over the codebook). Emitted through
    * [[graft.core.Barrier.once]]: the M element_at reads of the ADC
    * table must not re-run the whole m·k·subdim table build M times per
    * candidate row — 8× the scan cost at kCodes=64 (measured
    * 23.6 s → 1.2 s at sf0.1). r16: the barrier is the STRUCTURAL
    * one-element Generate, not an asNondeterministic marker. */
  private def encodeUdf(cb: Codebook) =
    udf { (v: Seq[Double]) => encodeVec(cb, v.toArray) }

  /** The flattened M×K ADC table for a query. */
  private def lutUdf(cb: Codebook) =
    udf { (v: Seq[Double]) => adcVec(cb, v.toArray) }

  /** Corpus → (id, code) — the compressed index; persist this instead of
    * the raw vectors (32× smaller at m=8 over 64-dim float). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: Codebook): DataFrame =
    graft.core.Barrier.once(corpus, Seq(col(idCol).cast("long").as("id")),
      encodeUdf(cb)(col(vecCol).cast("array<double>")), "code")

  /** Top-k by asymmetric PQ distance: broadcast the (query, LUT) side,
    * score each code row with M element_at lookups (codegen), bounded top-k
    * rerank per query — the same no-window shape as the LSH/IVF paths. */
  def topK(codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           cb: Codebook, k: Int): DataFrame = {
    val q = graft.core.Barrier.once(queries,
      Seq(col(idCol).cast("long").as("qid")),
      lutUdf(cb)(col(vecCol).cast("array<double>")), "lut")
    val dist = (0 until cb.m).map(s =>
      element_at(col("lut"), element_at(col("code"), s + 1) + lit(s * cb.k) + 1))
      .reduce(_ + _)
    val pairs = codes.crossJoin(broadcast(q))
      .select(col("qid"), col("id"), dist.as("_s"))
    KNN.topKPerKey(pairs, k, KNN.nearFirst(KNN.Euclidean))
  }

  /** ADC shortlist + EXACT rerank (the PQ paper's IVFADC+R / FAISS
    * IndexRefine shape — the configuration production deployments run):
    * the corpus-scale pass stays the codegen'd M-lookup ADC scan over the
    * compressed codes, its top-`shortlist` per query (bounded top-k, no
    * window) joins back to the raw vectors — a hash equi-join on id whose
    * left side is the BOUNDED q·shortlist candidate set, so at 100 TB the
    * fetch touches shortlist rows per query, never the corpus — and the
    * final top-k is exact L2 over the shortlist. Recall becomes the
    * shortlist's recall@C, which climbs fast with C while the scan cost
    * stays the compressed one. */
  def topKRefined(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, cb: Codebook, k: Int,
                  shortlist: Int): DataFrame =
    KNN.refine(topK(codes, queries, idCol, vecCol, cb, shortlist), corpus, queries,
      idCol, vecCol, k)

  /** Recall@k vs exact L2 brute force + the compression ratio — the query
    * surface (PQ is approximate by construction; recall against the exact
    * scan is its figure of merit, as in the PQ paper's Table 2).
    * `shortlist` > k enables the refine stage ([[topKRefined]]). */
  def recallSummary(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, m: Int, kCodes: Int, k: Int,
                    shortlist: Int = 0): DataFrame = {
    val cb = train(corpus, vecCol, m, kCodes)
    val codes = encode(corpus, idCol, vecCol, cb)
    val approx = if (shortlist > k)
        topKRefined(codes, corpus, queries, idCol, vecCol, cb, k, shortlist)
      else topK(codes, queries, idCol, vecCol, cb, k)
    // dim 4-byte floats over m one-byte codes
    KNN.recallFrame(corpus, queries, idCol, vecCol, k, KNN.Euclidean, approx, None)(
      lit(cb.subDim * 4L).as("compression_x"))
  }
}
