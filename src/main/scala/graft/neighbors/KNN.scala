package graft.neighbors

import graft.core.{Barrier, VectorOps}
import graft.core.Num.{r4, md5Long}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-neighbor search (reference python/cuml/neighbors/
  * nearest_neighbors.pyx — brute-force kNN; plus the ANN variants an LLM
  * pipeline needs at scale: LSH buckets and IVF cells).
  *
  * Brute force: the query set is broadcast (q·p floats), the corpus streams
  * through a codegen'd distance expression, and top-k is taken per query.
  * No corpus shuffle — at 100 TB the corpus is scanned once, map-side.
  * As in the reference, each row's vector is cast and normed once
  * ([[vectors]]), so a pair costs one dot product.
  */
object KNN {
  sealed trait Metric
  case object Cosine extends Metric     // returns similarity (desc = nearest)
  case object Euclidean extends Metric  // returns distance  (asc  = nearest)

  /** `df` as `keep` plus `vecCol` cast to array<double> as `v` and, when
    * `normed`, its squared norm as `sq_<v>` ([[withNorm]]): each evaluated
    * once per row behind [[Barrier.once]]. Whole-stage codegen defers a
    * projected column to its first use, which in a nested-loop join is the
    * inner loop, so a plain projection would cast (boxing every element)
    * once per PAIR; the barrier's Generate evaluates it once per row. */
  private[neighbors] def vectors(df: DataFrame, keep: Seq[Column], vecCol: String, v: String,
                                 normed: Boolean = false): DataFrame =
    withNorm(Barrier.once(df, keep, col(vecCol).cast("array<double>"), v), v, normed)

  /** `df` plus the squared norm of its array<double> column `v` as
    * `sq_<v>`, once per row (a no-op unless `normed`). The prefix keeps the
    * pair under a suffix rename: `v2`'s norm is `sq_v2`. */
  private[neighbors] def withNorm(df: DataFrame, v: String, normed: Boolean): DataFrame =
    if (!normed) df
    else Barrier.once(df, df.columns.toSeq.map(col), VectorOps.sqNormFixed(col(v)), s"sq_$v")

  /** Distance/similarity of a pair from two [[vectors]] sides: cosine reads
    * the sides' squared norms (normed = true), so one dot runs per pair;
    * dot / sqrt(qn·cn) is the bits of the per-pair form, since both norms
    * come from the same ArrayMath loop. */
  private[neighbors] def score(metric: Metric, a: String, b: String): Column = metric match {
    case Cosine =>
      VectorOps.dotFixed(col(a), col(b)) / sqrt(col(s"sq_$a") * col(s"sq_$b"))
    case Euclidean => sqrt(VectorOps.sqDistFixed(col(a), col(b)))
  }

  /** Exact top-k neighbors of each query row against the corpus.
    * The distance scan is a codegen'd broadcast product; the reduction is
    * [[topKPerKey]]'s bounded top-k aggregate with partial aggregation, so
    * the shuffle carries only q·k entries PER PARTITION — not the full q·n
    * pair set a window would move. Deterministic tiebreak on id (identical
    * selection and order to a row_number window / SQL oracle).
    * Output: (qid, rank, id, score). */
  def bruteForce(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                 qVec: String, cVec: String, k: Int, metric: Metric,
                 excludeSelf: Boolean = false): DataFrame = {
    topKPerKey(broadcastPairs(queries, corpus, qId, cId, qVec, cVec, metric, excludeSelf),
      k, nearFirst(metric))
  }

  /** [[bruteForce]] memoized as driver-local rows (FitCache): every ANN
    * recall-floor gate (ivf / pq / ivfpq / the persisted-index serve path)
    * ranks the SAME bounded probe set against the same corpus, and the
    * brute-force ground truth is each gate's most expensive scan.
    * Memoizing the q·k result rows runs that scan once per
    * (corpus, queries, k, metric) per process instead of once per gate —
    * the fit-once/serve-many shape: ground truth for a fixed probe panel
    * is a label set you compute once. ONLY for bounded probe sets
    * (O(10–100) rows): the memo holds q·k driver-local tuples. */
  def bruteForceCached(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                       qVec: String, cVec: String, k: Int, metric: Metric,
                       excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = graft.core.FitCache.getOrFit[Array[(Long, Int, Long, Double)]](
      graft.core.FitCache.key(corpus, "bf_exact",
        graft.core.FitCache.planDigest(queries),
        qId, cId, qVec, cVec, k, metric, excludeSelf)) {
      bruteForce(queries, corpus, qId, cId, qVec, cVec, k, metric, excludeSelf)
        .select(col("qid"), col("rank").cast("int"), col("id"), col("score"))
        .as[(Long, Int, Long, Double)].collect()
    }
    rows.toSeq.toDF("qid", "rank", "id", "score")
  }

  /** The scored broadcast product (qid, id, _s) — the scan side of
    * bruteForce, exposed for plan inspection and reuse. */
  def broadcastPairs(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                     qVec: String, cVec: String, metric: Metric,
                     excludeSelf: Boolean): DataFrame = {
    val normed = metric == Cosine
    val q = vectors(queries, Seq(col(qId).cast("long").as("qid")), qVec, "qv", normed)
    // re-spread the streamed corpus if the scan under-partitions (a single
    // local file would run the whole broadcast product as one task)
    val c = graft.core.Tables.ensureParallelism(
      vectors(corpus, Seq(col(cId).cast("long").as("id")), cVec, "cv", normed))
    c.join(broadcast(q), if (excludeSelf) col("qid") =!= col("id") else lit(true))
      .select(col("qid"), col("id"), score(metric, "qv", "cv").as("_s"))
  }

  /** Exact L2 rerank of an ANN shortlist `cand` (qid, id), shared by
    * [[PQ.topKRefined]] and [[IVFPQ.topKRefined]]: the candidates join the
    * raw corpus vectors on id and the broadcast query vectors on qid, and
    * the k nearest by exact squared distance remain. */
  private[neighbors] def refine(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = vectors(corpus, Seq(col(idCol).cast("long").as("id")), vecCol, "_cv")
    val qv = vectors(queries, Seq(col(idCol).cast("long").as("qid")), vecCol, "_qv")
    val exactD = VectorOps.sqDistFixed(col("_qv"), col("_cv"))
    val pairs = cand.select(col("qid"), col("id")).join(cv, "id").join(broadcast(qv), "qid")
      .select(col("qid"), col("id"), exactD.as("_s"))
    topKPerKey(pairs, k, nearFirst(Euclidean))
  }

  /** The recall summary frame of the three ANN indexes: per query, the
    * share of the exact `metric` top k (brute force) that `approx`
    * (qid, id, …) found, left-joined with `perQuery` (qid, …) when given,
    * then aggregated to n_queries, avg_recall and the index's own `more`
    * columns. */
  private[neighbors] def recallFrame(corpus: DataFrame, queries: DataFrame, idCol: String,
                                     vecCol: String, k: Int, metric: Metric, approx: DataFrame,
                                     perQuery: Option[DataFrame])(more: Column*): DataFrame = {
    val exact = bruteForceCached(queries, corpus, idCol, idCol, vecCol, vecCol, k, metric)
      .select(col("qid"), col("id"))
    val hits = exact.join(approx.select(col("qid"), col("id")), Seq("qid", "id"))
      .groupBy("qid").agg(count(lit(1)).cast("double").as("hits"))
    val total = exact.groupBy("qid").agg(count(lit(1)).cast("double").as("total"))
      .join(hits, Seq("qid"), "left")
    perQuery.fold(total)(total.join(_, Seq("qid"), "left"))
      .withColumn("recall", coalesce(col("hits"), lit(0.0)) / col("total"))
      .agg(count(lit(1)).cast("long").as("n_queries"),
        round(avg(col("recall")), 4).as("avg_recall") +: more: _*)
  }

  /** True when `a` ranks nearer than `b` (score, id). */
  private[graft] def nearFirst(metric: Metric): ((Double, Long), (Double, Long)) => Boolean =
    metric match {
      case Cosine    => (a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
      case Euclidean => (a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    }

  /** Exact top-k per key over (qid, id, _s) rows: one
    * [[graft.functions.TopK]] aggregate per qid (a bounded top-k in
    * primitive arrays, partially aggregated map-side; the frame stays a
    * lazy plan, so building it runs no job), posexploded to
    * (qid, rank, id, score) with rank 1 the best under `better` and the
    * score rounded to 4 dp. `better` must order (score, id) pairs
    * strictly, as [[nearFirst]] does. A NaN or null score fails the
    * query. */
  def topKPerKey(pairs: DataFrame, k: Int,
                 better: ((Double, Long), (Double, Long)) => Boolean): DataFrame =
    pairs.groupBy(col("qid").cast("long").as("qid"))
      .agg(graft.functions.TopK.of(col("id").cast("long"), col("_s").cast("double"), k, better)
        .as("_t"))
      .select(col("qid"), posexplode(col("_t")).as(Seq("_r", "_h")))
      .select(col("qid"), (col("_r") + 1).as("rank"), col("_h.id").as("id"),
        r4(col("_h.s")).as("score"))

  /** kNN classifier (KNeighborsClassifier semantics): majority vote of the
    * k nearest train labels, ties broken (votes desc, label asc) so the
    * decision replays exactly in SQL. Returns (qid, pred). The vote table
    * is k×|queries| rows — every reduction after the bounded top-k
    * runs on that bounded frame, never the corpus. */
  def classify(queries: DataFrame, train: DataFrame, qId: String, cId: String,
               qVec: String, cVec: String, labelCol: String, k: Int,
               metric: Metric): DataFrame = {
    val nbrs = bruteForce(queries, train, qId, cId, qVec, cVec, k, metric)
    val labels = train.select(col(cId).cast("long").as("id"),
      col(labelCol).cast("long").as("_nl"))
    val votes = nbrs.join(labels, "id")
      .groupBy(col("qid"), col("_nl"))
      .agg(count(lit(1)).as("_votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_votes").desc, col("_nl"))
    votes.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("qid"), col("_nl").as("pred"))
  }

  /** kNN regressor (KNeighborsRegressor semantics, reference
    * python/cuml/neighbors/kneighbors_regressor.pyx): prediction = mean
    * target of the k nearest train rows. Same bounded top-k scan as
    * [[bruteForce]]; the averaging join runs on the k×|queries| frame,
    * never the corpus. Returns (qid, pred). */
  def regress(queries: DataFrame, train: DataFrame, qId: String, cId: String,
              qVec: String, cVec: String, targetCol: String, k: Int,
              metric: Metric): DataFrame = {
    val nbrs = bruteForce(queries, train, qId, cId, qVec, cVec, k, metric)
    val ys = train.select(col(cId).cast("long").as("id"),
      col(targetCol).cast("double").as("_y"))
    nbrs.join(ys, "id").groupBy(col("qid")).agg(avg(col("_y")).as("pred"))
  }

  /** Random-hyperplane LSH buckets: `bits` sign-bits from deterministic
    * md5-seeded hyperplanes. Collisions → candidates; rerank within bucket.
    * Shuffle key = bucket id (uniform by construction). */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, bits: Int,
                 dim: Int, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bits, dim, seed)
    val sig = (0 until bits).map { b =>
      val plane = lit(planes(b))
      when(VectorOps.dotFixed(col("v"), plane) >= 0, math.pow(2, b).toLong).otherwise(0L)
    }.reduce(_ + _)
    vectors(df, Seq(col(idCol).cast("long").as("id")), vecCol, "v")
      .select(col("id"), col("v"), sig.as("bucket"))
  }

  /** Deterministic pseudo-gaussian hyperplanes from md5 (engine-neutral,
    * reproducible — same trick as the dedup hash family). */
  def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    import java.security.MessageDigest
    def h(s: String): Long = {
      val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    Array.tabulate(bits, dim) { (b, i) =>
      val u1 = (h(s"p_${seed}_${b}_${i}_a") % 1000000L + 1000000L) % 1000000L / 1000000.0 + 5e-7
      val u2 = (h(s"p_${seed}_${b}_${i}_b") % 1000000L + 1000000L) % 1000000L / 1000000.0
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  /** Bucket self-join with a SALTED key (r17): geometric hyperplane
    * signatures preserve locality, so clustered corpora collapse whole
    * clusters into one bucket — the plain self-join then emits that
    * bucket's quadratic pair mass from a SINGLE task (the join's input
    * partition is small, so AQE's size-based skew split never fires;
    * measured at 2M organic vectors: one 780+ s map-side-combine task
    * while the median task ran 228 s — the r16 third-decade stall). The
    * salt spreads each bucket's probe side over `salts` reducers; the
    * result multiset is identical to the plain bucket join. */
  private def saltedBucketPairs(b: DataFrame, metric: Metric,
                                salts: Int = 16): DataFrame = {
    val a = withNorm(b, "v", metric == Cosine)
    // the probe side: (id2, v2[, sq_v2], bucket)
    val bb = a.toDF(a.columns.toIndexedSeq.map(c => if (c == "bucket") c else s"${c}2"): _*)
    graft.core.Salting.saltedJoin(a, bb, "bucket", "id", salts)
      .filter(col("id") =!= col("id2"))
      .select(col("id").as("qid"), col("id2").as("id"), score(metric, "v", "v2").as("_s"))
  }

  /** Salt fan-out scaled to the corpus (r18): salting insures against a
    * melted bucket's quadratic pair mass landing on ONE reducer, but its
    * ×salts probe-side replication + per-row salt hash is pure overhead
    * on corpora small enough that even a fully-collapsed bucket is one
    * modest task (the r17 sf0.1 A/B measured the fixed salts=16 at ~2×
    * ann_lsh wall). One salt per 8k vectors, capped at 16 — identical
    * result multiset at every value (Salting.saltedJoin parity), full
    * 16-way spread from 128k vectors up (the measured 2M-vector stall
    * regime), and no replication at all at probe scale. */
  private def saltsFor(n: Long): Int =
    math.max(1L, math.min(16L, (n + 8191L) / 8192L)).toInt

  /** ANN via LSH: candidates share a bucket; exact rerank inside. The
    * rerank reuses the [[topKPerKey]] aggregate — partially aggregated
    * map-side, so the shuffle carries q·k entries per partition instead of
    * the full O(candidate-pairs) set a row_number window would move. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int, bits: Int,
              dim: Int, metric: Metric = Cosine): DataFrame = {
    val b = lshBuckets(df, idCol, vecCol, bits, dim)
    topKPerKey(saltedBucketPairs(b, metric, saltsFor(df.count())), k,
      nearFirst(metric))
  }

  /** Hyperplane count that keeps the EXPECTED bucket size at
    * `targetBucket` as the corpus grows: the smallest bits in
    * [minBits, maxBits] with 2^bits · targetBucket ≥ n. Fixed-depth LSH
    * buckets hold n/2^bits rows, so the candidate pair mass Σ bucket²
    * grows QUADRATICALLY with n (measured: bits=8 at n=200k → ~780-row
    * buckets → 156M pairs); depth that tracks log₂(n) keeps it linear.
    * Integer derivation (no log2 float parity risk for the oracle). */
  def lshBitsFor(n: Long, targetBucket: Long = 64L,
                 minBits: Int = 4, maxBits: Int = 24): Int =
    (minBits to maxBits).find(b => (1L << b) * targetBucket >= n).getOrElse(maxBits)

  /** [[lshBuckets]] with n-scaled depth and the signature computed by ONE
    * codegen'd [[graft.functions.ArrayMath.blockSignBits]] loop over the
    * flattened planes — the per-plane when-chain stops whole-stage
    * compiling past a few dozen planes (the quantizer-assign lesson). */
  def lshBucketsAuto(df: DataFrame, idCol: String, vecCol: String, bits: Int,
                     dim: Int, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bits, dim, seed)
    vectors(df, Seq(col(idCol).cast("long").as("id")), vecCol, "v")
      .select(col("id"), col("v"),
        graft.functions.ArrayMath.blockSignBits(col("v"), lit(planes.flatten)).as("bucket"))
  }

  /** [[lshTopK]] with depth derived from the corpus count — the scale
    * entry point (one metadata-cheap count, then the fixed plan). */
  def lshTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  dim: Int, metric: Metric = Cosine,
                  targetBucket: Long = 64L): DataFrame = {
    val n = df.count()
    val bits = lshBitsFor(n, targetBucket)
    val b = lshBucketsAuto(df, idCol, vecCol, bits, dim)
    topKPerKey(saltedBucketPairs(b, metric, saltsFor(n)), k,
      nearFirst(metric))
  }
}
