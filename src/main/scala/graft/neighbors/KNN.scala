package graft.neighbors

import graft.core.VectorOps
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
  */
object KNN {
  sealed trait Metric
  case object Cosine extends Metric     // returns similarity (desc = nearest)
  case object Euclidean extends Metric  // returns distance  (asc  = nearest)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Distance/similarity as one codegen'd loop per pair. */
  def score(metric: Metric, a: Column, b: Column): Column = metric match {
    case Cosine =>
      VectorOps.dotFixed(a, b) /
        sqrt(VectorOps.sqNormFixed(a) * VectorOps.sqNormFixed(b))
    case Euclidean => sqrt(VectorOps.sqDistFixed(a, b))
  }

  /** Exact top-k neighbors of each query row against the corpus.
    * The distance scan is a codegen'd broadcast product; the reduction is a
    * bounded-heap aggregateByKey with map-side combine, so the shuffle
    * carries only q·k rows PER PARTITION — not the full q·n pair set a
    * window would move. Deterministic tiebreak on id (identical selection
    * and order to a row_number window / SQL oracle).
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
    val q = queries.select(col(qId).cast("long").as("qid"), asDouble(col(qVec)).as("qv"))
    // re-spread the streamed corpus if the scan under-partitions (a single
    // local file would run the whole broadcast product as one task)
    val c = graft.core.Tables.ensureParallelism(
      corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("cv")))
    val s = score(metric, col("qv"), col("cv"))
    c.join(broadcast(q), if (excludeSelf) col("qid") =!= col("id") else lit(true))
      .select(col("qid"), col("id"), s.as("_s"))
  }

  /** Exact L2 rerank of an ANN shortlist `cand` (qid, id), shared by
    * [[PQ.topKRefined]] and [[IVFPQ.topKRefined]]: the candidates join the
    * raw corpus vectors on id and the broadcast query vectors on qid, and
    * the k nearest by exact squared distance remain. */
  private[neighbors] def refine(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = corpus.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("_cv"))
    val qv = queries.select(col(idCol).cast("long").as("qid"), asDouble(col(vecCol)).as("_qv"))
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

  /** Bounded-heap exact top-k per key over (qid, id, _s) rows. */
  def topKPerKey(pairs: org.apache.spark.sql.DataFrame, k: Int,
                 better: ((Double, Long), (Double, Long)) => Boolean): org.apache.spark.sql.DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // heap head = worst kept entry (the one to evict)
    implicit val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int =
        if (better(b, a)) 1 else if (better(a, b)) -1 else 0
    }
    val topped = pairs.select(col("qid").cast("long"), col("id").cast("long"),
        col("_s").cast("double"))
      .as[(Long, Long, Double)].rdd
      .map { case (qid, id, sv) => (qid, (sv, id)) }
      .aggregateByKey(new scala.collection.mutable.PriorityQueue[(Double, Long)]())(
        (h, v) => { h.enqueue(v); if (h.size > k) h.dequeue(); h },
        (h1, h2) => { h2.foreach { v => h1.enqueue(v); if (h1.size > k) h1.dequeue() }; h1 })
    topped.flatMap { case (qid, h) =>
      h.toSeq.sortWith(better).zipWithIndex.map { case ((sv, id), r) =>
        (qid, r + 1, id, sv)
      }
    }.toDF("qid", "rank", "id", "_s")
      .select(col("qid"), col("rank"), col("id"), r4(col("_s")).as("score"))
  }

  /** kNN classifier (KNeighborsClassifier semantics): majority vote of the
    * k nearest train labels, ties broken (votes desc, label asc) so the
    * decision replays exactly in SQL. Returns (qid, pred). The vote table
    * is k×|queries| rows — every reduction after the bounded-heap top-k
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
    * target of the k nearest train rows. Same bounded-heap scan as
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
    val v = asDouble(col(vecCol))
    val sig = (0 until bits).map { b =>
      val plane = lit(planes(b))
      when(VectorOps.dotFixed(v, plane) >= 0, math.pow(2, b).toLong).otherwise(0L)
    }.reduce(_ + _)
    df.select(col(idCol).cast("long").as("id"), v.as("v"), sig.as("bucket"))
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

  /** ANN via LSH: candidates share a bucket; exact rerank inside. The
    * rerank reuses the bounded-heap topKPerKey reduction — map-side
    * combined, so the shuffle carries q·k rows per partition instead of
    * the full O(candidate-pairs) set a row_number window would move. */
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
    val bb = b.select(col("id").as("id2"), col("v").as("v2"), col("bucket"))
    graft.core.Salting.saltedJoin(b, bb, "bucket", "id", salts)
      .filter(col("id") =!= col("id2"))
      .select(col("id").as("qid"), col("id2").as("id"),
        score(metric, col("v"), col("v2")).as("_s"))
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
    val v = asDouble(col(vecCol))
    df.select(col(idCol).cast("long").as("id"), v.as("v"),
      graft.functions.ArrayMath.blockSignBits(v, lit(planes.flatten)).as("bucket"))
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
