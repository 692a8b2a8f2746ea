package graft.cluster

import org.apache.spark.rdd.RDD

/** The library's one k-means (cuML's KMeans is a Lloyd loop, reference
  * python/cuml/cluster/kmeans.pyx), shared by [[KMeansGraft]], the IVF
  * coarse quantizer and the PQ codebooks.
  *
  * [[lloyd]] is a seeded local k-means++ + Lloyd run on driver-side points;
  * [[bestOf]] keeps the lowest-SSE of 8 such restarts. PQ trains its
  * codebooks with it on a bounded sample. [[fit]] runs on distributed rows:
  * the best-of-8 local fit of a bounded, seeded sample seeds it (bounded-
  * sample seeding, then full-data refinement), and each Lloyd round is one
  * depth-2 tree of per-cluster sums and counts over the cached rows
  * ([[pass]]). At most [[SampleN]] rows the sample is every row, so the
  * local fit already sees all the data and the refinement rounds mostly
  * confirm it.
  */
object Lloyd {
  /** Per-cluster point counts and coordinate sums against fixed centers,
    * and the SSE of the nearest-center assignment. */
  final case class Pass(counts: Array[Long], sums: Array[Array[Double]], sse: Double)

  /** Squared Euclidean distance from `b` to the slice of `a` that starts
    * at `off` (a PQ subspace; 0 for a whole vector). */
  private[graft] def sq(a: Array[Double], b: Array[Double], off: Int = 0): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val t = a(off + i) - b(i); s += t * t; i += 1 }
    s
  }

  /** The quantizer family's one nearest-center rule: the index of the
    * center nearest to `v` (read from `off`, as [[sq]]), the first index
    * winning a tie. Every k-means assignment, IVF cell and PQ code is it. */
  private[graft] def nearest(v: Array[Double], centers: Array[Array[Double]],
                             off: Int = 0): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val d = sq(v, centers(c), off)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The indices of the `n` centers nearest to `v` (at most all of them),
    * nearest first: by distance under `java.lang.Double.compare`, then by
    * the lower index, which is the order of sorting every (distance,
    * index) pair and taking n. A bounded insertion into n slots, so an
    * IVF probe list costs O(k·n), not a sort of all k cells. */
  private[graft] def nearestN(v: Array[Double], centers: Array[Array[Double]],
                              n: Int): Array[Int] = {
    val m = math.max(0, math.min(n, centers.length))
    val ids = new Array[Int](m)
    val ds = new Array[Double](m)
    var size = 0
    var c = 0
    while (c < centers.length && m > 0) {
      val d = sq(v, centers(c))
      // c is above every kept index, so it goes after an equal distance
      if (size < m || java.lang.Double.compare(d, ds(m - 1)) < 0) {
        var i = math.min(size, m - 1)
        while (i > 0 && java.lang.Double.compare(d, ds(i - 1)) < 0) {
          ds(i) = ds(i - 1); ids(i) = ids(i - 1); i -= 1
        }
        ds(i) = d; ids(i) = c
        if (size < m) size += 1
      }
      c += 1
    }
    ids
  }

  /** Deterministic local Lloyd: k-means++ init with a fixed-seed RNG
    * (D²-weighted sampling — farthest-first chases outliers and costs
    * recall), then `iters` assignment/mean rounds; an emptied cluster
    * keeps its previous center. O(n·k·d·iters) on the bounded training
    * sample. */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    val n = points.length
    val d = points.head.length
    val rng = new scala.util.Random(seed)
    val kk = math.min(k, n)
    val centers = Array.ofDim[Array[Double]](kk)
    centers(0) = points(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var total = 0.0
      var i = 0
      while (i < n) {
        val dd = sq(points(i), centers(c - 1))
        if (dd < minD(i)) minD(i) = dd
        total += minD(i)
        i += 1
      }
      // D²-weighted draw; total = 0 (all-duplicate sample) falls back to
      // an unweighted pick
      var pick = if (total > 0) rng.nextDouble() * total else -1.0
      var chosen = rng.nextInt(n)
      if (pick >= 0) {
        var j = 0
        var acc = 0.0
        while (j < n && pick >= 0) {
          acc += minD(j)
          if (acc >= pick) { chosen = j; pick = -1.0 }
          j += 1
        }
      }
      centers(c) = points(chosen).clone()
      c += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val bj = nearest(points(i), centers)
        counts(bj) += 1
        var x = 0
        while (x < d) { sums(bj)(x) += points(i)(x); x += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (counts(j) > 0) {
          var x = 0
          while (x < d) { centers(j)(x) = sums(j)(x) / counts(j); x += 1 }
        }
        j += 1
      }
      it += 1
    }
    // pad (k > n corner): repeat the last center so the codebook shape holds
    if (kk < k) centers ++ Array.fill(k - kk)(centers(kk - 1).clone()) else centers
  }

  /** Sum over points of the squared distance to the nearest center. */
  private def sse(pts: Array[Array[Double]], cs: Array[Array[Double]]): Double =
    pts.map(p => sq(p, cs(nearest(p, cs)))).sum

  /** For each point set s, the lowest-SSE of 8 [[lloyd]] restarts, run r
    * seeded `seedOf(s, r)` (best-of-8 recovers the quality of a k-means||
    * style init on a bounded sample). The runs are independent and fully
    * seeded, so they fan out across driver cores as one flat task list
    * (the driver is otherwise idle here — no Spark job in flight) and the
    * result is bit-identical to the sequential loop. A DEDICATED pool (not
    * ExecutionContext.global: blocking the caller on the shared global pool
    * risks starvation if a fit is ever invoked from code already running on
    * it) and a generous FINITE timeout, so a wedged run fails loudly instead
    * of hanging the driver forever. */
  def bestOf(sets: IndexedSeq[Array[Array[Double]]], k: Int, iters: Int,
             seedOf: (Int, Int) => Long): IndexedSeq[Array[Array[Double]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val runs = for (s <- sets.indices; r <- 0 until 8) yield (s, r)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(runs.size, Runtime.getRuntime.availableProcessors())))
    val fitted =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(runs.toList) { case (s, r) =>
          Future((s, lloyd(sets(s), k, iters, seedOf(s, r))))
        }, 10.minutes)
      } finally pool.shutdown()
    sets.indices.map(s => fitted.collect { case (`s`, cs) => cs }.minBy(sse(sets(s), _)))
  }

  /** Seeding sample size: a few ×10⁴ points is the usual bound (FAISS
    * trains on ~10⁴-10⁵ sampled vectors regardless of corpus size). */
  private val SampleN = 10000

  /** k centers of the rows. A seeded Bernoulli sample of about [[SampleN]]
    * rows (all of them when there are fewer) is fitted by [[bestOf]] with
    * `maxIter` local rounds; Lloyd rounds over all rows then refine it until
    * every center moves less than `tol` (MLlib's rule) or `maxIter` rounds
    * have run. Jobs: one count, one sample collect, one per round. The
    * caller caches the rows and unpersists them. */
  def fit(rows: RDD[Array[Double]], k: Int, maxIter: Int, tol: Double,
          seed: Long): Array[Array[Double]] = {
    val n = rows.count()
    require(n > 0, "k-means: no rows")
    val sample = (if (n <= SampleN) rows
      else rows.sample(withReplacement = false, SampleN.toDouble / n, seed)).collect()
    require(sample.nonEmpty, s"k-means: empty sample of $n rows")
    val centers = bestOf(IndexedSeq(sample), k, maxIter, (_, r) => seed + r * 1000L).head
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      val p = pass(rows, centers)
      moved = false
      var j = 0
      while (j < k) {
        if (p.counts(j) > 0) {
          val c = p.sums(j).map(_ / p.counts(j))
          if (sq(c, centers(j)) > tol * tol) moved = true
          centers(j) = c
        }
        j += 1
      }
      it += 1
    }
    centers
  }

  /** One round over the rows. Each partition folds its rows into a flat
    * [count_j, sum_j(0..d-1)]·k ++ [sse] partial, and the partials merge as
    * a depth-2 tree in a fixed order. Up to the size where treeAggregate
    * (depth 2) adds no level, the driver adds the P partials in partition
    * order. Above it, runs of about √P consecutive partitions are added in
    * partition order on the executors first, so the driver receives about √P
    * partials, not P. treeAggregate itself merges in task-completion order,
    * so its sums, and the centers, could differ in the last bits from run to
    * run; the fixed order makes identical rows give identical centers. */
  def pass(rows: RDD[Array[Double]], centers: Array[Array[Double]]): Pass = {
    val k = centers.length
    val d = centers(0).length
    val w = k * (d + 1) + 1
    def add(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < w) { a(i) += b(i); i += 1 }
      a
    }
    val partials = rows.mapPartitionsWithIndex { (p, it) =>
      val a = new Array[Double](w)
      it.foreach { x =>
        val bj = nearest(x, centers)
        val o = bj * (d + 1)
        a(o) += 1.0
        var i = 0
        while (i < d) { a(o + 1 + i) += x(i); i += 1 }
        a(w - 1) += sq(x, centers(bj))
      }
      Iterator((p, a))
    }
    // treeAggregate's depth-2 rule: the group level runs only when P
    // exceeds scale + ⌈P/scale⌉
    val nP = rows.getNumPartitions
    val scale = math.max(math.ceil(math.sqrt(nP)).toInt, 2)
    val nGroups = (nP + scale - 1) / scale
    val merged =
      if (nP <= scale + nGroups) partials.collect()
      else partials.map { case (p, a) => (p / scale, (p, a)) }.groupByKey(nGroups)
        .map { case (g, ps) => (g, ps.toSeq.sortBy(_._1).map(_._2).reduce(add)) }
        .collect()
    val acc = merged.sortBy(_._1).map(_._2).foldLeft(new Array[Double](w))(add)
    Pass(Array.tabulate(k)(j => acc(j * (d + 1)).toLong),
      Array.tabulate(k)(j => java.util.Arrays.copyOfRange(acc, j * (d + 1) + 1, (j + 1) * (d + 1))),
      acc(w - 1))
  }
}
