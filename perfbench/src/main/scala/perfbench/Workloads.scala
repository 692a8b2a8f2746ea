package perfbench

import graft.cluster.KMeansGraft
import graft.core.Tables
import graft.decomposition.PCAGraft
import graft.dedup.Dedup
import graft.ensemble.Forest
import graft.io.ModelIO
import graft.linear.{GradientSolver, Lasso, LinearModel, OLS, Ridge}
import graft.neighbors.{IVF, KNN}
import graft.preprocessing.Datasets
import graft.svm.SVMGraft
import graft.text.TextOps
import graft.tsa.TimeSeries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What one pass produced: output hashes (compared across runs of the same
  * seed), the kNN and scoring work it did, and a check of its outputs that
  * the harness runs after the pass's counters are taken. */
final case class PassOut(hashes: Vector[Long], knn: Option[Knn.Res], scoredRows: Long,
                         scoreS: Double, verify: () => Seq[String])

/** A workload: seeded inputs, a timed set-up, and a pass that calls
  * graft's public API the way a user does. `dir` holds the inputs and
  * `scratch` the files a pass writes. */
abstract class Workload {
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def setup(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long): Unit
  def pass(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long,
           ps: Long): PassOut
}

object Workload {
  def apply(name: String): Workload = name match {
    case "curate" => new Curate
    case "fit" => new Fit
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def now(): Double = System.nanoTime() / 1e9

  /** An error line per failed condition. */
  def expect(errs: scala.collection.mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) errs += what

  def linearHash(m: LinearModel): Long =
    Tracer.hash(Seq(Row.fromSeq(m.terms ++ m.coefs)))
}

/** The kNN part of a pass: exact top-10 by brute force, then the IVF
  * index on the same queries, scored as recall@10 against it. */
object Knn {
  final case class Res(answers: Long, seconds: Double, recall: Double, hashes: Vector[Long],
                       errors: Seq[String])

  val K = 10

  private def sets(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }

  private def recall(exact: Array[Row], ann: Array[Row]): Double = {
    val (e, a) = (sets(exact), sets(ann))
    e.toSeq.map { case (q, ids) => (ids & a.getOrElse(q, Set.empty)).size }.sum.toDouble /
      math.max(1, e.values.map(_.size).sum)
  }

  /** Recall must reach `floor`. */
  def probe(t: Tracer, corpus: DataFrame, queries: DataFrame, ivf: IVF.Index, nprobe: Int,
            floor: Double): Res = {
    val t0 = Workload.now()
    val exact = t.frame("neighbors", "KNN.bruteForce") {
      KNN.bruteForce(queries, corpus, "vec_id", "vec_id", "embedding", "embedding", K, KNN.Cosine)
    }
    val approx = t.frame("neighbors", "IVF.topK") {
      IVF.topK(corpus, queries, "vec_id", "embedding", ivf, K, nprobe)
    }
    val seconds = Workload.now() - t0
    val nq = exact.rows.map(_.getLong(0)).distinct.length
    val r = recall(exact.rows, approx.rows)
    val errs = scala.collection.mutable.Buffer.empty[String]
    Workload.expect(errs, nq > 0 && exact.rows.length == nq * K,
      s"kNN: ${exact.rows.length} exact rows for $nq queries")
    Workload.expect(errs, r >= floor, f"kNN: recall@10 $r%.3f below $floor")
    // each query is answered twice: exactly, and by the index
    Res(nq * 2L, seconds, r, Vector(exact.hash, approx.hash), errs.toSeq)
  }
}

/** Training-data curation: score, exact dedup, MinHash near-dup clusters,
  * keep the best document per cluster, decontaminate against a held-out
  * slice, cap domains, count tokens. */
final class Curate extends Workload {
  val NDocs = 3000L
  val MaxPerDomain = 300

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    Inputs.documents(spark, dir, NDocs, seed)

  def setup(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long): Unit =
    t.value("core", "Tables.documents")(Tables.documents(spark, dir))

  def pass(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long,
           ps: Long): PassOut = {
    import Workload.expect
    val docs = Inputs.fresh(t.value("core", "Tables.documents")(Tables.documents(spark, dir)),
      "doc_id", ps)
    val heldOut = pmod(xxhash64(col("doc_id"), lit(seed), lit("held")), lit(50)) === 0
    val corpus = docs.filter(!heldOut)
    val held = docs.filter(heldOut)

    val s0 = Workload.now()
    val scored = t.frame("text", "qualityScore+langIdScore") {
      corpus.select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langIdScore(col("text")).as("lang_id"))
    }
    val scoreS = Workload.now() - s0
    val exact = t.frame("dedup", "exact")(Dedup.exact(corpus, "text", "doc_id"))
    val unique = corpus.join(exact.df.select(col("keeper_id").as("doc_id")), Seq("doc_id"),
      "left_semi")
    val clusters = t.frame("dedup", "minhashClusters") {
      Dedup.minhashClusters(unique, "text", "doc_id")
    }
    // keep the highest-quality document of each near-dup cluster
    val keptPath = s"$scratch/kept.parquet"
    t.write("dedup", "keepBest", keptPath) {
      val w = Window.partitionBy(col("_cl")).orderBy(col("quality").desc, col("doc_id"))
      unique.select(col("doc_id"), col("text"), col("source"),
          TextOps.qualityScore(col("text")).as("quality"))
        .join(clusters.df.select(col("doc").as("doc_id"), col("keeper")), Seq("doc_id"), "left")
        .withColumn("_cl", coalesce(col("keeper"), col("doc_id")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("doc_id"), col("text"), col("source"), col("quality"))
    }
    val kept = spark.read.parquet(keptPath)
    val overlap = t.frame("dedup", "benchmarkOverlap") {
      Dedup.benchmarkOverlap(kept, held, "text", "doc_id")
    }
    val capped = t.frame("text", "domainCap") {
      TextOps.domainCap(kept, "source", "doc_id", MaxPerDomain)
    }
    val tokens = t.frame("text", "tokenCounts")(TextOps.tokenCounts(kept, "text", "doc_id"))

    val n = scored.rows.length
    val nKept = tokens.rows.length
    PassOut(Vector(scored, exact, clusters, overlap, capped, tokens).map(_.hash),
        None, n.toLong, scoreS, () => {
      val errs = scala.collection.mutable.Buffer.empty[String]
      val removed = (n - nKept).toDouble / n
      expect(errs, scored.rows.forall { r =>
        val q = r.getDouble(2); q >= 0 && q <= 1 }, "text: quality outside [0, 1]")
      expect(errs, exact.rows.map(_.getLong(2)).sum == n, "dedup: exact copies do not sum to corpus")
      expect(errs, n - exact.rows.length <= 0.01 * n,
        s"dedup: ${n - exact.rows.length} exact duplicates, planted rate is 0.2%")
      // MakeOrganicSF plants 2% near and 0.2% exact duplicates (2.2%); the
      // unverified MinHash candidates (4 bands of 2 rows) also merge some
      // unplanted pairs, so the band is half to three times that rate
      expect(errs, removed >= 0.011 && removed <= 0.066,
        f"dedup: keep-best removed ${removed * 100}%.2f%% of documents")
      expect(errs, capped.rows.map(_.getLong(1)).sum == nKept,
        "text: domainCap does not cover the kept documents")
      expect(errs, capped.rows.forall(_.getLong(2) <= MaxPerDomain), "text: domain cap exceeded")
      expect(errs, tokens.rows.forall(_.getLong(1) >= 12), "text: token counts wrong")
      expect(errs, overlap.rows.forall(r => r.getLong(1) <= r.getLong(2)),
        "dedup: overlap matched more shingles than a document has")
      errs.toSeq
    })
  }
}

/** The cuML estimator surface on seeded tabular inputs with known truth,
  * fitted afresh every pass, then served: the pass's models score rows as
  * broadcast expressions and round-trip through ModelIO, and kNN queries
  * run against an IVF index deployed in set-up. */
final class Fit extends Workload {
  val NReg = 10000L
  val NBlob = 10000L
  val NLine = 20000L
  val NVecs = 1000L
  val Queries = 10
  val Cells = 4
  private val Xs = Seq("x0", "x1", "x2", "x3")
  private val LiFeatures = Seq("l_quantity", "l_discount", "l_tax")
  private val Flag = col("l_returnflag") === "R"

  private def truth(seed: Long) = {
    val r = new scala.util.Random(seed)
    val w = Seq.fill(4)(math.rint((r.nextDouble() * 4 - 2) * 100) / 100)
    val b = math.rint((r.nextDouble() * 2 - 1) * 100) / 100
    val centers = Seq((-6.0, -6.0), (0.0, 6.0), (6.0, -3.0)).map { case (x, y) =>
      (x + r.nextDouble(), y + r.nextDouble())
    }
    (w, b, centers)
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    Inputs.lineitem(spark, dir, NLine, seed)
    Inputs.events(spark, dir, 6, 100, 2, seed)
    Inputs.embeddings(spark, dir, NVecs, seed)
  }

  private var ivf: IVF.Index = _

  def setup(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long): Unit = {
    t.value("core", "Tables.lineitem")(Tables.lineitem(spark, dir))
    t.value("core", "Tables.events")(Tables.events(spark, dir))
    val emb = t.value("core", "Tables.embeddings")(Tables.embeddings(spark, dir))
    ivf = t.value("neighbors", "IVF.train")(IVF.train(emb, "embedding", Cells, seed))
  }

  def pass(spark: SparkSession, t: Tracer, dir: String, scratch: String, seed: Long,
           ps: Long): PassOut = {
    import Workload.expect
    val (w, b, centers) = truth(seed)
    val reg = Inputs.fresh(t.value("core", "Datasets.makeRegression") {
      Datasets.makeRegression(spark, NReg, w, b, 0.1)
    }, "id", ps)
    val ols = t.value("linear", "OLS.fit")(OLS.fit(reg, Xs, "y"))
    val ridge = t.value("linear", "Ridge.fit")(Ridge.fit(reg, Xs, "y", 1.0))
    val lasso = t.value("linear", "Lasso.fit")(Lasso.fit(reg, Xs, "y", 0.001))
    val qn = t.value("linear", "GradientSolver.fitQN") {
      GradientSolver.fitQN(reg.withColumn("above", (col("y") > b + w.sum / 2).cast("double")),
        Xs, "above", l2 = 0.1, maxIter = 6)
    }
    val sgd = t.value("linear", "GradientSolver.fit") {
      GradientSolver.fit(reg, Xs, "y", GradientSolver.SquaredLoss, lr = 0.9, iters = 5)
    }
    val pca = t.value("decomposition", "PCAGraft.fitNarrow")(PCAGraft.fitNarrow(reg, Xs))

    val blobs = Inputs.fresh(t.value("core", "Datasets.makeBlobs") {
      Datasets.makeBlobs(spark, NBlob, centers, 0.5)
    }, "id", ps)
    val km = t.frame("cluster", "KMeansGraft.fitSummary") {
      KMeansGraft.fitSummary(blobs, Seq("x", "y"), 3, seed, maxIter = 2)
    }
    val centroids = km.rows.map(r => Seq(r.getDouble(1), r.getDouble(2))).toSeq

    val li = Inputs.fresh(t.value("core", "Tables.lineitem")(Tables.lineitem(spark, dir)),
      "l_orderkey", ps)
    val svm = t.frame("svm", "SVMGraft.linearSvcSummary") {
      SVMGraft.linearSvcSummary(li, LiFeatures, Flag, maxIter = 5)
    }
    val svc = svm.rows.map(_.getDouble(1))
    val rf = t.frame("ensemble", "Forest.classifierSummary") {
      Forest.classifierSummary(li, LiFeatures, "l_returnflag", numTrees = 10, maxDepth = 3,
        seed = seed)
    }

    // serving: the pass's models score rows as broadcast expressions
    val s0 = Workload.now()
    val assigned = t.frame("cluster", "KMeansGraft.assign") {
      blobs.groupBy(col("cluster"),
        KMeansGraft.assign(Seq(col("x"), col("y")), centroids).as("pred")).count()
    }
    val margins = t.frame("svm", "SVMGraft.predictSummary") {
      SVMGraft.predictSummary(li, LiFeatures, svc.head, svc.tail.toSeq, Flag)
    }
    val scoreS = Workload.now() - s0
    val models = s"$scratch/models"
    t.value("io", "ModelIO.saveLinear")(ModelIO.saveLinear(spark, ols, s"$models/ols"))
    val olsBack = t.value("io", "ModelIO.loadLinear")(ModelIO.loadLinear(spark, s"$models/ols"))
    t.value("io", "ModelIO.saveCentroids") {
      ModelIO.saveCentroids(spark, Seq("x", "y"), centroids, s"$models/kmeans")
    }
    val kmBack = t.value("io", "ModelIO.loadCentroids") {
      ModelIO.loadCentroids(spark, s"$models/kmeans")
    }

    val ev = Inputs.fresh(t.value("core", "Tables.events")(Tables.events(spark, dir)),
      "event_id", ps)
    val arima = t.frame("tsa", "TimeSeries.arimaHR") {
      TimeSeries.arimaHR(TimeSeries.dailySeries(ev))
    }
    val hw = t.frame("tsa", "TimeSeries.holtWintersSeasonal") {
      TimeSeries.holtWintersSeasonal(TimeSeries.dailySeries(ev), 0.3, 0.1, 0.2, 7)
    }

    val emb = Inputs.fresh(t.value("core", "Tables.embeddings")(Tables.embeddings(spark, dir)),
      "vec_id", ps)
    val queries = Inputs.fresh(Inputs.queries(emb, NVecs, Queries, seed), "vec_id", ps)
    val knn = Knn.probe(t, emb, queries, ivf, 2, 0.8)

    val nBlobs = assigned.rows.map(_.getLong(2)).sum
    val nScored = margins.rows.map(_.getLong(1)).sum
    PassOut(Seq(ols, ridge, lasso, qn, sgd).map(Workload.linearHash).toVector ++
        Vector(Tracer.hash(Seq(Row.fromSeq(pca.explainedVar.toSeq)))) ++
        Vector(km, assigned, svm, margins, rf, arima, hw).map(_.hash) ++ knn.hashes,
      Some(knn), nBlobs + nScored, scoreS, () => {
        val errs = scala.collection.mutable.Buffer.empty[String] ++ knn.errors
        // the noise (sd 0.1 over 10 000 rows) leaves each coefficient a standard
        // error of about 0.0035; Ridge and Lasso add their shrinkage
        for ((m, name, tol) <- Seq((ols, "OLS", 0.06), (ridge, "Ridge", 0.08),
            (lasso, "Lasso", 0.08), (sgd, "SGD", 0.06))) {
          val err = (b +: w).zip(m.coefs).map { case (a, c) => math.abs(a - c) }.max
          expect(errs, m.terms == "intercept" +: Xs && err <= tol,
            f"linear: $name coefficients off the planted truth by $err%.4f")
        }
        // the logistic fit of y above its mean (b + Σw/2, the features being
        // uniform on [0, 1)) recovers the direction of w
        val qw = qn.coefs.tail
        val cos = qw.zip(w).map { case (a, c) => a * c }.sum /
          math.sqrt(qw.map(x => x * x).sum * w.map(x => x * x).sum)
        expect(errs, cos > 0.95, f"linear: fitQN direction off the planted truth (cos $cos%.4f)")
        // the features are uniform on [0, 1): every component's variance is 1/12
        expect(errs, math.abs(pca.ratio.sum - 1) < 1e-6 &&
          pca.explainedVar.forall(v => v > 0.07 && v < 0.097),
          s"decomposition: explained variance ${pca.explainedVar.mkString(",")}")
        expect(errs, centroids.length == 3 && centers.forall { case (x, y) =>
          centroids.exists(c => math.hypot(c(0) - x, c(1) - y) < 0.2) },
          s"cluster: centers ${centroids.mkString(",")} not at the planted $centers")
        val purity = assigned.rows.groupBy(_.getInt(0)).values
          .map(_.map(_.getLong(2)).max).sum.toDouble / nBlobs
        expect(errs, purity > 0.99, f"cluster: assignment purity $purity%.4f")
        expect(errs, svm.rows.head.getDouble(2) >= 0.9,
          s"svm: train accuracy ${svm.rows.head.getDouble(2)}")
        // the flags follow thresholds on quantity and discount; with the
        // library's 8 bins a split can miss a threshold by a bin, so one
        // class's precision can drop to about 0.78 while the forest as a
        // whole stays near 0.9
        val rfAcc = rf.rows.map(r => r.getLong(1) * r.getDouble(2)).sum / nScored
        expect(errs, rf.rows.map(_.getLong(1)).sum == nScored && rfAcc >= 0.85,
          s"ensemble: forest summary ${rf.rows.mkString(",")} for $nScored rows")
        expect(errs, nScored == li.count(), "svm: predict lost rows")
        expect(errs, olsBack == ols, "io: linear model did not round-trip exactly")
        expect(errs, kmBack == ((Seq("x", "y"), centroids)),
          "io: centroids did not round-trip exactly")
        expect(errs, arima.rows.length == 18, s"tsa: ${arima.rows.length} ARIMA rows, expected 18")
        expect(errs, hw.rows.length == 6 && hw.rows.forall(r => !r.getDouble(4).isNaN),
          "tsa: Holt-Winters forecast missing")
        errs.toSeq
      })
  }
}
