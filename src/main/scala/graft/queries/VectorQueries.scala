package graft.queries

import graft.core.Tables
import graft.core.Num.{r4, r6}
import graft.decomposition.{PCAGraft, RandomProjection, TSVDGraft}
import graft.dedup.Dedup
import graft.manifold.Manifold
import graft.neighbors.KNN
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space query surface: kNN / ANN / near-dup / random projection /
  * PCA / TSVD / manifold front-ends over the `embeddings` table. */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "ann_cosine_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      KNN.bruteForce(e.filter(col("vec_id") < 10), e, "vec_id", "vec_id",
          "embedding", "embedding", 5, KNN.Cosine)
        .orderBy("qid", "rank")
    },
    "knn_bruteforce" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      KNN.bruteForce(e.filter(col("vec_id") >= 10 && col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", "embedding", 5, KNN.Euclidean,
          excludeSelf = true)
        .orderBy("qid", "rank")
    },
    "centroid_classify" -> { (s, d) =>
      // NearestCentroid (sklearn) — the OTHER scalable classify shape
      // next to knn_classify: per-label centroids from the train split
      // via posexplode + (label, pos) groupBy (shuffle key bounded by
      // labels×dims); queries explode to (qid, pos, val) and join the
      // BROADCAST centroid table on pos — both sides stream, no n×n;
      // argmin on the ROUNDED distance, ties to the smaller label
      val e = Tables.embeddings(s, d)
      val train = e.filter(col("vec_id") % 20 =!= 10)
      val qs = e.filter(col("vec_id") % 20 === 10)
      val cents = train
        .select(col("label").cast("long").as("clabel"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("clabel", "pos").agg(avg(col("v").cast("double")).as("c"))
      val qx = qs.select(col("vec_id").as("qid"), col("label").cast("long").as("truth"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      val d2 = qx.join(broadcast(cents), "pos")
        .groupBy(col("qid"), col("truth"), col("clabel"))
        .agg(sum((col("v").cast("double") - col("c")) *
          (col("v").cast("double") - col("c"))).as("d2"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(round(col("d2"), 6), col("clabel"))
      d2.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .groupBy(col("truth"), col("clabel").as("pred"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("truth", "pred")
    },
    "knn_classify" -> { (s, d) =>
      // KNeighborsClassifier shape: labeled train split fits, the held-out
      // query split (vec_id % 20 == 10) predicts by majority vote of the 5
      // nearest; every decision (distance rank, vote tiebreak) replays in
      // SQL; output = the confusion summary
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") % 20 === 10)
      val train = e.filter(col("vec_id") % 20 =!= 10)
      val pred = KNN.classify(qs, train, "vec_id", "vec_id",
        "embedding", "embedding", "label", k = 5, KNN.Euclidean)
      pred.join(e.select(col("vec_id").as("qid"), col("label").cast("long").as("truth")), "qid")
        .groupBy("truth", "pred")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("truth", "pred")
    },
    "knn_regress" -> { (s, d) =>
      // KNeighborsRegressor shape (reference kneighbors_regressor.pyx):
      // the held-out split predicts the component-sum target as the mean
      // of its 5 nearest train targets — every distance rank and the
      // 5-row average replay in SQL; emits (qid, pred, truth)
      val e = Tables.embeddings(s, d)
      val y = aggregate(col("embedding").cast("array<double>"), lit(0.0),
        (acc, x) => acc + x)
      val withY = e.select(col("vec_id"), col("embedding"), y.as("_t"))
      val qs = withY.filter(col("vec_id") % 20 === 10)
      val train = withY.filter(col("vec_id") % 20 =!= 10)
      graft.neighbors.KNN.regress(qs, train, "vec_id", "vec_id",
          "embedding", "embedding", "_t", k = 5, graft.neighbors.KNN.Euclidean)
        .join(qs.select(col("vec_id").as("qid"), col("_t")), "qid")
        .select(col("qid"), r4(col("pred")).as("pred"), r4(col("_t")).as("truth"))
        .orderBy("qid")
    },
    "knn_join" -> { (s, d) =>
      // self kNN of the first 100 vectors — the batch kneighbors() shape
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      KNN.bruteForce(e, e, "vec_id", "vec_id", "embedding", "embedding",
          3, KNN.Euclidean, excludeSelf = true)
        .groupBy("qid").agg(sum(col("score")).as("dist_sum"))
        .agg(count(lit(1)).cast("long").as("n_nodes"), r6(avg("dist_sum")).as("avg_knn_dist"))
    },
    "dedup_embedding" -> { (s, d) =>
      Dedup.embeddingTopPairs(Tables.embeddings(s, d), "vec_id", "embedding", 20)
    },
    "dedup_embedding_lsh" -> { (s, d) =>
      Dedup.embeddingTopPairsLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        topN = 20, bits = 8, dim = 64)
    },
    "dedup_embedding_lsh_auto" -> { (s, d) =>
      // n-SCALED bits (r15): the fixed-8-bit pair stage measured 6.9×
      // for 10× vectors on the organic second decade (bucket size grows
      // n/2^bits → quadratic pair mass); KNN.lshBitsFor keeps the
      // expected bucket ~64 rows at any n. Oracle derives bits from its
      // own count — the ann_lsh_auto discipline on the dedup pair path
      Dedup.embeddingTopPairsLshAuto(Tables.embeddings(s, d), "vec_id",
        "embedding", topN = 20, dim = 64)
    },
    "agglomerative_cc" -> { (s, d) =>
      // single-linkage agglomerative clustering cut at cosine ≥ 0.3:
      // clusters = connected components of the threshold graph (the
      // classic dendrogram-cut equivalence), so the edge pass reuses the
      // LSH-bucket pair regime (Σ bucket², never n²) and the merge is the
      // same 8 fixed min-label rounds as dedup_clusters. Edge membership
      // decides on the ROUNDED similarity; summary = cluster count/sizes
      // + singletons (vectors with no ≥τ neighbor in-bucket)
      val e = Tables.embeddings(s, d)
      val lab = graft.graph.ConnectedComponents.propagate(
        lshThresholdEdges(e), "id1", "id2", 8)
      val tot = e.agg(count(lit(1)).as("_t"))
      lab.groupBy(col("label")).agg(count(lit(1)).as("_sz"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(col("_sz")).cast("long").as("n_clustered"),
          max(col("_sz")).cast("long").as("max_cluster"))
        .crossJoin(broadcast(tot))
        .select(col("n_clusters"), col("n_clustered"), col("max_cluster"),
          (col("_t") - col("n_clustered")).cast("long").as("n_singletons"))
    },
    "label_prop" -> { (s, d) =>
      // semi-supervised label propagation on the same LSH threshold
      // graph: 10% of vectors seed their true label, 5 fixed
      // majority-vote rounds spread them (ties → smallest label); output
      // = final label occupancy (−1 = never reached)
      val e = Tables.embeddings(s, d)
      val nodes = e.select(col("vec_id").cast("long").as("node"),
        when(col("vec_id") % 10 === 0, col("label").cast("long")).as("seed"))
      val lab = graft.graph.LabelPropagation.propagate(nodes,
        lshThresholdEdges(e).toDF("src", "dst"), rounds = 5)
      lab.groupBy(coalesce(col("lab"), lit(-1L)).as("label"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("seed").isNotNull, 1L).otherwise(0L)).as("n_seeds"))
        .orderBy("label")
    },
    "ann_lsh" -> { (s, d) =>
      KNN.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 3, bits = 8, dim = 64)
        .groupBy("qid").agg(max("rank").as("_found"))
        .agg(count(lit(1)).cast("long").as("n_queries_with_candidates"),
          r6(avg("_found")).as("avg_found"))
    },
    "ann_lsh_auto" -> { (s, d) =>
      // n-SCALED depth (r14): bits = smallest b with 2^b·64 ≥ n, so the
      // expected bucket size stays ~64 at any corpus size — fixed-depth
      // buckets hold n/2^bits rows and the candidate pair mass goes
      // quadratic (measured: bits=8 at n=200k → 156M pairs). The oracle
      // derives the same bits from its own count and replays the
      // signature per plane. Signature = ONE codegen'd BlockSignBits loop
      Tables.embeddings(s, d).transform(e =>
        KNN.lshTopKAuto(e, "vec_id", "embedding", k = 3, dim = 64))
        .groupBy("qid").agg(max("rank").as("_found"))
        .agg(count(lit(1)).cast("long").as("n_queries_with_candidates"),
          r6(avg("_found")).as("avg_found"))
    },
    "rp_distortion" -> { (s, d) =>
      // test_random_projection.py's quality gate: a JL projection preserves
      // pairwise distances within (1±eps). Ratio = projected/original
      // euclidean distance over all pairs of a bounded query set; both
      // engines derive it from 4-decimal-rounded distances, so the hash is
      // exact. The pair scan is a broadcast self-join of 40 rows — the
      // audit runs on a sample by construction, never the corpus.
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 40)
      val m = RandomProjection.gaussianMatrix(64, 8, 42L)
      val p = RandomProjection.project(e, "vec_id", "embedding", m)
      val base = e.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .join(p, "id")
      val dp2 = (0 until 8).map(i => (col(s"a.rp_$i") - col(s"b.rp_$i")) *
        (col(s"a.rp_$i") - col(s"b.rp_$i"))).reduce(_ + _)
      val dp = round(sqrt(dp2), 4)
      val dq = round(sqrt(graft.core.VectorOps.sqDistFixed(col("a.v"), col("b.v"))), 4)
      base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(dp.as("dp"), dq.as("dq"))
        .filter(col("dq") > 0)
        .select((col("dp") / col("dq")).as("ratio"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          round(avg(col("ratio")), 4).as("avg_ratio"),
          round(min(col("ratio")), 4).as("min_ratio"),
          round(max(col("ratio")), 4).as("max_ratio"),
          round(avg(when(col("ratio") >= 0.5 && col("ratio") <= 1.5, 1.0)
            .otherwise(0.0)), 4).as("frac_within_eps"))
    },
    "embedding_stats" -> { (s, d) =>
      // corpus-health monitoring for the embedding column: norm
      // distribution (one codegen scan, no shuffle) + mean pairwise cosine
      // over a bounded sample — the isotropy proxy (an isotropic space has
      // mean cosine ≈ 0); the pair scan is 60 rows by construction
      import graft.core.VectorOps
      val e = Tables.embeddings(s, d)
      val nrm = round(sqrt(VectorOps.sqNormFixed(
        col("embedding").cast("array<double>"))), 4)
      val norms = e.select(nrm.as("nrm"))
        .agg(count(lit(1)).cast("long").as("n_vectors"),
          round(min(col("nrm")), 4).as("min_norm"),
          round(avg(col("nrm")), 4).as("avg_norm"),
          round(max(col("nrm")), 4).as("max_norm"))
      val sample = e.filter(col("vec_id") < 60)
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", VectorOps.sqNormFixed(col("v")))
      val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
        sqrt(col("a.n2") * col("b.n2"))
      val iso = sample.as("a").join(sample.as("b"), col("a.id") < col("b.id"))
        .select(round(sim, 4).as("c"))
        .agg(round(avg(col("c")), 4).as("mean_cosine"),
          round(avg(abs(col("c"))), 4).as("mean_abs_cosine"))
      norms.crossJoin(iso)
    },
    "semdedup" -> { (s, d) =>
      // n-SCALED cell count (r12 verdict #3): k = ⌈n/100⌉ via semDedupAuto,
      // so the gate exercises the production quantizer shape — expected
      // cell size stays ~100 at every SF (k = 5 at sf0.01, 20 at sf0.1,
      // ~200 at sf1) and the pair stage stays Σ cell² ≈ 100·n, linear in
      // n. The oracle derives the SAME k from its own count and replays
      // the md5 anchors dynamically; n_pairs is the per-cell candidate-
      // join mass — if cell assignment diverged anywhere, these counts
      // hash-mismatch.
      Dedup.semDedupAuto(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, seed = 7L, tau = 0.4, targetCellSize = 100L)
        .withColumn("n_pairs",
          ((col("n") * (col("n") - lit(1L))) / lit(2L)).cast("long"))
        .orderBy("cell")
    },
    "semdedup_ivf" -> { (s, d) =>
      // two-level (IVF-style) quantizer — assign is O(n·√k·dim) instead of
      // the flat O(n·k·dim), the 100 TB path the r13 verdict asked for.
      // Same gate design as `semdedup`: the oracle derives kc/kf from its
      // own count, replays BOTH md5-anchor levels and the per-cell
      // pair-candidate mass — any assignment divergence hash-mismatches.
      Dedup.semDedupTwoLevel(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, seed = 7L, tau = 0.4, targetCellSize = 100L)
        .withColumn("n_pairs",
          ((col("n") * (col("n") - lit(1L))) / lit(2L)).cast("long"))
        .orderBy("cell")
    },
    "embedding_quantize" -> { (s, d) =>
      graft.neighbors.SQ.quantizeAudit(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("pos"), col("dmin"), col("dmax"), col("scale"),
          col("avg_sq_err"), col("max_abs_err"))
        .orderBy("pos")
    },
    "random_projection" -> { (s, d) =>
      val m = RandomProjection.gaussianMatrix(64, 8, 42L)
      RandomProjection.project(Tables.embeddings(s, d), "vec_id", "embedding", m)
        .orderBy("id").limit(50)
    },
    "random_projection_sparse" -> { (s, d) =>
      val m = RandomProjection.sparseMatrix(64, 8, 42L)
      RandomProjection.project(Tables.embeddings(s, d), "vec_id", "embedding", m)
        .orderBy("id").limit(50)
    },
    "pca" -> { (s, d) =>
      // PARTIAL HASH GATE (r11): the eigensolve is driver-state, but the
      // spectrum obeys SQL-checkable physics — positive, descending, and
      // Σλ == trace(cov) == Σ var_samp(dim) recomputed from the raw table
      // (1e-9 relative). The continuous spectrum stays spec-gated.
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val r = PCAGraft.fitWide(e, "embedding")
      val evs = r.explainedVar
      val desc = evs.indices.dropRight(1).forall(i => evs(i) >= evs(i + 1) - 1e-12)
      val v = col("embedding").cast("array<double>")
      val aggs = count(lit(1)).cast("long").as("_n") +:
        (0 until 64).map(i => var_samp(element_at(v, i + 1)).as(s"_v$i"))
      val row = e.agg(aggs.head, aggs.tail: _*).head()
      val trace = (1 to 64).map(row.getDouble).sum
      val traceOk = math.abs(evs.sum - trace) / trace < 1e-9
      val n = row.getLong(0)
      (0 until 8).map(i => (i, n, evs(i) > 0.0, desc, traceOk))
        .toDF("component", "n_rows", "eig_positive", "descending_ok", "trace_matches")
        .orderBy("component")
    },
    "pca_transform" -> { (s, d) =>
      // PARTIAL HASH GATE (ann_ivf precedent): row count + engine-stable
      // invariant booleans hashed — mean(score) ≈ 0 by centering,
      // var_samp(score) = eigenvalue to 1e-6 relative (the OperatorSpec
      // bound); the continuous spectrum itself stays spec-gated
      val e = Tables.embeddings(s, d)
      val r = PCAGraft.fitWide(e, "embedding")
      val k = 4
      val scores = PCAGraft.transformWide(e, "vec_id", "embedding", r, k)
      val aggs = count(lit(1)).cast("long").as("_n") +: (0 until k).flatMap(c =>
        Seq(avg(col(s"pc$c")).as(s"_m$c"), var_samp(col(s"pc$c")).as(s"_v$c")))
      scores.agg(aggs.head, aggs.tail: _*)
        .select(explode(array((0 until k).map(c =>
          struct(lit(c).as("component"), col("_n").as("n_rows"),
            (abs(col(s"_m$c")) < 1e-6).as("mean_zero"),
            (abs(col(s"_v$c") - r.explainedVar(c)) / r.explainedVar(c) < 1e-6)
              .as("var_matches_ev"))): _*)).as("s"))
        .select(col("s.component").as("component"), col("s.n_rows").as("n_rows"),
          col("s.mean_zero").as("mean_zero"), col("s.var_matches_ev").as("var_matches_ev"))
        .orderBy("component")
    },
    "pca_whiten" -> { (s, d) =>
      // whiten=True transform (pca.pyx:235): scores divided by per-component
      // stddev — every output dimension lands at unit variance. PARTIAL
      // HASH GATE: count + mean-zero + unit-variance booleans hashed
      val e = Tables.embeddings(s, d)
      val r = PCAGraft.fitWide(e, "embedding")
      val k = 4
      val scores = PCAGraft.transformWhitened(e, "vec_id", "embedding", r, k)
      val aggs = count(lit(1)).cast("long").as("_n") +: (0 until k).flatMap(c =>
        Seq(avg(col(s"pc$c")).as(s"_m$c"), var_samp(col(s"pc$c")).as(s"_v$c")))
      scores.agg(aggs.head, aggs.tail: _*)
        .select(explode(array((0 until k).map(c =>
          struct(lit(c).as("component"), col("_n").as("n_rows"),
            (abs(col(s"_m$c")) < 1e-6).as("mean_zero"),
            (abs(col(s"_v$c") - 1.0) < 1e-6).as("unit_variance"))): _*)).as("s"))
        .select(col("s.component").as("component"), col("s.n_rows").as("n_rows"),
          col("s.mean_zero").as("mean_zero"), col("s.unit_variance").as("unit_variance"))
        .orderBy("component")
    },
    "pca_inverse" -> { (s, d) =>
      // inverse_transform quality: reconstruction MSE as k grows. PARTIAL
      // HASH GATE (r11): the MSE sequence obeys exact projection algebra —
      // nonnegative and monotone nonincreasing from the k=0 total variance
      // (nested orthogonal subspaces subtract ever more score mass)
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val r = PCAGraft.fitWide(e, "embedding")
      val v = col("embedding").cast("array<double>")
      val centered2 = (0 until 64).map { i =>
        val c = element_at(v, i + 1) - r.mean(i); c * c
      }.reduce(_ + _)
      val row = e.agg(count(lit(1)).cast("long").as("_n"),
        avg(centered2 / 64).as("_m0")).head()
      val (n, mse0) = (row.getLong(0), row.getDouble(1))
      val ks = Seq(1, 4, 16)
      val mses = ks.map(k => PCAGraft.reconstructionMse(e, "embedding", r, k))
      ks.zip(mses).zip(mse0 +: mses.dropRight(1)).map { case ((k, m), prev) =>
        (k.toLong, n, m >= -1e-9, m <= prev + 1e-12)
      }.toDF("k", "n_rows", "mse_nonneg", "mse_le_prev").orderBy("k")
    },
    "tsvd" -> { (s, d) =>
      // PARTIAL HASH GATE (r11): full-spectrum energy conservation —
      // Σσ² == ‖X‖²_F recomputed from the raw table (trace of the Gram),
      // plus nonneg/descending; the spectrum itself stays spec-gated
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val svAll = TSVDGraft.singularValues(e, "embedding", 64)
      val desc = svAll.indices.dropRight(1).forall(i => svAll(i) >= svAll(i + 1) - 1e-12)
      val v = col("embedding").cast("array<double>")
      val row = e.agg(count(lit(1)).cast("long").as("_n"),
        sum(aggregate(v, lit(0.0), (acc, x) => acc + x * x)).as("_f2")).head()
      val (n, f2) = (row.getLong(0), row.getDouble(1))
      val energyOk = math.abs(svAll.map(x => x * x).sum - f2) / f2 < 1e-9
      (0 until 8).map(i => (i, n, svAll(i) >= 0.0, desc, energyOk))
        .toDF("component", "n_rows", "sv_nonneg", "descending_ok", "energy_matches_f2")
        .orderBy("component")
    },
    "tsvd_transform" -> { (s, d) =>
      // TruncatedSVD scores: per-component energy (Σ score² = σ²). PARTIAL
      // HASH GATE: count + energy-matches-σ² boolean hashed against the
      // eigensolver's own singular values (1e-6 relative); the spectrum
      // stays spec-gated
      val e = Tables.embeddings(s, d)
      val k = 4
      val sv = TSVDGraft.singularValues(e, "embedding", k)
      val scores = TSVDGraft.transform(e, "vec_id", "embedding", k)
      val aggs = count(lit(1)).cast("long").as("_n") +:
        (0 until k).map(c => sum(col(s"pc$c") * col(s"pc$c")).as(s"_e$c"))
      scores.agg(aggs.head, aggs.tail: _*)
        .select(explode(array((0 until k).map(c =>
          struct(lit(c).as("component"), col("_n").as("n_rows"),
            (abs(sqrt(col(s"_e$c")) - sv(c)) / sv(c) < 1e-6)
              .as("energy_matches_sv"))): _*)).as("s"))
        .select(col("s.component").as("component"), col("s.n_rows").as("n_rows"),
          col("s.energy_matches_sv").as("energy_matches_sv"))
        .orderBy("component")
    },
    "umap_knn_graph" -> { (s, d) =>
      Manifold.umapGraphWeights(
          Tables.embeddings(s, d).filter(col("vec_id") < 100), "vec_id", "embedding", 10)
        .select(col("qid"), col("rho"), col("sigma"))
        .orderBy("qid")
    },
    "tsne_perplexity" -> { (s, d) =>
      Manifold.tsnePerplexity(
          Tables.embeddings(s, d).filter(col("vec_id") < 100), "vec_id", "embedding", 20, 10.0)
        .orderBy("qid")
    },
    "umap_layout" -> { (s, d) =>
      // layout 100 nodes, then score the 2-D embedding against the 64-dim
      // original with trustworthiness (deterministic init + forces).
      // PARTIAL HASH GATE (r11; floor 0.40 r12; 0.45 r14): n/k SQL-exact.
      // r14 switched the init to the reference default — SPECTRAL
      // (umap.pyx init="spectral"; normalized-Laplacian Fiedler vectors of
      // the kNN graph via sparse deflated power iteration) — observed
      // trustworthiness 0.482/0.515 at sf0.001/0.01 vs ~0.47 random-init,
      // so the floor rises to 0.45; it fails loudly if a data regen or
      // layout change ever degrades the embedding (planted-cluster
      // separation stays spec-gated)
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      val layout = Manifold.forceLayout(e, "vec_id", "embedding",
          k = 10, iters = 25, lr = 1.0, mode = Manifold.UmapForces)
        .select(col("id").as("vec_id"), array(col("x"), col("y")).as("emb2"))
      graft.metrics.Trustworthiness.compute(e, layout, "vec_id", "embedding", "emb2", 5)
        .select(col("n").cast("long").as("n_points"), col("k").cast("long").as("k"),
          (col("trustworthiness") >= 0.45 && col("trustworthiness") <= 1.0)
            .as("trust_floor"))
    },
    "umap_transform" -> { (s, d) =>
      // fit the layout on vec_id < 100, then place the held-out
      // 100..149 points by kNN-weighted neighbor-coordinate averaging
      // (the reference's out-of-sample transform, umap.pyx:495).
      // PARTIAL HASH GATE (r11): held-out count SQL-exact + the exact
      // convexity invariant — each placement is a positive-weighted mean
      // of fitted layout coordinates, so it lands inside the layout bbox
      val all = Tables.embeddings(s, d)
      val fit = all.filter(col("vec_id") < 100)
      val held = all.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      val layout = Manifold.forceLayout(fit, "vec_id", "embedding",
          k = 10, iters = 25, lr = 1.0, mode = Manifold.UmapForces)
      val bb = layout.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      Manifold.umapTransform(held, fit, layout, "vec_id", "embedding", 5)
        .agg(count(lit(1)).cast("long").as("_n"),
          min(col("x")).as("_xlo"), max(col("x")).as("_xhi"),
          min(col("y")).as("_ylo"), max(col("y")).as("_yhi"))
        .select(col("_n").as("n_placed"),
          (col("_xlo") >= bb.getDouble(0) - 1e-9 && col("_xhi") <= bb.getDouble(1) + 1e-9 &&
            col("_ylo") >= bb.getDouble(2) - 1e-9 && col("_yhi") <= bb.getDouble(3) + 1e-9)
            .as("within_layout_bbox"))
    },
    "tsne_layout" -> { (s, d) =>
      // PARTIAL HASH GATE (r11, floor tightened r12): same n/k +
      // trust-floor gate as umap_layout; observed ~0.56 here so the
      // floor sits at 0.45
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      val layout = Manifold.forceLayout(e, "vec_id", "embedding",
          k = 20, iters = 25, lr = 20.0, mode = Manifold.TsneForces)
        .select(col("id").as("vec_id"), array(col("x"), col("y")).as("emb2"))
      graft.metrics.Trustworthiness.compute(e, layout, "vec_id", "embedding", "emb2", 5)
        .select(col("n").cast("long").as("n_points"), col("k").cast("long").as("k"),
          (col("trustworthiness") >= 0.45 && col("trustworthiness") <= 1.0)
            .as("trust_floor"))
    },
    "mmr_diversify" -> { (s, d) =>
      // Maximal Marginal Relevance re-rank against the md5-derived query
      // vector (seed 99): corpus-scale relevance scan + distributed
      // top-20 cut, then the inherently sequential greedy λ-tradeoff on
      // the BOUNDED 20-row pool (declared driver-side, PQ-codebook
      // discipline). Full hash gate: the 5 selections + scores replay as
      // chained argmax CTEs
      val q = graft.neighbors.KNN.hyperplanes(1, 64, 99L)(0)
      graft.neighbors.MMR.diversify(Tables.embeddings(s, d), "vec_id",
        "embedding", q, k = 5, topN = 20, lambda = 0.7)
    },
    "rerank_cross" -> { (s, d) =>
      // cross-encoder-style rerank of the bi-encoder top-20 (the
      // retrieve-then-rerank pipeline): first stage = corpus-scale
      // cosine scan + distributed top-N cut; second stage = the JOINT
      // (q, c) literal scorer over the bounded pool. Full hash gate —
      // both stages replay in SQL
      val q = graft.neighbors.KNN.hyperplanes(1, 64, 99L)(0)
      graft.neighbors.Rerank.crossEncode(Tables.embeddings(s, d), "vec_id",
        "embedding", q, k = 5, topN = 20, seed = 131L)
    },
    "multimodal_meta" -> { (s, d) =>
      graft.multimodal.Multimodal.featureSummary(Tables.documents(s, d))
    },
    "multimodal_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.ppmDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_audio_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.wavDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_gif_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.gifDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_png_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.pngDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_dims" -> { (s, d) =>
      graft.multimodal.Multimodal.dimsSummary(Tables.documents(s, d))
    },
    "multimodal_jpeg_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.jpegDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_mulaw_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.mulawDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_flac_decode" -> { (s, d) =>
      // REAL rice-coded FLAC round trip (RFC 9639): per-row encode of the
      // text-derived int16 signal, CRC-verified decode inside the real
      // parser; lossless by construction ⇒ the oracle replays the PCM16
      // byte-pair stats — any codec defect breaks the hash
      graft.multimodal.Multimodal.flacDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_flac_stereo" -> { (s, d) =>
      // mid-side decorrelated STEREO FLAC: L = even samples, R = odd,
      // (L+R)>>1 / L−R channels at 16/17 bits; the decoder's §9.1.3
      // reconstruction re-interleaves the original order, so the SAME
      // byte-pair oracle gates the whole decorrelation path
      graft.multimodal.Multimodal.flacStereoDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_mp3_decode" -> { (s, d) =>
      // REAL MPEG-1 Layer III frame round trip (r15: all 32 spec Huffman
      // codebooks typed in): text bits → quantized spectral lines in a
      // real 320kbps mono frame spanning codebooks 7/10/13 by region with
      // TRANSMITTED scalefactors (preflag/pretab) → sync/header/side-info
      // /Huffman/scalefactor/requantization decode. global_gain=218 +
      // sf=pretab + |lines|≤1 keeps every factor an exact power of two,
      // so spectral mean and energy hash-gate exactly; header fields +
      // 1152-sample count exact; the PCM tail (typed Table B.3 window,
      // 84 dB near-PR in MultimodalSpec) gates on sanity bounds
      graft.multimodal.Multimodal.mp3DecodeSummary(Tables.documents(s, d))
    },
    "multimodal_vorbis_decode" -> { (s, d) =>
      // REAL Ogg Vorbis round trip (r16): text bytes → VQ entries of a
      // 2-packet mono stream (Ogg CRC'd pages, TRANSMITTED codebooks
      // with canonical codeword assignment, floor1, residue type 1) →
      // the general header-driven decoder. Flat floor at the exact-1.0
      // inverse-dB entry keeps the first packet's spectrum equal to the
      // transmitted VQ integers — mean/energy hash-gate exactly; PCM
      // (IMDCT + Vorbis window, independently spec-gated) bounds-gated
      graft.multimodal.Multimodal.vorbisDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_jpeg_color" -> { (s, d) =>
      graft.multimodal.Multimodal.jpegColorDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_jpeg_420" -> { (s, d) =>
      graft.multimodal.Multimodal.jpeg420DecodeSummary(Tables.documents(s, d))
    },
    "multimodal_jpeg_progressive" -> { (s, d) =>
      graft.multimodal.Multimodal.jpegProgressiveDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_alaw_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.alawDecodeSummary(Tables.documents(s, d))
    },
    "multimodal_adpcm_decode" -> { (s, d) =>
      graft.multimodal.Multimodal.adpcmDecodeSummary(Tables.documents(s, d))
    },
    "streaming_media_features" -> { (s, d) =>
      // the ingest-time decode path oracle-visible: documents stream in,
      // wrap into P6 payloads via the SHARED asPpmMedia construction (a
      // stateless stream map), and decode through the same dispatch as
      // the batch gate (decodeFeaturesUdf); the per-doc feature vectors
      // summarize and hash-gate against the raw-byte SQL replay — so the
      // real decoder provably runs inside the stream, not just in batch
      val sink = "graft_stream_media"
      val q = graft.streaming.StreamingOps
        .streamingMediaFeatures(
          graft.multimodal.Multimodal.asPpmMedia(Tables.documentsStream(s, d)))
      graft.streaming.StreamingOps.runToMemory(s, q, sink, "append")
        .agg(count(lit(1)).cast("long").as("n_images"),
          round(avg(element_at(col("features"), 1)), 4).as("avg_pixel_mean"),
          round(avg(element_at(col("features"), 3)), 4).as("avg_pixel_max"),
          round(avg(element_at(col("features"), 4)), 4).as("avg_pixel_min"))
    }
  )

  private val cosSql =
    "list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))"

  // SQL replicas of the md5-seeded projection matrices (graft.neighbors.KNN
  // .hyperplanes / RandomProjection.sparseMatrix): same md5-derived entries,
  // evaluated inline per (row of range(64), output dim b).
  private def hpHash(tag: String, b: Int, suffix: String) =
    s"('0x' || substr(md5('${tag}_' || $b || '_' || i || '_$suffix'), 1, 15))::BIGINT"
  private def planeEntrySeed(seed: Long, b: Int): String = {
    val u1 = s"(((${hpHash(s"p_$seed", b, "a")} % 1000000 + 1000000) % 1000000) / 1000000.0 + 5e-7)"
    val u2 = s"(((${hpHash(s"p_$seed", b, "b")} % 1000000 + 1000000) % 1000000) / 1000000.0)"
    s"(sqrt(-2.0 * ln($u1)) * cos(2.0 * pi() * $u2))"
  }
  private def planeEntry(b: Int): String = planeEntrySeed(42L, b)
  private def rpGaussEntry(b: Int): String = s"(${planeEntry(b)} / sqrt(8.0))"
  private def rpSparseEntry(b: Int): String =
    s"(CASE (('0x' || substr(md5('sp_42_' || $b || '_' || i), 1, 15))::BIGINT % 6) " +
      s"WHEN 0 THEN sqrt(3.0/8.0) WHEN 1 THEN -sqrt(3.0/8.0) ELSE 0.0 END)"
  private def rpOracle(entry: Int => String): String = {
    val cols = (0 until 8).map { b =>
      s"round(list_sum(list_transform(range(0, 64), i -> v[i+1] * ${entry(b)})), 4) AS rp_$b"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT id::BIGINT AS id,
       |  $cols
       |FROM e ORDER BY id LIMIT 50""".stripMargin
  }

  /** JL distortion oracle: replays the 8-dim Gaussian projection per id,
    * then the all-pairs distance-ratio stats on 4-decimal-rounded
    * distances. */
  private def rpDistortionOracle: String = {
    val rpList = (0 until 8).map { b =>
      s"round(list_sum(list_transform(range(0, 64), i -> v[i+1] * ${rpGaussEntry(b)})), 4)"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 40),
       |p AS (SELECT id, v, $rpList AS rp FROM e),
       |pr AS (SELECT
       |    round(sqrt(list_sum(list_transform(range(0, 8),
       |      j -> (a.rp[j+1] - b.rp[j+1]) * (a.rp[j+1] - b.rp[j+1])))), 4) AS dp,
       |    round(list_distance(a.v, b.v), 4) AS dq
       |  FROM p a JOIN p b ON a.id < b.id),
       |r AS (SELECT dp / dq AS ratio FROM pr WHERE dq > 0)
       |SELECT count(*)::BIGINT AS n_pairs, round(avg(ratio), 4) AS avg_ratio,
       |  round(min(ratio), 4) AS min_ratio, round(max(ratio), 4) AS max_ratio,
       |  round(avg(CASE WHEN ratio >= 0.5 AND ratio <= 1.5 THEN 1.0 ELSE 0.0 END), 4) AS frac_within_eps
       |FROM r""".stripMargin
  }

  /** MMR replay: the literal seed-99 query vector (inlined — Double
    * .toString round-trips bit-exactly through DuckDB's parser), the
    * top-20 relevance cut, then one argmax CTE per greedy selection with
    * max-sim-to-selected as a correlated subquery over the candidate
    * pair frame. Tie rule everywhere: score desc, id asc. */
  private def mmrOracle: String = {
    val q = KNN.hyperplanes(1, 64, 99L)(0)
    val qlit = q.map(_.toString).mkString("[", ", ", "]")
    val qn = math.sqrt(q.map(x => x * x).sum).toString
    val sels = (2 to 5).map { r =>
      s"""s$r AS (SELECT c.id, c.rel, round(0.7 * c.rel - (1 - 0.7) *
         |    (SELECT max(s) FROM p WHERE p.ia = c.id AND p.ib IN (SELECT id FROM sel${r - 1})), 6) AS score
         |  FROM cand c WHERE c.id NOT IN (SELECT id FROM sel${r - 1})
         |  ORDER BY score DESC, c.id LIMIT 1),
         |sel$r AS (SELECT id FROM sel${r - 1} UNION ALL SELECT id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(r =>
      s"SELECT $r::BIGINT AS rank, id, rel, score AS mmr_score FROM s$r")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cand AS (SELECT id, v,
       |    round(list_dot_product(v, $qlit) / (sqrt(list_dot_product(v, v)) * $qn), 6) AS rel
       |  FROM e ORDER BY rel DESC, id LIMIT 20),
       |p AS (SELECT a.id AS ia, b.id AS ib, round($cosSql, 6) AS s
       |  FROM cand a JOIN cand b ON a.id <> b.id),
       |s1 AS (SELECT id, rel, rel AS score FROM cand ORDER BY rel DESC, id LIMIT 1),
       |sel1 AS (SELECT id FROM s1),
       |$sels
       |$out ORDER BY rank""".stripMargin
  }

  /** Cross-encoder rerank oracle: first-stage cosine top-20, then the
    * joint literal scorer (folded product dot + |q−c| featurization)
    * replayed term-for-term; rank = row_number over the bounded pool. */
  private def rerankOracle: String = {
    val q = KNN.hyperplanes(1, 64, 99L)(0)
    val w = KNN.hyperplanes(2, 64, 131L)
    val qlit = q.map(_.toString).mkString("[", ", ", "]")
    val qn = math.sqrt(q.map(x => x * x).sum).toString
    val wpq = (0 until 64).map(j => (w(0)(j) * q(j)).toString).mkString("[", ", ", "]")
    val wd = w(1).map(_.toString).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cand AS (SELECT id, v,
       |    round(list_dot_product(v, $qlit) / (sqrt(list_dot_product(v, v)) * $qn), 6) AS rel
       |  FROM e ORDER BY rel DESC, id LIMIT 20),
       |sc AS (SELECT id, rel,
       |    round(list_dot_product(v, $wpq) +
       |      list_sum(list_transform(range(0, 64),
       |        j -> ($wd)[j+1] * abs(($qlit)[j+1] - v[j+1]))), 6) AS ce_score
       |  FROM cand),
       |rk AS (SELECT row_number() OVER (ORDER BY ce_score DESC, id)::BIGINT AS rank,
       |    id, rel, ce_score FROM sc)
       |SELECT rank, id, rel, ce_score FROM rk WHERE rank <= 5 ORDER BY rank""".stripMargin
  }

  /** SemDeDup oracle with the n-SCALED quantizer: derives k = ⌈n/100⌉
    * from its own corpus count (mirroring semDedupAnchors), generates the
    * k md5-derived Gaussian anchors dynamically over range(k)×range(64),
    * assigns each vector to the FIRST argmax cell (min b with dot = max —
    * array_position semantics), and replays the within-cell ≥τ pair drop.
    * n_pairs = n(n−1)/2 per cell is the candidate-join mass invariant. */
  /** Replays BOTH quantizer levels of [[graft.dedup.Dedup.semDedupTwoLevel]]:
    * kc/kf derived from the oracle's own count, coarse anchors from the
    * "p_7_b_i" md5 family, fine anchors from the disjoint "p_7_fg_i"
    * family, argmax ties broken min-index at both levels. */
  private def semDedupIvfOracle: String = {
    def hp(pfx: String, idx: String, sfx: String) =
      s"('0x' || substr(md5('$pfx' || $idx || '_' || i || '_$sfx'), 1, 15))::BIGINT"
    def u1(pfx: String, idx: String) =
      s"(((${hp(pfx, idx, "a")} % 1000000 + 1000000) % 1000000) / 1000000.0 + 5e-7)"
    def u2(pfx: String, idx: String) =
      s"(((${hp(pfx, idx, "b")} % 1000000 + 1000000) % 1000000) / 1000000.0)"
    def entry(pfx: String, idx: String) =
      s"(sqrt(-2.0 * ln(${u1(pfx, idx)})) * cos(2.0 * pi() * ${u2(pfx, idx)}))"
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |kp AS (SELECT kc, ((kt + kc - 1) // kc)::BIGINT AS kf FROM (
       |    SELECT CAST(ceil(sqrt(kt::DOUBLE)) AS BIGINT) AS kc, kt FROM (
       |      SELECT greatest(1, least(16777216, (count(*) + 99) // 100))::BIGINT AS kt
       |      FROM e))),
       |ca AS (SELECT b, list_transform(range(0, 64), i -> ${entry("p_7_", "b")}) AS av
       |  FROM (SELECT unnest(range(0, (SELECT kc FROM kp))) AS b)),
       |cd AS (SELECT e.id, ca.b,
       |    list_sum(list_transform(range(0, 64), i -> e.v[i+1] * ca.av[i+1])) AS dt
       |  FROM e CROSS JOIN ca),
       |cm AS (SELECT id, b, dt, max(dt) OVER (PARTITION BY id) AS m FROM cd),
       |casg AS (SELECT id, min(b) FILTER (WHERE dt = m) AS ccl FROM cm GROUP BY id),
       |fa AS (SELECT g, (g // (SELECT kf FROM kp))::BIGINT AS fcc,
       |    list_transform(range(0, 64), i -> ${entry("p_7_f", "g")}) AS av
       |  FROM (SELECT unnest(range(0, (SELECT kc * kf FROM kp))) AS g)),
       |fd AS (SELECT e.id, fa.g,
       |    list_sum(list_transform(range(0, 64), i -> e.v[i+1] * fa.av[i+1])) AS dt
       |  FROM e JOIN casg ON e.id = casg.id JOIN fa ON fa.fcc = casg.ccl),
       |fm AS (SELECT id, g, dt, max(dt) OVER (PARTITION BY id) AS m FROM fd),
       |cl AS MATERIALIZED (SELECT id, min(g) FILTER (WHERE dt = m) AS cell
       |  FROM fm GROUP BY id),
       |cnt AS (SELECT cell, count(*) AS c FROM cl GROUP BY cell),
       |ovf AS (SELECT cell, least(1024, (c + 99) // 100)::BIGINT AS ns
       |  FROM cnt WHERE c > 400),
       |pv AS (SELECT cell, pidx, pvv FROM (
       |    SELECT c0.cell, e.v AS pvv, o.ns,
       |      row_number() OVER (PARTITION BY c0.cell
       |        ORDER BY ('0x' || substr(md5('p_7_pv_' || c0.id), 1, 15))::BIGINT,
       |          c0.id) - 1 AS pidx
       |    FROM cl c0 JOIN ovf o ON o.cell = c0.cell JOIN e ON e.id = c0.id)
       |  WHERE pidx < ns),
       |sd AS (SELECT c0.id, c0.cell, pv.pidx,
       |    list_sum(list_transform(range(0, 64),
       |      i -> (e.v[i+1] - pv.pvv[i+1]) * (e.v[i+1] - pv.pvv[i+1]))) AS dt
       |  FROM cl c0 JOIN pv ON pv.cell = c0.cell JOIN e ON e.id = c0.id),
       |sm2 AS (SELECT id, cell, pidx, dt, min(dt) OVER (PARTITION BY id) AS m FROM sd),
       |sc AS (SELECT id, cell, min(pidx) FILTER (WHERE dt = m) AS sb FROM sm2
       |  GROUP BY id, cell),
       |fcl AS MATERIALIZED (SELECT cl.id,
       |    CASE WHEN sc.id IS NOT NULL THEN (cl.cell + 1) * 16777216 + sc.sb
       |         ELSE cl.cell END AS cell
       |  FROM cl LEFT JOIN sc ON sc.id = cl.id),
       |c AS (SELECT e.id, e.v, fcl.cell FROM e JOIN fcl ON e.id = fcl.id),
       |dropped AS (SELECT DISTINCT b.cell AS cell, b.id AS id
       |  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
       |  WHERE round($cosSql, 4) >= 0.4),
       |dc AS (SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY cell)
       |SELECT c.cell::BIGINT AS cell, count(*)::BIGINT AS n,
       |  coalesce(max(dc.n_dropped), 0)::BIGINT AS n_dropped,
       |  (count(*) * (count(*) - 1) // 2)::BIGINT AS n_pairs
       |FROM c LEFT JOIN dc ON c.cell = dc.cell
       |GROUP BY c.cell ORDER BY cell""".stripMargin
  }

  private def semDedupOracle: String = {
    // same md5 → Box-Muller entry as planeEntrySeed, with the anchor
    // index b a COLUMN instead of an inlined literal
    def hp(sfx: String) =
      s"('0x' || substr(md5('p_7_' || b || '_' || i || '_$sfx'), 1, 15))::BIGINT"
    val u1 = s"(((${hp("a")} % 1000000 + 1000000) % 1000000) / 1000000.0 + 5e-7)"
    val u2 = s"(((${hp("b")} % 1000000 + 1000000) % 1000000) / 1000000.0)"
    val entry = s"(sqrt(-2.0 * ln($u1)) * cos(2.0 * pi() * $u2))"
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |kk AS (SELECT greatest(1, least(65536, (count(*) + 99) // 100))::BIGINT AS k FROM e),
       |anchors AS (SELECT b, list_transform(range(0, 64), i -> $entry) AS av
       |  FROM (SELECT unnest(range(0, (SELECT k FROM kk))) AS b)),
       |dots AS (SELECT e.id, a.b,
       |    list_sum(list_transform(range(0, 64), i -> e.v[i+1] * a.av[i+1])) AS dt
       |  FROM e CROSS JOIN anchors a),
       |dm AS (SELECT id, b, dt, max(dt) OVER (PARTITION BY id) AS m FROM dots),
       |cl AS (SELECT id, min(b) FILTER (WHERE dt = m) AS cell FROM dm GROUP BY id),
       |c AS (SELECT e.id, e.v, cl.cell FROM e JOIN cl ON e.id = cl.id),
       |dropped AS (SELECT DISTINCT b.cell AS cell, b.id AS id
       |  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
       |  WHERE round($cosSql, 4) >= 0.4),
       |dc AS (SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY cell)
       |SELECT c.cell::BIGINT AS cell, count(*)::BIGINT AS n,
       |  coalesce(max(dc.n_dropped), 0)::BIGINT AS n_dropped,
       |  (count(*) * (count(*) - 1) // 2)::BIGINT AS n_pairs
       |FROM c LEFT JOIN dc ON c.cell = dc.cell
       |GROUP BY c.cell ORDER BY cell""".stripMargin
  }

  /** The cosine ≥ 0.3 LSH-bucket threshold edges shared by
    * agglomerative_cc and label_prop: pairs form only inside buckets
    * (Σ bucket²), membership decides on the ROUNDED similarity. */
  private def lshThresholdEdges(e: DataFrame): DataFrame = {
    import graft.core.VectorOps
    val b = KNN.lshBuckets(e, "vec_id", "embedding", bits = 8, dim = 64)
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), sim.as("_s"))
      .filter(round(col("_s"), 4) >= 0.3)
      .select(col("id1"), col("id2")).distinct()
  }

  /** The md5-seeded 8-bit random-hyperplane signature (KNN.lshBuckets),
    * replayed entry-for-entry in SQL. */
  private val lshSigSql: String = (0 until 8).map { b =>
    s"(CASE WHEN list_sum(list_transform(range(0, 64), i -> v[i+1] * ${planeEntry(b)})) >= 0 " +
      s"THEN ${1L << b} ELSE 0 END)"
  }.mkString(" + ")

  /** The n-scaled bucket CTEs shared by every lshBitsFor replay: bits
    * derived from the oracle's own count (smallest b in [4,24] with
    * 2^b·64 ≥ n), planes from the "p_42_b_i" md5 family, signature =
    * Σ (dot ≥ 0) · 2^b per id — ends at bkt(id, v, bucket). */
  private def lshAutoBktCtes: String = {
    def hp(sfx: String) =
      s"('0x' || substr(md5('p_42_' || b || '_' || i || '_$sfx'), 1, 15))::BIGINT"
    val u1 = s"(((${hp("a")} % 1000000 + 1000000) % 1000000) / 1000000.0 + 5e-7)"
    val u2 = s"(((${hp("b")} % 1000000 + 1000000) % 1000000) / 1000000.0)"
    val entry = s"(sqrt(-2.0 * ln($u1)) * cos(2.0 * pi() * $u2))"
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |bb AS (SELECT coalesce(min(b), 24) AS bits FROM
       |  (SELECT unnest(range(4, 25)) AS b), (SELECT count(*) AS n FROM e)
       |  WHERE (1::BIGINT << b) * 64 >= n),
       |pl AS (SELECT b, list_transform(range(0, 64), i -> $entry) AS av
       |  FROM (SELECT unnest(range(0, (SELECT bits FROM bb))) AS b)),
       |dt AS (SELECT e.id, pl.b,
       |    list_sum(list_transform(range(0, 64), i -> e.v[i+1] * pl.av[i+1])) AS d
       |  FROM e CROSS JOIN pl),
       |sg AS (SELECT id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS bucket
       |  FROM dt GROUP BY id),
       |bkt AS (SELECT e.id, e.v, sg.bucket FROM e JOIN sg ON e.id = sg.id)""".stripMargin
  }

  /** Replays [[graft.neighbors.KNN.lshTopKAuto]] over the shared
    * n-scaled bucket CTEs. */
  private def lshAutoOracle: String =
    s"""WITH $lshAutoBktCtes,
       |p AS (SELECT a.id AS qid, b.id AS id, $cosSql AS s
       |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id <> b.id),
       |r AS (SELECT qid, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rank FROM p),
       |f AS (SELECT qid, max(rank) AS found FROM r WHERE rank <= 3 GROUP BY qid)
       |SELECT count(*)::BIGINT AS n_queries_with_candidates,
       |  round(avg(found), 6) AS avg_found FROM f""".stripMargin

  private def lshOracle: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |bkt AS (SELECT id, v, $lshSigSql AS bucket FROM e),
       |p AS (SELECT a.id AS qid, b.id AS id, $cosSql AS s
       |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id <> b.id),
       |r AS (SELECT qid, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rank FROM p),
       |f AS (SELECT qid, max(rank) AS found FROM r WHERE rank <= 3 GROUP BY qid)
       |SELECT count(*)::BIGINT AS n_queries_with_candidates,
       |  round(avg(found), 6) AS avg_found FROM f""".stripMargin

  /** UMAP σ bisection replayed in SQL: the per-node 64-step binary search
    * runs as a recursive CTE over the collected (rank-ordered) neighbor
    * distance lists — list ops in the recursive term, no aggregates. */
  private def umapOracle: String =
    """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
      |p AS (SELECT a.vec_id AS qid, b.vec_id AS id, list_distance(a.v, b.v) AS s
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank FROM p),
      |g AS (SELECT qid, list(round(s, 4) ORDER BY rank) AS ds, min(round(s, 4)) AS rho
      |  FROM r WHERE rank <= 10 GROUP BY qid),
      |bis AS (
      |  SELECT qid, ds, rho, 1e-6::DOUBLE AS lo, 1e6::DOUBLE AS hi, 0 AS it FROM g
      |  UNION ALL
      |  SELECT qid, ds, rho,
      |    CASE WHEN list_sum(list_transform(ds, d -> exp(-greatest(d - rho, 0.0) / ((lo + hi) / 2))))
      |           > ln(10.0) / ln(2.0)
      |         THEN lo ELSE (lo + hi) / 2 END AS lo,
      |    CASE WHEN list_sum(list_transform(ds, d -> exp(-greatest(d - rho, 0.0) / ((lo + hi) / 2))))
      |           > ln(10.0) / ln(2.0)
      |         THEN (lo + hi) / 2 ELSE hi END AS hi,
      |    it + 1
      |  FROM bis WHERE it < 64)
      |SELECT qid::BIGINT AS qid, round(rho, 4) AS rho, round((lo + hi) / 2, 4) AS sigma
      |FROM bis WHERE it = 64 ORDER BY qid""".stripMargin

  /** t-SNE β calibration replayed in SQL — mirrors Manifold.tsnePerplexity
    * step-for-step (h computed at the CURRENT β, then β updated; doubling
    * while the upper bound is still infinite). */
  private def tsneOracle: String = {
    val num = "list_sum(list_transform(ds2, d -> d * exp(-d * beta)))"
    val den = "greatest(list_sum(list_transform(ds2, d -> exp(-d * beta))), 1e-300)"
    val h = s"ln($den) + beta * $num / $den"
    """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
      |p AS (SELECT a.vec_id AS qid, b.vec_id AS id, list_distance(a.v, b.v) AS s
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank FROM p),
      |g AS (SELECT qid, list(round(s, 4) * round(s, 4) ORDER BY rank) AS ds2 FROM r WHERE rank <= 20 GROUP BY qid),
      |bis AS (
      |  SELECT qid, ds2, 1.0::DOUBLE AS beta, 0.0::DOUBLE AS lo, 'infinity'::DOUBLE AS hi,
      |    0.0::DOUBLE AS h, 0 AS it FROM g
      |  UNION ALL
      |  SELECT qid, ds2,
      |    CASE WHEN HEXPR > ln(10.0) THEN (CASE WHEN isinf(hi) THEN beta * 2 ELSE (beta + hi) / 2 END)
      |         ELSE (lo + beta) / 2 END AS beta,
      |    CASE WHEN HEXPR > ln(10.0) THEN beta ELSE lo END AS lo,
      |    CASE WHEN HEXPR > ln(10.0) THEN hi ELSE beta END AS hi,
      |    HEXPR AS h,
      |    it + 1
      |  FROM bis WHERE it < 64)
      |SELECT qid::BIGINT AS qid, round(beta, 4) AS beta, round(h, 4) AS entropy
      |FROM bis WHERE it = 64 ORDER BY qid""".stripMargin
      .replace("HEXPR", s"($h)")
  }

  val oracles: Map[String, String] = Map(
    "tsne_perplexity" -> tsneOracle,
    "umap_knn_graph" -> umapOracle,
    "ann_lsh" -> lshOracle,
    "ann_lsh_auto" -> lshAutoOracle,
    "rp_distortion" -> rpDistortionOracle,
    "semdedup" -> semDedupOracle,
    "semdedup_ivf" -> semDedupIvfOracle,
    "mmr_diversify" -> mmrOracle,
    "rerank_cross" -> rerankOracle,
    "embedding_stats" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |nrm AS (SELECT round(sqrt(list_dot_product(v, v)), 4) AS nr FROM e),
         |ns AS (SELECT count(*)::BIGINT AS n_vectors, round(min(nr), 4) AS min_norm,
         |  round(avg(nr), 4) AS avg_norm, round(max(nr), 4) AS max_norm FROM nrm),
         |sm AS (SELECT id, v FROM e WHERE id < 60),
         |pc AS (SELECT round($cosSql, 4) AS c FROM sm a JOIN sm b ON a.id < b.id),
         |iso AS (SELECT round(avg(c), 4) AS mean_cosine,
         |  round(avg(abs(c)), 4) AS mean_abs_cosine FROM pc)
         |SELECT * FROM ns, iso""".stripMargin,
    "random_projection" -> rpOracle(rpGaussEntry),
    "random_projection_sparse" -> rpOracle(rpSparseEntry),
    // r11 eigensolver/manifold partial gates: SQL-exact counts + invariant
    // booleans (spectrum physics, projection algebra, convexity, trust
    // floors); continuous values stay spec-gated
    "pca" ->
      """SELECT g.i::INT AS component, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS eig_positive, TRUE AS descending_ok, TRUE AS trace_matches
        |FROM generate_series(0, 7) g(i) ORDER BY component""".stripMargin,
    "tsvd" ->
      """SELECT g.i::INT AS component, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS sv_nonneg, TRUE AS descending_ok, TRUE AS energy_matches_f2
        |FROM generate_series(0, 7) g(i) ORDER BY component""".stripMargin,
    "pca_inverse" ->
      """SELECT t.k::BIGINT AS k, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS mse_nonneg, TRUE AS mse_le_prev
        |FROM (VALUES (1), (4), (16)) t(k) ORDER BY k""".stripMargin,
    "umap_layout" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 100)::BIGINT AS n_points,
        |  5::BIGINT AS k, TRUE AS trust_floor""".stripMargin,
    "tsne_layout" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 100)::BIGINT AS n_points,
        |  5::BIGINT AS k, TRUE AS trust_floor""".stripMargin,
    "umap_transform" ->
      """SELECT (SELECT count(*) FROM embeddings
        |    WHERE vec_id >= 100 AND vec_id < 150)::BIGINT AS n_placed,
        |  TRUE AS within_layout_bbox""".stripMargin,
    "pca_transform" ->
      """SELECT g.i::INT AS component, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS mean_zero, TRUE AS var_matches_ev
        |FROM generate_series(0, 3) g(i) ORDER BY component""".stripMargin,
    "pca_whiten" ->
      """SELECT g.i::INT AS component, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS mean_zero, TRUE AS unit_variance
        |FROM generate_series(0, 3) g(i) ORDER BY component""".stripMargin,
    "tsvd_transform" ->
      """SELECT g.i::INT AS component, (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  TRUE AS energy_matches_sv
        |FROM generate_series(0, 3) g(i) ORDER BY component""".stripMargin,
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |-- per-row position list (not a fixed range(0, 64)): stays aligned
        |-- with the Spark side's posexplode if the generator's embedding
        |-- dimension ever drifts (r10 advice)
        |x AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS val FROM e),
        |st AS (SELECT pos, min(val) AS dmin, max(val) AS dmax,
        |    (max(val) - min(val)) / 255.0 AS sc FROM x GROUP BY pos),
        |q AS (SELECT x.pos, val, dmin, dmax, sc,
        |    CASE WHEN sc = 0 THEN 0.0
        |         ELSE least(255.0, greatest(0.0, round((val - dmin) / sc, 0))) END AS code
        |  FROM x JOIN st USING (pos)),
        |d AS (SELECT pos, dmin, dmax, sc, val - (dmin + code * sc) AS err FROM q)
        |SELECT pos::BIGINT AS pos, round(min(dmin), 6) AS dmin,
        |  round(min(dmax), 6) AS dmax, round(min(sc), 9) AS scale,
        |  round(avg(err * err), 9) AS avg_sq_err,
        |  round(max(abs(err)), 6) AS max_abs_err
        |FROM d GROUP BY pos ORDER BY pos""".stripMargin,
    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS s
         |  FROM e a JOIN e b ON a.vec_id < 10),
         |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rank
         |  FROM p)
         |SELECT qid::BIGINT AS qid, rank::BIGINT AS rank, id::BIGINT AS id, round(s, 4) AS score
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "centroid_classify" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |tr AS (SELECT * FROM e WHERE vec_id % 20 <> 10),
        |q AS (SELECT * FROM e WHERE vec_id % 20 = 10),
        |ix AS (SELECT unnest(range(0, 64)) AS pos),
        |tx AS (SELECT tr.label::BIGINT AS clabel, ix.pos AS pos, tr.v[ix.pos + 1] AS val
        |  FROM tr, ix),
        |cents AS (SELECT clabel, pos, avg(val) AS c FROM tx GROUP BY 1, 2),
        |qx AS (SELECT q.vec_id AS qid, q.label::BIGINT AS truth, ix.pos AS pos,
        |    q.v[ix.pos + 1] AS val FROM q, ix),
        |d2 AS (SELECT qx.qid, qx.truth, cents.clabel,
        |    sum((qx.val - cents.c) * (qx.val - cents.c)) AS d2
        |  FROM qx JOIN cents ON qx.pos = cents.pos
        |  GROUP BY 1, 2, 3),
        |pr AS (SELECT qid, truth, clabel AS pred,
        |    row_number() OVER (PARTITION BY qid ORDER BY round(d2, 6), clabel) AS rn
        |  FROM d2)
        |SELECT truth, pred, count(*)::BIGINT AS n
        |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY truth, pred""".stripMargin,
    "knn_classify" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 20 = 10),
        |tr AS (SELECT * FROM e WHERE vec_id % 20 <> 10),
        |p AS (SELECT q.vec_id AS qid, tr.vec_id AS id, tr.label AS nl,
        |    list_distance(q.v, tr.v) AS s FROM q JOIN tr ON true),
        |r AS (SELECT qid, nl, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank FROM p),
        |v AS (SELECT qid, nl, count(*) AS votes FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |pr AS (SELECT qid, nl AS pred,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS rn FROM v),
        |f AS (SELECT pr.qid, e.label AS truth, pr.pred FROM pr JOIN e ON pr.qid = e.vec_id
        |  WHERE pr.rn = 1)
        |SELECT truth::BIGINT AS truth, pred::BIGINT AS pred, count(*)::BIGINT AS n
        |FROM f GROUP BY 1, 2 ORDER BY truth, pred""".stripMargin,
    "knn_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS id, list_distance(a.v, b.v) AS s
        |  FROM e a JOIN e b ON a.vec_id >= 10 AND a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank
        |  FROM p)
        |SELECT qid::BIGINT AS qid, rank::BIGINT AS rank, id::BIGINT AS id, round(s, 4) AS score
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "knn_regress" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_sum(embedding::DOUBLE[]) AS t FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 20 = 10),
        |tr AS (SELECT * FROM e WHERE vec_id % 20 <> 10),
        |p AS (SELECT q.vec_id AS qid, tr.vec_id AS id, tr.t AS ny,
        |    list_distance(q.v, tr.v) AS s FROM q JOIN tr ON true),
        |r AS (SELECT qid, ny, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank FROM p),
        |pr AS (SELECT qid, avg(ny) AS pred FROM r WHERE rank <= 5 GROUP BY qid)
        |SELECT pr.qid::BIGINT AS qid, round(pr.pred, 4) AS pred, round(q.t, 4) AS truth
        |FROM pr JOIN q ON pr.qid = q.vec_id ORDER BY qid""".stripMargin,
    "knn_join" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS id, list_distance(a.v, b.v) AS s
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT qid, s, row_number() OVER (PARTITION BY qid ORDER BY s ASC, id) AS rank FROM p),
        |k AS (SELECT qid, sum(round(s, 4)) AS ds FROM r WHERE rank <= 3 GROUP BY qid)
        |SELECT count(*)::BIGINT AS n_nodes, round(avg(ds), 6) AS avg_knn_dist FROM k""".stripMargin,
    "multimodal_meta" ->
      """WITH b AS (SELECT doc_id, text, strlen(text) AS n_bytes,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(range(0, strlen(text))) AS i,
        |    hex(encode(text)) AS hx FROM documents),
        |bm AS (SELECT doc_id, avg((('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE) AS bmean
        |  FROM ch GROUP BY doc_id)
        |SELECT media_type, count(*)::BIGINT AS n, round(avg(n_bytes), 4) AS avg_bytes,
        |  round(avg(bmean), 4) AS avg_feat_mean
        |FROM b JOIN bm USING (doc_id) GROUP BY media_type ORDER BY media_type""".stripMargin,
    "multimodal_decode" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_jpeg_420" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_jpeg_color" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_mulaw_decode" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 48),
        |s AS (SELECT doc_id, unnest(range(0, 48)) AS i, hx FROM d),
        |b AS (SELECT doc_id, 255 - ('0x' || substr(hx, 2*i + 1, 2))::INT AS u FROM s),
        |v AS (SELECT doc_id,
        |    ((CASE WHEN u >= 128 THEN -1 ELSE 1 END) *
        |     (((u % 16) * 8 + 132) * (1 << ((u % 128) // 16)) - 132))::DOUBLE AS smp
        |  FROM b),
        |pm AS (SELECT doc_id, avg(smp) AS m, max(smp) AS mx, min(smp) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    // the streamed decode serve: identical replay to multimodal_decode —
    // the payload construction and dispatch are SHARED definitions, so
    // the streamed features must reproduce the batch bytes exactly
    "streaming_media_features" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    // A-law: the same closed-form companding replay discipline as μ-law,
    // with the even-bit toggle (xor 85) and segment-0/1 special cases
    "multimodal_alaw_decode" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 48),
        |s AS (SELECT doc_id, unnest(range(0, 48)) AS i, hx FROM d),
        |b AS (SELECT doc_id, xor(('0x' || substr(hx, 2*i + 1, 2))::INT, 85) AS a FROM s),
        |v AS (SELECT doc_id,
        |    ((CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
        |     (CASE WHEN ((a % 128) // 16) = 0 THEN (a % 16) * 16 + 8
        |           WHEN ((a % 128) // 16) = 1 THEN (a % 16) * 16 + 264
        |           ELSE ((a % 16) * 16 + 264) * (1 << (((a % 128) // 16) - 1))
        |      END))::DOUBLE AS smp
        |  FROM b),
        |pm AS (SELECT doc_id, avg(smp) AS m, max(smp) AS mx, min(smp) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    // IMA ADPCM: the step-table recursion replayed as a recursive CTE
    // carrying (predictor, index) — nibble k (LOW nibble first) is hex
    // char 2·(k/2)+2 or +1; diff/clamp/index-adjust are the exact
    // integer formulas of the decoder, so any drift in the stateful
    // expansion breaks the hash
    "multimodal_adpcm_decode" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 24),
        |tb AS (SELECT
        |  [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,
        |   73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,
        |   408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
        |   1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,
        |   7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,
        |   22385,24623,27086,29794,32767] AS st,
        |  [-1,-1,-1,-1,2,4,6,8] AS it),
        |dec AS (
        |  SELECT doc_id, hx, -1 AS k, 0 AS pred, 32 AS idx FROM d
        |  UNION ALL
        |  SELECT doc_id, hx, k,
        |    CASE WHEN nib >= 8 THEN greatest(-32768, pred - diff)
        |         ELSE least(32767, pred + diff) END AS pred,
        |    greatest(0, least(88, idx + it[(nib % 8) + 1])) AS idx
        |  FROM (
        |    SELECT doc_id, hx, k, pred, idx, it, nib, step,
        |      step // 8 + (CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END)
        |        + (CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END)
        |        + (CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END) AS diff
        |    FROM (
        |      SELECT doc_id, hx, dec.k + 1 AS k, pred, idx, tb.it,
        |        ('0x' || substr(hx,
        |          CASE WHEN (dec.k + 1) % 2 = 0 THEN 2 * ((dec.k + 1) // 2) + 2
        |               ELSE 2 * ((dec.k + 1) // 2) + 1 END, 1))::INT AS nib,
        |        tb.st[idx + 1] AS step
        |      FROM dec, tb WHERE dec.k < 47))),
        |pm AS (SELECT doc_id, avg(pred::DOUBLE) AS m, max(pred::DOUBLE) AS mx,
        |    min(pred::DOUBLE) AS mn
        |  FROM dec GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    // progressive SOF2 twin: lossless by construction, so the SAME
    // raw-byte replay as the baseline gate — a decode defect anywhere in
    // the multi-scan accumulation breaks the hash
    "multimodal_jpeg_progressive" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_jpeg_decode" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_dims" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 'gif'
        |         WHEN doc_id % 4 = 1 THEN 'png'
        |         WHEN doc_id % 4 = 2 THEN 'jpeg' ELSE 'jpeg_prog' END AS fmt,
        |    (CASE WHEN doc_id % 4 >= 2 THEN 8 * (1 + doc_id % 5)
        |          ELSE 2 + doc_id % 5 END)::BIGINT AS w,
        |    (CASE WHEN doc_id % 4 >= 2 THEN 8 * (1 + doc_id % 2)
        |          ELSE 2 + doc_id % 3 END)::BIGINT AS h
        |  FROM documents)
        |SELECT fmt, count(*)::BIGINT AS n, sum(w)::BIGINT AS sum_w,
        |  sum(h)::BIGINT AS sum_h, min(w)::BIGINT AS min_w, max(h)::BIGINT AS max_h
        |FROM d GROUP BY fmt ORDER BY fmt""".stripMargin,
    "multimodal_png_decode" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_gif_decode" ->
      """WITH d AS (SELECT doc_id, encode(text) AS b FROM documents WHERE strlen(text) >= 48),
        |ch AS (SELECT doc_id, unnest(range(0, 48)) AS i, hex(b) AS hx FROM d),
        |v AS (SELECT doc_id, (('0x' || substr(hx, 2*i + 1, 2))::INT)::DOUBLE AS byte FROM ch),
        |pm AS (SELECT doc_id, avg(byte) AS m, max(byte) AS mx, min(byte) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_images, round(avg(m), 4) AS avg_pixel_mean,
        |  round(avg(mx), 4) AS avg_pixel_max, round(avg(mn), 4) AS avg_pixel_min
        |FROM pm""".stripMargin,
    "multimodal_audio_decode" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 48),
        |s AS (SELECT doc_id, unnest(range(0, 24)) AS i, hx FROM d),
        |v0 AS (SELECT doc_id,
        |    ('0x' || substr(hx, 4*i + 1, 2))::INT
        |      + 256 * ('0x' || substr(hx, 4*i + 3, 2))::INT AS u
        |  FROM s),
        |v AS (SELECT doc_id,
        |    (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)::DOUBLE AS smp FROM v0),
        |pm AS (SELECT doc_id, avg(smp) AS m, max(smp) AS mx, min(smp) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    // stereo FLAC: mid-side decorrelation is lossless and the decoder
    // re-interleaves L/R into the original sample order, so the gate is
    // the same byte-pair replay as the mono one
    "multimodal_flac_stereo" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 64),
        |s AS (SELECT doc_id, unnest(range(0, 32)) AS i, hx FROM d),
        |v0 AS (SELECT doc_id,
        |    ('0x' || substr(hx, 4*i + 1, 2))::INT
        |      + 256 * ('0x' || substr(hx, 4*i + 3, 2))::INT AS u
        |  FROM s),
        |v AS (SELECT doc_id,
        |    (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)::DOUBLE AS smp FROM v0),
        |pm AS (SELECT doc_id, avg(smp) AS m, max(smp) AS mx, min(smp) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    // FLAC: lossless by construction, so the decoded-sample stats equal
    // the PCM16 derivation from the raw text bytes — 32 samples (64 B)
    "multimodal_mp3_decode" ->
      // r15 gate: global_gain = 218 + scalefac_l = pretab at preflag → the
      // requantization factor is 2^(2 − pretab(band)), a CASE on the
      // published 44.1 kHz long-block band edges (pretab = 0 below line
      // 62, then 1/2/3/2 per Table B.6; sfb21 ≥ 418 transmits no sf)
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 72),
        |s AS (SELECT doc_id, unnest(range(0, 576)) AS l, hx FROM d),
        |v AS (SELECT doc_id, l,
        |    (('0x' || substr(hx, 2 * (l // 8) + 1, 2))::INT >> (7 - (l % 8))) & 1 AS bit
        |  FROM s),
        |x AS (SELECT doc_id,
        |    (CASE WHEN l % 2 = 1 THEN -bit ELSE bit END)::DOUBLE *
        |    (CASE WHEN l < 62 THEN 4.0 WHEN l < 134 THEN 2.0
        |          WHEN l < 196 THEN 1.0 WHEN l < 342 THEN 0.5
        |          WHEN l < 418 THEN 1.0 ELSE 4.0 END) AS xr FROM v),
        |pm AS (SELECT doc_id, avg(xr) AS m, avg(xr * xr) AS e FROM x GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, (count(*) * 1152)::BIGINT AS n_samples,
        |  TRUE AS header_ok, round(avg(m), 4) AS avg_line_mean,
        |  round(avg(e), 4) AS avg_line_energy, TRUE AS pcm_ok
        |FROM pm""".stripMargin,
    "multimodal_vorbis_decode" ->
      // r16 gate: byte j of the doc (j = 0..59, packet 1's VQ entries)
      // selects entry e = byte mod 8 of the public value-pair table
      // (EntryA/EntryB in Vorbis.scala); the flat floor is exactly 1.0,
      // so spectral mean = Σ(va+vb)/128 and energy = Σ(va²+vb²)/128 —
      // 128 = the 8-sample zero partition 0 plus 15 coded partitions
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 120),
        |s AS (SELECT doc_id, unnest(range(0, 60)) AS j, hx FROM d),
        |e AS (SELECT doc_id, ('0x' || substr(hx, 2 * j + 1, 2))::INT % 8 AS e FROM s),
        |v AS (SELECT doc_id,
        |    (CASE e WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN -1 WHEN 3 THEN 2
        |            WHEN 4 THEN -2 WHEN 5 THEN 3 WHEN 6 THEN -3 ELSE 4 END)::DOUBLE AS va,
        |    (CASE e WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 0 WHEN 3 THEN 1
        |            WHEN 4 THEN -1 WHEN 5 THEN 2 WHEN 6 THEN -2 ELSE 3 END)::DOUBLE AS vb
        |  FROM e),
        |pm AS (SELECT doc_id, sum(va + vb) / 128.0 AS m,
        |    sum(va * va + vb * vb) / 128.0 AS en FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, (count(*) * 128)::BIGINT AS n_samples,
        |  TRUE AS header_ok, round(avg(m), 4) AS avg_spec_mean,
        |  round(avg(en), 4) AS avg_spec_energy, TRUE AS pcm_ok
        |FROM pm""".stripMargin,
    "multimodal_flac_decode" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE strlen(text) >= 64),
        |s AS (SELECT doc_id, unnest(range(0, 32)) AS i, hx FROM d),
        |v0 AS (SELECT doc_id,
        |    ('0x' || substr(hx, 4*i + 1, 2))::INT
        |      + 256 * ('0x' || substr(hx, 4*i + 3, 2))::INT AS u
        |  FROM s),
        |v AS (SELECT doc_id,
        |    (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)::DOUBLE AS smp FROM v0),
        |pm AS (SELECT doc_id, avg(smp) AS m, max(smp) AS mx, min(smp) AS mn
        |  FROM v GROUP BY doc_id)
        |SELECT count(*)::BIGINT AS n_clips, round(avg(m), 4) AS avg_sample_mean,
        |  round(avg(mx), 4) AS avg_sample_max, round(avg(mn), 4) AS avg_sample_min
        |FROM pm""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, $cosSql AS s
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id1::BIGINT AS id1, id2::BIGINT AS id2, round(s, 4) AS cosine
         |FROM p ORDER BY s DESC, id1, id2 LIMIT 20""".stripMargin,
    "dedup_embedding_lsh_auto" ->
      s"""WITH $lshAutoBktCtes,
         |p AS (SELECT a.id AS id1, b.id AS id2, $cosSql AS s
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id < b.id)
         |SELECT id1::BIGINT AS id1, id2::BIGINT AS id2, round(s, 4) AS cosine
         |FROM p ORDER BY s DESC, id1, id2 LIMIT 20""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT id, v, $lshSigSql AS bucket FROM e),
         |p AS (SELECT a.id AS id1, b.id AS id2, $cosSql AS s
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id < b.id)
         |SELECT id1::BIGINT AS id1, id2::BIGINT AS id2, round(s, 4) AS cosine
         |FROM p ORDER BY s DESC, id1, id2 LIMIT 20""".stripMargin,
    "label_prop" -> {
      // 5 majority-vote rounds over the shared threshold-edge CTEs,
      // mirroring LabelPropagation.propagate round-for-round
      val rounds = (1 to 5).map { k =>
        s"""c$k AS MATERIALIZED (SELECT ed.src AS node, x.lab AS nl, count(*) AS c
           |  FROM ed JOIN a${k - 1} x ON ed.dst = x.node
           |  WHERE x.lab IS NOT NULL GROUP BY 1, 2),
           |b$k AS MATERIALIZED (SELECT node, nl AS best FROM (
           |  SELECT node, nl, row_number() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
           |  FROM c$k) WHERE rn = 1),
           |a$k AS MATERIALIZED (SELECT a.node, a.seed,
           |    coalesce(a.seed, coalesce(b.best, a.lab)) AS lab
           |  FROM a${k - 1} a LEFT JOIN b$k b ON a.node = b.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT id, v, $lshSigSql AS bucket FROM e),
         |pr AS MATERIALIZED (SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id < b.id
         |  WHERE round($cosSql, 4) >= 0.3),
         |ed AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pr
         |  UNION ALL SELECT id2, id1 FROM pr),
         |a0 AS MATERIALIZED (SELECT vec_id::BIGINT AS node,
         |    CASE WHEN vec_id % 10 = 0 THEN label::BIGINT END AS seed,
         |    CASE WHEN vec_id % 10 = 0 THEN label::BIGINT END AS lab
         |  FROM embeddings),
         |$rounds
         |SELECT coalesce(lab, -1)::BIGINT AS label, count(*)::BIGINT AS n,
         |  sum(CASE WHEN seed IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_seeds
         |FROM a5 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "agglomerative_cc" -> {
      // same 8-round min-label CC replay as TextQueries' dedup_clusters;
      // MATERIALIZED keeps DuckDB from re-inlining each round twice
      val rounds = (1 to 8).map { k =>
        s"""c$k AS MATERIALIZED (SELECT c.node, least(c.label, coalesce(min(n.label), c.label)) AS label
           |  FROM c${k - 1} c LEFT JOIN ed ON c.node = ed.src LEFT JOIN c${k - 1} n ON ed.dst = n.node
           |  GROUP BY c.node, c.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT id, v, $lshSigSql AS bucket FROM e),
         |pr AS MATERIALIZED (SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.id < b.id
         |  WHERE round($cosSql, 4) >= 0.3),
         |ed AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pr
         |  UNION ALL SELECT id2, id1 FROM pr),
         |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ed),
         |$rounds,
         |sz AS (SELECT label, count(*) AS sz FROM c8 GROUP BY label),
         |t AS (SELECT count(*) AS tot FROM e)
         |SELECT count(*)::BIGINT AS n_clusters, sum(sz)::BIGINT AS n_clustered,
         |  max(sz)::BIGINT AS max_cluster, (max(t.tot) - sum(sz))::BIGINT AS n_singletons
         |FROM sz, t""".stripMargin
    }
  )
}
