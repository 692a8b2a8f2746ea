package graft

import graft.core.Tables
import graft.neighbors.KNN
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the properties that keep these operators viable at
  * 100 TB — scan pruning, filter pushdown, broadcast joins, codegen. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning reaches the parquet scan") {
    val p = planOf(Tables.lineitem(spark, sf).select(col("l_quantity")).groupBy().sum())
    assert(p.contains("ReadSchema: struct<l_quantity:double>"), p.take(2000))
  }

  test("predicate pushdown reaches the parquet scan") {
    val p = planOf(Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id")))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"),
      p.take(2000))
  }

  test("brute-force kNN broadcasts the query side (no corpus shuffle)") {
    val e = Tables.embeddings(spark, sf)
    val pairs = KNN.broadcastPairs(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
      "embedding", "embedding", KNN.Cosine, excludeSelf = false)
    val p = planOf(pairs)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
  }

  test("brute-force kNN top-k equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
    val got = KNN.bruteForce(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
      "embedding", "embedding", 3, KNN.Cosine)
      .orderBy("qid", "rank").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pairs = KNN.broadcastPairs(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
      "embedding", "embedding", KNN.Cosine, excludeSelf = false)
    val w = Window.partitionBy(col("qid")).orderBy(col("_s").desc, col("id").asc)
    val want = pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .orderBy("qid", "rank").collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("top-k pair scans cast and norm each vector once per row, never per pair") {
    // a node at or above a pair join runs once per pair, and so does a
    // projection between the join and the nearest barrier below it (codegen
    // defers a projected column to its first use: the join's inner loop).
    // No such node may hold the array<double> cast or a self-dot (a norm).
    import graft.neighbors.{IVF, PQ}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val ivf = IVF.train(e, "embedding", 8)
    val cb = PQ.train(e, "embedding", m = 8, k = 16)
    val codes = PQ.encode(e, "vec_id", "embedding", cb)
    val frames = Seq(
      "KNN.bruteForce" -> KNN.bruteForce(q, e, "vec_id", "vec_id", "embedding", "embedding",
        5, KNN.Cosine),
      "IVF.topK" -> IVF.topK(e, q, "vec_id", "embedding", ivf, k = 5, nprobe = 2),
      "PQ.topKRefined" -> PQ.topKRefined(codes, e, q, "vec_id", "embedding", cb, k = 5,
        shortlist = 20))
    def perRowOnly(x: Expression): Boolean = x match {
      case c: Cast => c.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
      case d: graft.functions.DotProduct => d.left.semanticEquals(d.right)
      case _ => false
    }
    def offenders(p: LogicalPlan, perPair: Boolean): Seq[String] = {
      val pairwise = perPair || p.isInstanceOf[Join] || p.find(_.isInstanceOf[Join]).isDefined
      val here = if (!pairwise || p.isInstanceOf[Generate]) Nil
        else p.expressions.flatMap(_.collect { case x if perRowOnly(x) => s"${p.nodeName}: $x" })
      val below = p match {
        case _: Generate => false
        case _: Join => true
        case _ => perPair
      }
      here ++ p.children.flatMap(offenders(_, below))
    }
    for ((name, df) <- frames) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.find(_.isInstanceOf[Join]).isDefined, s"$name: no pair join\n$plan")
      val bad = offenders(plan, perPair = false)
      assert(bad.isEmpty, s"$name evaluates per pair: ${bad.mkString("; ")}\n$plan")
    }
  }

  test("text scoring and token counts project no higher-order function") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, LambdaFunction}
    val docs = Tables.documents(spark, sf)
    val scored = docs.select(graft.text.TextOps.qualityScore(col("text")),
      graft.text.TextOps.langIdScore(col("text")))
    for (df <- Seq(scored, graft.text.TextOps.tokenCounts(docs, "text", "doc_id"))) {
      val plan = df.queryExecution.optimizedPlan
      val lambdas = plan.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: ArrayFilter | _: ArrayTransform | _: LambdaFunction) => e
      }))
      assert(lambdas.isEmpty, plan.toString.take(3000))
    }
  }

  test("dbscan_1d windows run bucket-partitioned, not as a global sort") {
    val df = graft.cluster.DBSCAN.oneD(Tables.customer(spark, sf),
      "c_custkey", "c_acctbal", 50.0, 3)
    val p = planOf(df)
    // the data-scale range/gap windows must sit behind a hash exchange
    // on the bucket key; only the ≤#buckets summary frame may see a
    // single-partition window
    assert(p.contains("hashpartitioning(b"), p.take(3000))
  }

  test("kmeans assignment is pure codegen map (no shuffle before the agg)") {
    val li = Tables.lineitem(spark, sf)
    val assigned = li.select(graft.cluster.KMeansGraft.assign(
      Seq(col("l_quantity"), col("l_discount"), col("l_tax")),
      graft.queries.TabularQueries.Centroids).as("cluster"))
    val p = planOf(assigned)
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("*(1)"), p.take(2000)) // the WholeStageCodegen marker
  }

  test("scoring with a ModelIO-loaded model plans identically to literals") {
    // the loaded parameters are plain Scala literals by scoring time, so
    // the physical plan must be the same zero-shuffle codegen map as the
    // literal-model path — persistence adds no runtime cost to serving
    val path = java.nio.file.Files.createTempDirectory("graft_plan_model").toString
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    graft.io.ModelIO.saveCentroids(spark, feats,
      graft.queries.TabularQueries.Centroids, path)
    val (lf, lc) = graft.io.ModelIO.loadCentroids(spark, path)
    val li = Tables.lineitem(spark, sf)
    val assigned = li.select(graft.cluster.KMeansGraft.assign(lf.map(col), lc).as("cluster"))
    val p = planOf(assigned)
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("*(1)"), p.take(2000))
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // writes to the default spark-warehouse dir (gitignored)
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val or = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable("b_li")
    or.write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable("b_or")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_li").join(spark.table("b_or"),
        col("l_orderkey") === col("o_orderkey"))
      val p = planOf(j)
      assert(!p.contains("Exchange"), p.take(3000))
      assert(p.contains("SortMergeJoin"), p.take(3000))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_li")
      spark.sql("DROP TABLE IF EXISTS b_or")
    }
  }

  test("salted aggregation equals direct groupBy") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy(col("l_returnflag")).agg(
        sum(col("l_quantity")).as("sum"), count(lit(1)).as("count"))
      .collect().map(r => (r.getString(0), math.rint(r.getDouble(1) * 100) / 100, r.getLong(2))).toSet
    val salted = graft.core.Salting.saltedSumCount(li, col("l_returnflag"), col("l_quantity"), 16)
      .collect().map(r => (r.getString(0), math.rint(r.getDouble(1) * 100) / 100, r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("exact dedup aggregates partially before the shuffle") {
    val d = graft.dedup.Dedup.exact(Tables.documents(spark, sf), "text", "doc_id")
    val p = planOf(d)
    // partial aggregation (map-side combine) must appear below the exchange
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.split("Exchange").head.nonEmpty)
    // the scan must read only the two columns the operator touches — a
    // documents scan dragging source/lang/ts along is wrong at 100 TB
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(3000))
  }

  test("events scan prunes to the columns the TSA family touches") {
    val p = planOf(graft.tsa.TimeSeries.dailySeries(Tables.events(spark, sf)))
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    // ts/value/event_type only — the nanos-restore withColumn must not
    // defeat pruning of user_id/event_id
    assert(read.nonEmpty && !read.contains("user_id") && !read.contains("event_id"), read)
    assert(read.contains("value") && read.contains("event_type"), read)
  }

  test("grouped AR fit shares the series partitioning between window and agg") {
    val daily = graft.tsa.TimeSeries.dailySeries(Tables.events(spark, sf))
    val p = graft.tsa.TimeSeries.arFit2(daily).queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).length
    // one exchange for the daily (series, day) aggregation, one for the
    // series window; the per-series groupBy must REUSE the window's
    // hash partitioning, not add a third shuffle
    assert(n <= 2, s"$n exchanges:\n${p.take(4000)}")
  }

  test("bucketed IVF probe joins without a corpus exchange and matches live IVF") {
    val e = Tables.embeddings(spark, sf)
    val idx = graft.neighbors.IVF.train(e, "embedding", nCells = 4)
    graft.neighbors.IVF.writeBucketed(e, "vec_id", "embedding", idx, "b_ivf", nBuckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = e.filter(col("vec_id") < 5)
      val bucketed = graft.neighbors.IVF.topKBucketed(spark, "b_ivf", q,
        "vec_id", "embedding", idx, k = 3, nprobe = 2)
      val live = graft.neighbors.IVF.topK(e, q, "vec_id", "embedding", idx,
        k = 3, nprobe = 2)
      val a = bucketed.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val b = live.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(a == b, s"bucketed $a vs live $b")
      // the cell join must leave the bucketed corpus unshuffled — only the
      // probe side pays an exchange
      val probe = q.select(col("vec_id").as("qid"), (col("vec_id") % 4).cast("int").as("cell"))
      val j = probe.join(spark.table("b_ivf"), Seq("cell"))
      val p = planOf(j)
      val nEx = "Exchange".r.findAllIn(p).length
      assert(nEx <= 1, s"$nEx exchanges:\n${p.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_ivf")
    }
  }

  test("LSH/IVF reranks and LSH dedup avoid windows over the candidate-pair set") {
    val e = Tables.embeddings(spark, sf)
    val lsh = planOf(KNN.lshTopK(e, "vec_id", "embedding", 3, 8, 64))
    assert(!lsh.contains("Window"), lsh.take(3000))
    val idx = graft.neighbors.IVF.train(e, "embedding", nCells = 4)
    val ivf = planOf(graft.neighbors.IVF.topK(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", idx, k = 3, nprobe = 2))
    assert(!ivf.contains("Window"), ivf.take(3000))
    val lshDedup = planOf(graft.dedup.Dedup.embeddingTopPairsLsh(
      e, "vec_id", "embedding", 20, 8, 64))
    // candidate generation must be an equi-join on the bucket id — an
    // all-pairs nested-loop/cartesian plan is exactly what this fixes
    assert(!lshDedup.contains("NestedLoopJoin") && !lshDedup.contains("CartesianProduct"),
      lshDedup.take(3000))
  }

  test("pair scans run the native loop expressions inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
    val p = planOf(graft.dedup.Dedup.embeddingTopPairs(e, "vec_id", "embedding", 10))
    // the fused dot product must appear in the plan as the native expression
    // (not a higher-order lambda chain); AQE prints the pre-execution plan,
    // so codegen spans aren't visible here — codegen support is exercised by
    // PropertySpec's bit-parity cases
    assert(p.contains("graft_dot"), p.take(3000))
    assert(!p.contains("lambdafunction"), p.take(3000))
  }

  test("softmax predict and gopher filters are scan + single-agg plans") {
    val li = Tables.lineitem(spark, sf)
    val (pred, pMax) = graft.linear.Softmax.predict(
      Seq(col("l_quantity"), col("l_discount"), col("l_tax")),
      Seq("A", "N", "R"), Seq(0.0, 0.0, 0.0),
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0)))
    val p1 = planOf(li.select(pred.as("c"), pMax.as("p"))
      .groupBy("c").agg(count(lit(1)), avg(col("p"))))
    // one exchange (the groupBy) and nothing else — scoring itself is a map
    assert(p1.split("Exchange").length - 1 == 1, p1.take(3000))
    val docs = Tables.documents(spark, sf)
    val p2 = planOf(graft.text.TextOps.gopherFilters(docs, "text", "doc_id"))
    // global aggregate: partial agg before the single exchange
    assert(p2.split("Exchange").length - 1 == 1, p2.take(3000))
    assert(p2.contains("partial_count") || p2.contains("partial"), p2.take(3000))
  }

  test("kmeans inertia scoring shuffles only for the final group aggregate") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
    val p = planOf(li.select(
        graft.cluster.KMeansGraft.assign(feats, graft.queries.TabularQueries.Centroids).as("cluster"),
        graft.cluster.KMeansGraft.minSqDist(feats, graft.queries.TabularQueries.Centroids).as("d2"))
      .groupBy("cluster").agg(sum(col("d2"))))
    assert(p.split("Exchange").length - 1 == 1, p.take(3000))
  }

  test("repetition metrics shuffle on the doc key only (no joins beyond doc id)") {
    val docs = Tables.documents(spark, sf)
    val p = planOf(graft.text.TextOps.repetitionFeatures(docs, "text", "doc_id"))
    // no cartesian/nested-loop anywhere; shuffles keyed by doc are fine
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"), p.take(3000))
  }

  test("pii mask and hashed-ngram scoring are zero-shuffle codegen maps") {
    val docs = Tables.documents(spark, sf)
    val p1 = planOf(graft.text.TextOps.piiMask(docs, "text", "doc_id"))
    assert(!p1.contains("Exchange"), p1.take(3000))
    assert(p1.contains("*(1) Project"), p1.take(3000))  // whole-stage codegen stage 1
    val p2 = planOf(graft.text.TextOps.hashedNgramScore(docs, "text", "doc_id",
      buckets = 256,
      weightOf = b => ((b * lit(2654435761L)) % 1997).cast("double") / 1997.0 - 0.5,
      bias = 0.1))
    assert(!p2.contains("Exchange"), p2.take(3000))
  }

  test("segment dedup is a single-pass seg-key window + doc rollup, no join") {
    val docs = Tables.documents(spark, sf)
    val df = graft.dedup.Dedup.segmentDedup(docs, "text", "doc_id")
    val p = planOf(df)
    // r12 shape: ONE segmentation explode feeds a count+keeper window
    // hash-partitioned on the segment key (never SinglePartition), then
    // one doc-key rollup — the old groupBy+join-back ran the explode
    // three times
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("hashpartitioning(seg"), p.take(3000))
    assert(p.split("Scan parquet").length - 1 == 1,
      s"segment explode must run once: " + p.take(3000))
  }

  test("semDedup pair join keys on the cell id (never an all-pairs scan)") {
    val e = Tables.embeddings(spark, sf)
    val p = planOf(graft.dedup.Dedup.semDedup(e, "vec_id", "embedding",
      k = 8, dim = 64, seed = 7L, tau = 0.4))
    // the quantizer makes the candidate count Σ cell², so the physical
    // join must be an equi-join on cell — a nested-loop/cartesian here
    // would be the n² plan the operator exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      p.take(3000))
  }

  test("semDedupTwoLevel pair join keys on the fine cell; assign joins on the coarse cell") {
    val e = Tables.embeddings(spark, sf)
    val p = planOf(graft.dedup.Dedup.semDedupTwoLevel(e, "vec_id", "embedding",
      dim = 64, seed = 7L, tau = 0.4, targetCellSize = 100L))
    // both the fine-anchor assign join (on coarse cell) and the candidate
    // pair join (on fine cell) must be equi-joins — a nested-loop here
    // would be the n·k (or n²) plan the two-level quantizer exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      p.take(3000))
  }

  test("sessionization shares ONE user_id shuffle across windows and aggregates") {
    val p = planOf(graft.events.Sessionize.userSessions(
      Tables.events(spark, sf), gapUs = 14400000000L))
    // lag + running-sum windows and both groupBys are all keyed on
    // user_id (the session agg clusters on (user_id, _sess), which the
    // user_id hash partitioning already satisfies) — so the whole
    // operator is a single exchange at any scale
    assert(p.split("Exchange").length - 1 == 1, p.take(3000))
  }

  test("sequence packing runs on ONE shard-key shuffle (window + agg share it)") {
    val p = planOf(graft.text.TextOps.packSequences(
      Tables.documents(spark, sf), "text", "doc_id", "lang", budget = 512L))
    assert(p.split("Exchange").length - 1 == 1, p.take(3000))
  }

  test("svm predict margin is a zero-join codegen scan before the class summary") {
    val li = Tables.lineitem(spark, sf)
    val p = planOf(graft.svm.SVMGraft.predictSummary(li,
      Seq("l_quantity", "l_discount", "l_tax"), -0.1, Seq(0.004, 1.5, -2.0),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0)))
    // the margin is a literal-coefficient column expression — the only
    // data shuffle allowed is the k-row class groupBy (the trailing
    // rangepartitioning orders the 2-row summary; not a data shuffle)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(3000))
  }

  test("umap transform broadcasts the fitted model; the new-point side never shuffles pre-topk") {
    val e = Tables.embeddings(spark, sf)
    val fit = e.filter(col("vec_id") < 40)
    val held = e.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val layout = graft.manifold.Manifold.forceLayout(fit, "vec_id", "embedding",
      k = 5, iters = 2, lr = 1.0, mode = graft.manifold.Manifold.UmapForces)
    val p = planOf(graft.manifold.Manifold.umapTransform(
      held, fit, layout, "vec_id", "embedding", 3))
    // both the kNN pair scan and the position join must broadcast the
    // O(sample) model side — a corpus-side exchange before the bounded-heap
    // top-k would re-shuffle the 100 TB side
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("literal-tree FIL scoring is a zero-shuffle codegen map before the leaf agg") {
    val li = Tables.lineitem(spark, sf)
    val tree: graft.ensemble.Forest.TreeNode = graft.ensemble.Forest.Split(0, 24.0,
      graft.ensemble.Forest.Leaf(1.0), graft.ensemble.Forest.Leaf(2.0))
    val p = planOf(li.select(graft.ensemble.Forest.treeScore(
      Seq(col("l_quantity").cast("double")), tree).as("pred")))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("*(1)"), p.take(2000))
  }

  test("salted join shuffles on (key, salt) so a hot key spreads across reducers") {
    val fact = Tables.orders(spark, sf)
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf(graft.core.Salting.saltedJoin(fact, dim, "custkey", "o_orderkey", 8))
      // the exchange must carry the salt — partitioning on the bare key
      // would put the whole hot key back on one reducer
      assert(p.contains("hashpartitioning(custkey") && p.contains("_salt"), p.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("range join is a bucket equi-join, never a nested-loop theta join") {
    val supp = Tables.supplier(spark, sf).select(col("s_suppkey"),
      (col("s_acctbal") - 50).as("lo"), (col("s_acctbal") + 50).as("hi"))
    val p = planOf(graft.events.RangeJoin.pointInInterval(
      Tables.customer(spark, sf), supp,
      "c_custkey", "c_acctbal", "s_suppkey", "lo", "hi", bucketWidth = 100.0))
    // the raw lo<=p<=hi theta join would plan as BroadcastNestedLoopJoin
    // (O(n·m) at corpus scale); the bucketized form must be an equi-join
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("asof join runs on ONE key shuffle (the union-trick, no range join)") {
    val e = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts")))
    val p = planOf(graft.events.AsOf.asofJoin(
      e.filter(col("event_type") === "purchase"),
      e.filter(col("event_type") === "click"),
      "user_id", "us", "event_id", "event_id", "value"))
    // the scalable formulation: union + one key-partitioned window —
    // never a per-row range join (quadratic on dense keys)
    assert(!p.contains("Join"), p.take(3000))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(3000))
  }

  test("roc_auc windows over the distinct-score frame, never a raw-row sort") {
    val margin = lit(-0.1) + lit(0.004) * col("l_quantity") +
      lit(1.5) * col("l_discount") + lit(-2.0) * col("l_tax")
    val p = planOf(graft.metrics.Metrics.rocAuc(Tables.lineitem(spark, sf),
      col("l_returnflag") === "R", margin))
    // one hash shuffle (the quantized-score groupBy); the cumulative
    // window then runs over distinct scores — no range partitioning /
    // global sort of the raw rows ever appears
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(3000))
  }

  test("CV scoring passes broadcast the fold-coefficient frame (corpus never reshuffles for the join)") {
    val rows = Tables.lineitem(spark, sf)
    val pK = planOf(graft.linear.CrossVal.kFoldOLS(rows, "l_quantity",
      col("l_extendedprice") / 1000.0,
      concat_ws("_", col("l_orderkey"), col("l_linenumber"), lit("cv")), 5))
    assert(pK.contains("BroadcastExchange"), pK.take(3000))
    val pR = planOf(graft.linear.CrossVal.ridgeCV(rows, "l_quantity",
      col("l_extendedprice") / 1000.0,
      concat_ws("_", col("l_orderkey"), col("l_linenumber"), lit("cv")),
      5, Seq(0.1, 10.0)))
    assert(pR.contains("BroadcastExchange"), pR.take(3000))
  }

  test("partitioned parquet sink round-trips with partition pruning at the scan") {
    val out = "/tmp/graft_part_docs"
    Tables.documents(spark, sf).write.mode("overwrite").partitionBy("lang").parquet(out)
    val p = planOf(spark.read.parquet(out)
      .filter(col("lang") === "en").select(col("doc_id")))
    // the lang predicate must prune PARTITIONS (directory-level skip),
    // not survive as a row filter
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p.take(2000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(2000))
  }

  test("centroid classifier broadcasts the (label, dim) table; no nested-loop anywhere") {
    val e = Tables.embeddings(spark, sf)
    val train = e.filter(col("vec_id") % 20 =!= 10)
    val qs = e.filter(col("vec_id") % 20 === 10)
    val cents = train
      .select(col("label").cast("long").as("clabel"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("clabel", "pos").agg(avg(col("v").cast("double")).as("c"))
    val qx = qs.select(col("vec_id").as("qid"), posexplode(col("embedding")).as(Seq("pos", "v")))
    val p = planOf(qx.join(broadcast(cents), "pos")
      .groupBy(col("qid"), col("clabel"))
      .agg(sum((col("v").cast("double") - col("c")) * (col("v").cast("double") - col("c"))).as("d2")))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("kmeans transform distance columns are pure codegen (no pre-agg shuffle)") {
    val li = Tables.lineitem(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
    val ds = graft.cluster.KMeansGraft.distances(feats, graft.queries.TabularQueries.Centroids)
    val p = planOf(li.select(ds.zipWithIndex.map { case (c, i) => c.as(s"d$i") }: _*))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("*(1)"), p.take(2000))
  }

  test("funnel chains all step windows on ONE user_id shuffle") {
    val p = planOf(graft.events.Funnel.funnel3(
      Tables.events(spark, sf), "signup", "view", "purchase"))
    // the three running-min windows and the per-user groupBy all key on
    // user_id; only the trailing singleton agg adds a SinglePartition
    // exchange (not a data shuffle)
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(3000))
  }

  test("NB scoring broadcasts the class frame and joins counts on the token key (corpus never broadcast)") {
    val p = planOf(graft.text.NaiveBayes.fitPredictConfusion(
      Tables.documents(spark, sf), "text", "lang"))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    // the only nested-loop joins are broadcast crosses against the
    // one-row vocab/doc-count scalar frames; a plain CartesianProduct
    // (shuffled both sides) must never appear
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("bootstrap replicate means come from ONE map-side-combined aggregate (no raw-row shuffle)") {
    val p = planOf(SparkEntry.queries("bootstrap_ci")(spark, sf))
    // the orders×replicates expansion is a broadcast cross join; the only
    // hash exchanges are on the 100-row b key (partial→final agg), never
    // on the expanded fact rows
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
    assert(p.contains("partial_sum") || p.contains("partial"), p.take(3000))
  }

  test("rolling features share ONE user_id shuffle between the RANGE windows and the summary") {
    val p = planOf(SparkEntry.queries("rolling_features")(spark, sf))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(3000))
  }

  test("stump split search scans the corpus ONCE (explode unpivot, not one scan per feature)") {
    val p = planOf(SparkEntry.queries("stump_fit")(spark, sf))
    assert(p.split("Scan parquet").length - 1 == 1, p.take(3000))
    // candidate evaluation shuffles only the bounded (feature, value) frame
    assert(p.contains("partial"), p.take(3000))
  }

  test("triangle counting stays on equi-joins (ordered-edge join, no nested loop)") {
    val p = planOf(SparkEntry.queries("triangle_count")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the pair/wedge joins must be hash equi-joins on node keys; the only
    // nested-loop joins allowed are the final 1-row summary cross joins
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    val bnlj = p.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 2, s"unexpected nested-loop joins ($bnlj): " + p.take(3000))
  }

  test("imputer transform joins literal stats via broadcast (corpus never reshuffled for the stats)") {
    val p = planOf(SparkEntry.queries("imputer")(spark, sf))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    // hash exchanges only for the median's distinct-value frame and the
    // bounded flag aggregate — never on the full corpus for the join
    val exch = p.split("Exchange hashpartitioning").length - 1
    assert(exch <= 3, s"unexpected corpus shuffle ($exch exchanges): " + p.take(3000))
  }

  test("per-series model serving shuffles once on the series key, no join") {
    // the serve side of saveSeriesModel: one scan of the model table, one
    // series-key exchange for the state pivot, then pure map — forecasts
    // never join back to the corpus and never touch the driver
    val path = java.nio.file.Files.createTempDirectory("graft_plan_series").toString
    val daily = graft.tsa.TimeSeries.dailySeries(Tables.events(spark, sf))
    val state = graft.tsa.TimeSeries.hwFitStateRaw(
      daily, 7, Seq(0.2, 0.4), Seq(0.1), Seq(0.1))
    graft.io.ModelIO.saveSeriesModel(state, "hw_additive", path)
    val served = graft.tsa.TimeSeries.hwForecastFromState(
      graft.io.ModelIO.loadSeriesModel(spark, path, "hw_additive"), 7, h = 5)
    val p = planOf(served)
    assert(!p.contains("Join"), p.take(3000))
    val exch = p.split("Exchange hashpartitioning").length - 1
    assert(exch == 1, s"expected exactly the series-key exchange, got $exch: " + p.take(3000))
  }

  test("model registry summary is one multi-file scan plus the group aggregate") {
    val p = planOf(SparkEntry.queries("model_registry")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    // partial agg before the model_type exchange: the scan side combines
    // map-side, so registry size, not model count, bounds the shuffle
    assert(p.contains("partial"), p.take(3000))
  }

  test("negative_sampling scores draws with a codegen CASE, not a BNLJ") {
    // the 100-row CDF collects into a literal interval CASE; the former
    // range-predicate BroadcastNestedLoopJoin evaluated ~100 interpreted
    // predicates per corpus row (r10 verdict finding)
    val p = planOf(SparkEntry.queries("negative_sampling")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("basket family reuse is explicit: multi-consumer frames read the checkpoint") {
    // the support-pruned edge frame / basket frame feed 2-5 consumers
    // each; localCheckpoint makes the single materialization a plan
    // property instead of an AQE ReuseExchange outcome (r10 discipline;
    // r12 — the checkpointed frame is now the in-row basket, not a
    // self-joined pair frame)
    Seq("triangle_count", "item_item_cf", "basket_lift").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Scan parquet"),
        s"$q re-reads parquet past the checkpoint: " + p.take(3000))
      assert(p.contains("ExistingRDD"),
        s"$q lost its checkpointed input: " + p.take(3000))
    }
    // frequent_itemsets' basket has ONE consumer — no checkpoint, and the
    // whole query must touch parquet exactly once
    val p = planOf(SparkEntry.queries("frequent_itemsets")(spark, sf))
    assert(p.split("Scan parquet").length - 1 == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("dedup_keep_best is scan -> hash window -> rollup, no self-join") {
    // quality is an inline column, so the only exchanges are the window's
    // content-hash shuffle and the bounded per-lang rollup
    val p = planOf(SparkEntry.queries("dedup_keep_best")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 3, s"$exchanges exchanges (want <=3): " + p.take(3000))
  }

  test("rrf_fusion keeps the corpus-scale work inside broadcast rankers") {
    // the cosine side broadcasts its 1-row query; the fusion join runs
    // over two bounded top-20 lists — never a corpus-vs-corpus shuffle
    val p = planOf(SparkEntry.queries("rrf_fusion")(spark, sf))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("estimator gate rows are join-free single-scan aggregates") {
    // the r11 logistic/hinge gates score literal coefficients in ONE
    // codegen aggregate over the raw table — no join, no window
    Seq("qn_logreg", "svm_linear", "mbsgd_classifier").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join"), s"$q plans a join: " + p.take(3000))
      assert(!p.contains("Window"), s"$q plans a window: " + p.take(3000))
    }
  }

  test("data-scale ntiles run distributed (range exchange, no pid re-shuffle)") {
    // r12: lift_table/lorenz_curve/rfm_segments/quantile_buckets rank
    // data-scale frames through core.Ranks — the plan must show the
    // sampled range exchange, and the data side must not re-exchange on
    // the partition id (local ranks come from monotonically_increasing_id
    // above the per-partition sort); the single-partition sort window
    // over raw rows is gone
    Seq("lift_table", "lorenz_curve", "rfm_segments", "quantile_buckets")
      .foreach { q =>
        val p = planOf(SparkEntry.queries(q)(spark, sf))
        assert(p.contains("rangepartitioning"), s"$q: " + p.take(3000))
        assert(p.contains("BroadcastHashJoin [_gr_pid"), s"$q: " + p.take(3000))
      }
  }

  test("robust_scale's final frame is windowless (quartiles via the distinct-value job)") {
    val p = planOf(SparkEntry.queries("robust_scale")(spark, sf))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("link_prediction generates pairs in-row: no cartesian or nested-loop join") {
    val p = planOf(SparkEntry.queries("link_prediction")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("dedup_edit verifies only LSH candidates: band equi-join, no cartesian") {
    val p = planOf(SparkEntry.queries("dedup_edit")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("levenshtein"), p.take(3000)) // the verify is codegen, in-plan
  }

  test("scd2_history windows run user-partitioned, never a global sort") {
    val p = planOf(SparkEntry.queries("scd2_history")(spark, sf))
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
  }

  test("bloom_join audit scans the probe side exactly once") {
    // r12 ran the 3-semi-join probe pipeline once per audit aggregate
    // (4 probe-side jobs); the fused audit folds pass/match flags into a
    // single aggregate, so the lineitem scan must appear exactly once
    val p = planOf(SparkEntry.queries("bloom_join")(spark, sf))
    val probeScans = p.split("Scan parquet").drop(1).count(_.contains("lineitem"))
    assert(probeScans == 1, s"probe side scanned $probeScans times: " + p.take(3000))
    // the bit-table lookups stay broadcast (map-side filtering)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("mann_kendall's pair stage is a series equi-join of the reduced day frame") {
    val p = planOf(SparkEntry.queries("mann_kendall")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("planted hot key: salting bounds the max join partition at ~hot/salts") {
    // the r12 verdict's missing skew MEASUREMENT: salted_join was
    // hash-gated for correctness but nothing showed the win. Plant a key
    // holding ~30% of the fact side, disable AQE skew splitting and
    // broadcast (isolating OUR mitigation from Spark's), and gate that
    // the salted join's hottest output partition carries ≤ 2×/salts of
    // the plain join's — the reducer-melt bound that matters at 100 TB
    import graft.core.Num
    val salts = 8
    val li = Tables.lineitem(spark, sf)
    val hotKey = when(
      pmod(Num.md5Long(concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
        lit(10L)) < 3, lit(1L)).otherwise(col("l_suppkey").cast("long"))
    val fact = li.select(hotKey.as("suppkey"), col("l_quantity"),
      concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("_rid"))
    val dim = Tables.supplier(spark, sf)
      .select(col("s_suppkey").cast("long").as("suppkey"), col("s_acctbal"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // measure the HOT KEY's own concentration (total partition rows
      // would be confounded by background keys): max hot rows landing on
      // one reducer, plain vs salted
      def hotMax(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("suppkey") === 1L)
          .select(spark_partition_id().as("pid")).groupBy("pid").count()
          .agg(max("count")).head().getLong(0)
      val plain = fact.join(dim, "suppkey")
      val salted = graft.core.Salting.saltedJoin(fact, dim, "suppkey", "_rid", salts)
      assert(salted.count() == plain.count()) // result-multiset parity
      val (pHot, sHot) = (hotMax(plain), hotMax(salted))
      // plain lands every hot row on ONE reducer; salting spreads them
      // over `salts` cells — ≤3×/salts allows two salt cells hashing to
      // one of the 32 partitions plus md5 imbalance (deterministic data,
      // so this is a stable measurement, not a flaky bound)
      assert(pHot > fact.count() / 4, s"hot key not hot enough: $pHot")
      assert(sHot <= pHot * 3 / salts,
        s"salted hot-key max $sHot vs plain $pHot (salts=$salts)")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("winsorize fences come from the distributed rank job; the scan stays windowless") {
    val p = planOf(SparkEntry.queries("winsorize")(spark, sf))
    // the emitted plan is one aggregate over the orders scan with literal
    // fences — the quantile job ran separately through core.Ranks
    assert(!p.contains("Window"), p.take(3000))
  }
}
