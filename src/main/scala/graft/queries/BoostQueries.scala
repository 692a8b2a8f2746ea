package graft.queries

import graft.core.Tables
import graft.core.Num.{r4, r6}
import graft.ensemble.Boosting
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fitted tree/boosting surface (round-6 session 4): exhaustive stump
  * split search, fixed-round gradient boosting and AdaBoost, and
  * filter-method feature selection — the first HASH GATES in the tree
  * family (rf_classifier/rf_regressor are invariant gates over seeded
  * histogram forests; tree_predict scores a literal tree; these entries
  * FIT, verifiably).
  *
  * Shared discipline: candidate splits are evaluated on the bounded
  * (feature, distinct-value) frame via cumulative windows — the corpus is
  * scanned once per round, never once per candidate.
  */
object BoostQueries {
  type Q = (SparkSession, String) => DataFrame

  private val Feats = Seq("l_quantity", "l_discount", "l_tax")

  val queries: Map[String, Q] = Map(
    "stump_fit" -> { (s, d) =>
      // depth-1 CART classification stump, exhaustive split search: one
      // explode-unpivot scan → (feature, value) groupBy → cumulative
      // windows give every candidate's weighted Gini; top-5 candidates on
      // the ROUNDED score with (gini, feature, value) tie-break
      val li = Tables.lineitem(s, d)
      val y = when(col("l_returnflag") === "R", 1.0).otherwise(0.0)
      val un = li.select(explode(array(Feats.map(f =>
          struct(lit(f).as("f"), col(f).cast("double").as("v"))): _*)).as("u"), y.as("_y"))
        .select(col("u.f").as("f"), col("u.v").as("v"), col("_y"))
      val g = un.groupBy("f", "v")
        .agg(count(lit(1)).cast("double").as("_n"), sum(col("_y")).as("_p"))
      val wCum = Window.partitionBy("f").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("f")
      val c = g
        .withColumn("_nle", sum(col("_n")).over(wCum))
        .withColumn("_ple", sum(col("_p")).over(wCum))
        .withColumn("_nt", sum(col("_n")).over(wAll))
        .withColumn("_pt", sum(col("_p")).over(wAll))
        .filter(col("_nle") < col("_nt"))
      val ngt = col("_nt") - col("_nle")
      val pgt = col("_pt") - col("_ple")
      def gini(n: org.apache.spark.sql.Column, p: org.apache.spark.sql.Column) =
        lit(1.0) - pow(p / n, 2) - pow((n - p) / n, 2)
      val wg = r6((col("_nle") * gini(col("_nle"), col("_ple")) + ngt * gini(ngt, pgt)) /
        col("_nt"))
      c.withColumn("_g", wg)
        .withColumn("rank", row_number().over(Window.orderBy(col("_g"), col("f"), col("v"))))
        .filter(col("rank") <= 5)
        .select(col("rank").cast("long").as("rank"), col("f").as("feature"),
          r6(col("v")).as("threshold"), col("_g").as("gini"),
          col("_nle").cast("long").as("n_left"), col("_ple").cast("long").as("pos_left"))
        .orderBy("rank")
    },
    "gbt_stumps" -> { (s, d) =>
      // gradient-boosted regression stumps (squared loss, 4 rounds,
      // shrinkage 0.5) on the scaled price label; per-round winner +
      // monotone train MSE — chained-CTE-replayable (rounded leaves /
      // scores, see Boosting scaladoc)
      Boosting.gbtFrame(s, Tables.lineitem(s, d), Feats,
        col("l_extendedprice") / 100000.0, rounds = 4, lr = 0.5)
    },
    "adaboost_stumps" -> { (s, d) =>
      // AdaBoost.M1 with stumps (5 rounds) on the ±1 returnflag label:
      // weights are a composed literal expression, every candidate's
      // weighted error off the cumulative frame, ε/α rounded before they
      // recur — fully SQL-replayable including the per-round ensemble err
      Boosting.adaBoostFrame(s, Tables.lineitem(s, d), Feats,
        when(col("l_returnflag") === "R", 1.0).otherwise(-1.0), rounds = 5)
    },
    "isotonic_fit" -> { (s, d) =>
      // isotonic regression of P(returnflag = R) on quantity via the
      // closed-form max-min solution ŷ_k = max_{i≤k} min_{j≥k} avg(i..j)
      // (Robertson-Wright; ≡ PAV, spec-checked): prefix sums off the
      // bounded distinct-value frame, the pair frame is |support|² — the
      // calibration use case quantizes scores first (roc_auc discipline),
      // so the corpus is scanned ONCE and all pooling runs on ≤m² rows;
      // every A(i,j) is a ratio of exact integer sums → engine-identical
      val li = Tables.lineitem(s, d)
      val y = when(col("l_returnflag") === "R", 1.0).otherwise(0.0)
      val g = li.groupBy(col("l_quantity").as("v"))
        .agg(count(lit(1)).cast("double").as("_n"), sum(y).as("_s"))
      val wCum = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
      val idx = g.withColumn("i", row_number().over(Window.orderBy(col("v"))))
        .withColumn("_cn", sum(col("_n")).over(wCum))
        .withColumn("_cs", sum(col("_s")).over(wCum))
      val pairs = idx.as("lo").join(idx.as("hi"), col("lo.i") <= col("hi.i"))
        .select(col("lo.i").as("i"), col("hi.i").as("j"),
          ((col("hi._cs") - (col("lo._cs") - col("lo._s"))) /
            (col("hi._cn") - (col("lo._cn") - col("lo._n")))).as("_a"))
      val wRMin = Window.partitionBy("i").orderBy(col("j").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val iso = pairs.withColumn("_bmin", min(col("_a")).over(wRMin))
        .groupBy("j").agg(max(col("_bmin")).as("_iso"))
      idx.join(iso, idx("i") === iso("j"))
        .select(col("v").as("value"), col("_n").cast("long").as("n"),
          r6(col("_s") / col("_n")).as("mean_y"), r6(col("_iso")).as("iso_y"))
        .orderBy("value")
    },
    "partial_dependence" -> { (s, d) =>
      // partial-dependence of the fitted GBT on quantity (sklearn
      // inspection surface): refit (same fixed-round chain), then for each
      // grid value substitute the literal into the model column and
      // average over the corpus — 5 aggregate expressions in ONE scan
      val li = Tables.lineitem(s, d)
      val (f0, model) = Boosting.fitGBT(li, Feats,
        col("l_extendedprice") / 100000.0, rounds = 4, lr = 0.5)
      val grid = Seq(5.0, 15.0, 25.0, 35.0, 45.0)
      val aggs = grid.zipWithIndex.map { case (gv, i) =>
        avg(Boosting.gbtPredict(f0, model, 0.5,
          Map("l_quantity" -> lit(gv)))).as(s"_p$i")
      }
      li.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(grid.zipWithIndex.map { case (gv, i) =>
          struct(lit(gv).as("grid_q"), r6(col(s"_p$i")).as("pdp"))
        }: _*)).as("u"))
        .select(col("u.grid_q").as("grid_q"), col("u.pdp").as("pdp"))
        .orderBy("grid_q")
    },
    "gbt_attribution" -> { (s, d) =>
      // global feature attribution of the fitted GBT (mean |SHAP| for
      // stumps: a single stump's SHAP value is h_j(x) − E[h_j]): per-stump
      // means from ONE scan (rounded before the attribution pass), mean
      // absolute contributions from ONE more; shares the memoized fit
      val li = Tables.lineitem(s, d)
      val lr = 0.5
      val (_, model) = Boosting.fitGBT(li, Feats,
        col("l_extendedprice") / 100000.0, rounds = 4, lr = lr)
      val meanAggs = model.zipWithIndex.map { case (st, j) =>
        avg(Boosting.stumpColumn(st)).as(s"_m$j")
      }
      val meansRow = li.agg(meanAggs.head, meanAggs.tail: _*).head()
      val means = model.indices.map(j => BigDecimal(meansRow.getDouble(j))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val attAggs = model.zipWithIndex.map { case (st, j) =>
        avg(abs(lit(lr) * (Boosting.stumpColumn(st) - lit(means(j))))).as(s"_a$j")
      }
      val attRow = li.agg(attAggs.head, attAggs.tail: _*).head()
      import s.implicits._
      Feats.map { f =>
        val js = model.zipWithIndex.filter(_._1.feature == f).map(_._2)
        val att = js.foldLeft(0.0)((acc, j) => acc + attRow.getDouble(j))
        (f, js.length.toLong,
          BigDecimal(att).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("feature", "n_stumps", "attribution").orderBy("feature")
    },
    "feature_select" -> { (s, d) =>
      // filter-method feature ranking vs the 3-class label: mutual
      // information and χ² per feature from ONE unpivot-contingency pass
      // (integer bin ids — quantity decades, permille discount/tax — so
      // the bins are engine-exact); every later reduction runs on the
      // bounded (feature, bin, label) frame
      val li = Tables.lineitem(s, d)
      val un = li.select(explode(array(
          struct(lit("l_quantity").as("f"), floor(col("l_quantity") / 10).cast("long").as("b")),
          struct(lit("l_discount").as("f"), round(col("l_discount") * 100, 0).cast("long").as("b")),
          struct(lit("l_tax").as("f"), round(col("l_tax") * 100, 0).cast("long").as("b"))
        )).as("u"), col("l_returnflag").as("l"))
        .select(col("u.f").as("f"), col("u.b").as("b"), col("l"))
      val cont = un.groupBy("f", "b", "l").agg(count(lit(1)).cast("double").as("_n"))
      val byB = cont.groupBy("f", "b").agg(sum(col("_n")).as("_nb"))
      val byL = cont.groupBy("f", "l").agg(sum(col("_n")).as("_nl"))
      val tot = cont.groupBy("f").agg(sum(col("_n")).as("_nt"))
      val e = col("_nb") * col("_nl") / col("_nt")
      val terms = cont.join(byB, Seq("f", "b")).join(byL, Seq("f", "l"))
        .join(tot, Seq("f"))
        .select(col("f"), col("b"),
          (col("_n") / col("_nt") *
            log(col("_n") * col("_nt") / (col("_nb") * col("_nl")))).as("_mi"),
          (pow(col("_n") - e, 2) / e).as("_chi"))
      terms.groupBy("f")
        .agg(countDistinct(col("b")).cast("long").as("n_bins"),
          r6(sum(col("_mi"))).as("mi"), r4(sum(col("_chi"))).as("chi2"))
        .withColumn("mi_rank",
          row_number().over(Window.orderBy(col("mi").desc, col("f"))).cast("long"))
        .select(col("f").as("feature"), col("n_bins"), col("mi"), col("chi2"), col("mi_rank"))
        .orderBy("feature")
    }
  )

  /** The three-way unpivot as SQL UNION ALL, with a shared residual /
    * carry expression substituted per branch. */
  private def unpivotSql(carryExpr: String, from: String): String =
    Seq("l_quantity" -> "q", "l_discount" -> "disc", "l_tax" -> "tax").map { case (f, c) =>
      s"SELECT '$f' AS f, $c AS v, $carryExpr FROM $from"
    }.mkString("\n  UNION ALL ")

  /** h_j(x) for GBT winner CTE wj: the winning feature's stump output.
    * `qExpr` substitutes the quantity operand (partial-dependence grid). */
  private def gbtStumpSql(w: String, qExpr: String = "q"): String =
    s"""(CASE WHEN $w.f = 'l_quantity' THEN (CASE WHEN $qExpr <= $w.thr THEN $w.ll ELSE $w.lr END)
       |  WHEN $w.f = 'l_discount' THEN (CASE WHEN disc <= $w.thr THEN $w.ll ELSE $w.lr END)
       |  ELSE (CASE WHEN tax <= $w.thr THEN $w.ll ELSE $w.lr END) END)""".stripMargin

  /** ±1 stump for AdaBoost winner CTE wj (polarity folded in). */
  private def adaStumpSql(w: String): String =
    s"""($w.pol * (CASE WHEN $w.f = 'l_quantity' THEN (CASE WHEN q <= $w.thr THEN 1.0 ELSE -1.0 END)
       |  WHEN $w.f = 'l_discount' THEN (CASE WHEN disc <= $w.thr THEN 1.0 ELSE -1.0 END)
       |  ELSE (CASE WHEN tax <= $w.thr THEN 1.0 ELSE -1.0 END) END))""".stripMargin

  private def gbtPredSql(k: Int, lr: Double, qExpr: String = "q"): String =
    (1 to k).foldLeft("f0.f0")((acc, j) => s"$acc + $lr * ${gbtStumpSql(s"w$j", qExpr)}")

  /** The shared GBT fit CTE chain (base + f0 + per-round winner CTEs). */
  private def gbtCtes(rounds: Int, lr: Double): String = {
    def pred(k: Int): String = gbtPredSql(k, lr)
    val roundCtes = (1 to rounds).map { k =>
      val prior = (Seq("f0") ++ (1 until k).map(j => s"w$j")).mkString(", ")
      s"""u$k AS (${unpivotSql(s"y - (${pred(k - 1)}) AS res", s"b, $prior")}),
         |g$k AS (SELECT f, v, count(*)::DOUBLE AS n, sum(res) AS sr FROM u$k GROUP BY f, v),
         |c$k AS (SELECT f, v,
         |    sum(n) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nle,
         |    sum(sr) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sle,
         |    sum(n) OVER (PARTITION BY f) AS nt, sum(sr) OVER (PARTITION BY f) AS st
         |  FROM g$k),
         |w$k AS MATERIALIZED (SELECT f, v AS thr, round(sle / nle, 6) AS ll,
         |    round((st - sle) / (nt - nle), 6) AS lr
         |  FROM (SELECT *, round(sle * sle / nle + (st - sle) * (st - sle) / (nt - nle), 4) AS sc
         |    FROM c$k WHERE nle < nt)
         |  ORDER BY sc DESC, f, v LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""b AS MATERIALIZED (SELECT l_quantity::DOUBLE AS q, l_discount::DOUBLE AS disc,
       |    l_tax::DOUBLE AS tax, l_extendedprice / 100000.0 AS y FROM lineitem),
       |f0 AS (SELECT round(avg(y), 4) AS f0 FROM b),
       |$roundCtes""".stripMargin
  }

  private def gbtOracle(rounds: Int, lr: Double): String = {
    val mseSel = (1 to rounds).map(k =>
      s"avg((y - (${gbtPredSql(k, lr)})) * (y - (${gbtPredSql(k, lr)}))) AS m$k")
      .mkString(",\n    ")
    val allW = (Seq("f0") ++ (1 to rounds).map(j => s"w$j")).mkString(", ")
    val out = (1 to rounds).map(k =>
      s"""SELECT $k::BIGINT AS round, w$k.f AS feature, round(w$k.thr, 6) AS threshold,
         |  w$k.ll AS leaf_left, w$k.lr AS leaf_right, round(m.m$k, 6) AS mse
         |FROM w$k, m""".stripMargin).mkString("\nUNION ALL ")
    s"""WITH ${gbtCtes(rounds, lr)},
       |m AS (SELECT
       |    $mseSel
       |  FROM b, $allW)
       |$out ORDER BY round""".stripMargin
  }

  private def pdpOracle(rounds: Int, lr: Double, grid: Seq[Double]): String = {
    val allW = (Seq("f0") ++ (1 to rounds).map(j => s"w$j")).mkString(", ")
    s"""WITH ${gbtCtes(rounds, lr)}
       |SELECT gr.g AS grid_q, round(avg(${gbtPredSql(rounds, lr, "gr.g")}), 6) AS pdp
       |FROM b, $allW, unnest([${grid.mkString(", ")}]) AS gr(g)
       |GROUP BY gr.g ORDER BY grid_q""".stripMargin
  }

  private def adaOracle(rounds: Int): String = {
    def wexpr(k: Int): String =
      (1 to k).foldLeft("0.0")((acc, j) => s"$acc - w$j.alpha * y * ${adaStumpSql(s"w$j")}")
    val roundCtes = (1 to rounds).map { k =>
      val prior = (1 until k).map(j => s"w$j").mkString(", ") match {
        case "" => "b"; case p => s"b, $p"
      }
      s"""u$k AS (${unpivotSql(
          s"CASE WHEN y > 0 THEN exp(${wexpr(k - 1)}) ELSE 0.0 END AS wp,\n" +
          s"    CASE WHEN y < 0 THEN exp(${wexpr(k - 1)}) ELSE 0.0 END AS wn", prior)}),
         |g$k AS (SELECT f, v, sum(wp) AS wp, sum(wn) AS wn FROM u$k GROUP BY f, v),
         |c$k AS (SELECT f, v,
         |    sum(wp) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wple,
         |    sum(wn) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wnle,
         |    sum(wp) OVER (PARTITION BY f) AS wpt, sum(wn) OVER (PARTITION BY f) AS wnt
         |  FROM g$k),
         |e$k AS (SELECT f, v, 1 AS pol,
         |    round((wnle + (wpt - wple)) / (wpt + wnt), 6) AS e
         |  FROM c$k WHERE wple + wnle < wpt + wnt
         |  UNION ALL SELECT f, v, -1,
         |    round((wple + (wnt - wnle)) / (wpt + wnt), 6)
         |  FROM c$k WHERE wple + wnle < wpt + wnt),
         |w$k AS MATERIALIZED (SELECT f, v AS thr, pol, e AS eps,
         |    round(0.5 * ln((1.0 - e) / e), 6) AS alpha
         |  FROM e$k ORDER BY e, f, v, pol DESC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    def score(k: Int): String =
      (1 to k).foldLeft("0.0")((acc, j) => s"$acc + w$j.alpha * ${adaStumpSql(s"w$j")}")
    val errSel = (1 to rounds).map(k =>
      s"avg(CASE WHEN (CASE WHEN (${score(k)}) > 0 THEN 1.0 ELSE -1.0 END) <> y THEN 1.0 ELSE 0.0 END) AS e$k")
      .mkString(",\n    ")
    val allW = (1 to rounds).map(j => s"w$j").mkString(", ")
    val out = (1 to rounds).map(k =>
      s"""SELECT $k::BIGINT AS round, w$k.f AS feature, round(w$k.thr, 6) AS threshold,
         |  w$k.pol::BIGINT AS polarity, w$k.eps AS eps, w$k.alpha AS alpha,
         |  round(m.e$k, 6) AS ens_err
         |FROM w$k, m""".stripMargin).mkString("\nUNION ALL ")
    s"""WITH b AS MATERIALIZED (SELECT l_quantity::DOUBLE AS q, l_discount::DOUBLE AS disc,
       |    l_tax::DOUBLE AS tax,
       |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END AS y FROM lineitem),
       |$roundCtes,
       |m AS (SELECT
       |    $errSel
       |  FROM b, $allW)
       |$out ORDER BY round""".stripMargin
  }

  private def gbtAttributionOracle(rounds: Int, lr: Double): String = {
    val allW = (1 to rounds).map(j => s"w$j").mkString(", ")
    val meanSel = (1 to rounds).map(j =>
      s"round(avg(${gbtStumpSql(s"w$j")}), 6) AS m$j").mkString(",\n    ")
    val attSel = (1 to rounds).map(j =>
      s"avg(abs($lr * (${gbtStumpSql(s"w$j")} - m0.m$j))) AS a$j").mkString(",\n    ")
    val rows = Feats.map { f =>
      val ns = (1 to rounds).map(j => s"(CASE WHEN w$j.f = '$f' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val at = (1 to rounds).map(j => s"(CASE WHEN w$j.f = '$f' THEN att.a$j ELSE 0.0 END)")
        .mkString(" + ")
      s"""SELECT '$f' AS feature, ($ns)::BIGINT AS n_stumps,
         |  round($at, 6) AS attribution
         |FROM $allW, att""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${gbtCtes(rounds, lr)},
       |m0 AS (SELECT
       |    $meanSel
       |  FROM b, $allW),
       |att AS (SELECT
       |    $attSel
       |  FROM b, $allW, m0)
       |$rows ORDER BY feature""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "gbt_attribution" -> gbtAttributionOracle(rounds = 4, lr = 0.5),
    "stump_fit" ->
      """WITH un AS (
        |  SELECT 'l_quantity' AS f, l_quantity::DOUBLE AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount::DOUBLE,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax::DOUBLE,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END FROM lineitem),
        |g AS (SELECT f, v, count(*)::DOUBLE AS n, sum(y) AS p FROM un GROUP BY f, v),
        |c AS (SELECT f, v, n, p,
        |    sum(n) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nle,
        |    sum(p) OVER (PARTITION BY f ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ple,
        |    sum(n) OVER (PARTITION BY f) AS nt, sum(p) OVER (PARTITION BY f) AS pt
        |  FROM g),
        |s AS (SELECT f, v, nle, ple, nt - nle AS ngt, pt - ple AS pgt, nt FROM c WHERE nle < nt),
        |sc AS (SELECT f, v, nle, ple,
        |    round((nle * (1.0 - pow(ple / nle, 2) - pow((nle - ple) / nle, 2))
        |         + ngt * (1.0 - pow(pgt / ngt, 2) - pow((ngt - pgt) / ngt, 2))) / nt, 6) AS g
        |  FROM s),
        |r AS (SELECT *, row_number() OVER (ORDER BY g, f, v) AS rank FROM sc)
        |SELECT rank::BIGINT AS rank, f AS feature, round(v, 6) AS threshold, g AS gini,
        |  nle::BIGINT AS n_left, ple::BIGINT AS pos_left
        |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "gbt_stumps" -> gbtOracle(rounds = 4, lr = 0.5),
    "partial_dependence" -> pdpOracle(rounds = 4, lr = 0.5,
      grid = Seq(5.0, 15.0, 25.0, 35.0, 45.0)),
    "isotonic_fit" ->
      """WITH g AS (SELECT l_quantity AS v, count(*)::DOUBLE AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS s
        |  FROM lineitem GROUP BY 1),
        |i AS (SELECT v, n, s, row_number() OVER (ORDER BY v) AS i,
        |    sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |    sum(s) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM g),
        |p AS (SELECT lo.i AS i, hi.i AS j,
        |    (hi.cs - (lo.cs - lo.s)) / (hi.cn - (lo.cn - lo.n)) AS a
        |  FROM i lo JOIN i hi ON lo.i <= hi.i),
        |b AS (SELECT i, j, min(a) OVER (PARTITION BY i ORDER BY j DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bmin FROM p),
        |iso AS (SELECT j, max(bmin) AS y FROM b GROUP BY j)
        |SELECT i.v AS value, i.n::BIGINT AS n, round(i.s / i.n, 6) AS mean_y,
        |  round(iso.y, 6) AS iso_y
        |FROM i JOIN iso ON i.i = iso.j ORDER BY value""".stripMargin,
    "adaboost_stumps" -> adaOracle(rounds = 5),
    "feature_select" ->
      """WITH un AS (
        |  SELECT 'l_quantity' AS f, floor(l_quantity / 10)::BIGINT AS b, l_returnflag AS l FROM lineitem
        |  UNION ALL SELECT 'l_discount', round(l_discount * 100, 0)::BIGINT, l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_tax', round(l_tax * 100, 0)::BIGINT, l_returnflag FROM lineitem),
        |cont AS (SELECT f, b, l, count(*)::DOUBLE AS n FROM un GROUP BY f, b, l),
        |byb AS (SELECT f, b, sum(n) AS nb FROM cont GROUP BY f, b),
        |byl AS (SELECT f, l, sum(n) AS nl FROM cont GROUP BY f, l),
        |tot AS (SELECT f, sum(n) AS nt FROM cont GROUP BY f),
        |terms AS (SELECT cont.f, cont.b,
        |    cont.n / tot.nt * ln(cont.n * tot.nt / (byb.nb * byl.nl)) AS mi,
        |    pow(cont.n - byb.nb * byl.nl / tot.nt, 2) / (byb.nb * byl.nl / tot.nt) AS chi
        |  FROM cont JOIN byb USING (f, b) JOIN byl USING (f, l) JOIN tot USING (f)),
        |agg AS (SELECT f, count(DISTINCT b)::BIGINT AS n_bins,
        |    round(sum(mi), 6) AS mi, round(sum(chi), 4) AS chi2
        |  FROM terms GROUP BY f),
        |r AS (SELECT *, row_number() OVER (ORDER BY mi DESC, f) AS mi_rank FROM agg)
        |SELECT f AS feature, n_bins, mi, chi2, mi_rank::BIGINT AS mi_rank
        |FROM r ORDER BY feature""".stripMargin
  )
}
