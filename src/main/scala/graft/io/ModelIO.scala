package graft.io

import graft.ensemble.{Boosting, Forest}
import graft.linear.LinearModel
import graft.neighbors.PQ
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, posexplode}

/** Parquet persistence for graft's fitted models — the Spark-native
  * counterpart of the reference's pickle round-trip surface
  * (reference python/cuml/test/test_pickle.py: every estimator must
  * save/load and then predict/transform identically).
  *
  * Every graft model is a small set of driver-local literals (terms+coefs,
  * centroids, stumps, codebooks, tree nodes) that scoring broadcasts into
  * codegen'd expressions. Persistence therefore reduces to ONE tiny
  * long-format parquet table per model:
  *
  *   (model_type, section, i, j, key, value, svalue)
  *
  * with `i`/`j` carrying row/column indices (class, cluster, round, dim),
  * `key`/`svalue` carrying names, and `value` carrying the parameter.
  * Doubles survive parquet bit-exactly, so a loaded model scores
  * IDENTICALLY to the freshly-fitted one (ModelIOSpec parity gates, and
  * the model_io_* oracle queries re-run a hash-gated scoring pass through
  * a save/load round-trip).
  *
  * The path is any Hadoop-compatible URI: a local dir in tests, an object
  * store at cluster scale. The table is a handful of rows (coalesce(1),
  * single file); loading is one driver-side collect of that file — model
  * size is independent of corpus size, so this holds at 100 TB unchanged.
  */
object ModelIO {

  /** One parameter cell of the long-format model table. */
  final case class ParamRow(model_type: String, section: String,
                            i: Long, j: Long, key: String,
                            value: Option[Double], svalue: Option[String])

  def save(spark: SparkSession, rows: Seq[ParamRow], path: String): Unit = {
    import spark.implicits._
    rows.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The table at `path`, read with the [[ParamRow]] schema (so no job
    * infers it from the files). */
  def load(spark: SparkSession, path: String): Seq[ParamRow] =
    spark.read.schema(Encoders.product[ParamRow].schema).parquet(path).collect().toSeq
      .map { r: Row =>
        ParamRow(r.getAs[String]("model_type"), r.getAs[String]("section"),
          r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[String]("key"),
          Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue()),
          Option(r.getAs[String]("svalue")))
      }

  /** The persisted table as a DataFrame (for inspection / SQL over a model
    * registry directory). */
  def loadDF(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def modelType(rows: Seq[ParamRow]): String = {
    require(rows.nonEmpty, "ModelIO: empty model table")
    rows.head.model_type
  }

  private def section(rows: Seq[ParamRow], s: String): Seq[ParamRow] =
    rows.filter(_.section == s)

  private def expectType(rows: Seq[ParamRow], t: String): Unit = {
    val got = modelType(rows)
    require(got == t, s"ModelIO: expected model_type=$t, found $got")
  }

  // ---------------------------------------------------------------- linear

  /** OLS / Ridge / Lasso / ElasticNet / SGD / QN fits — anything that is a
    * [[LinearModel]] (ordered terms + coefficients). */
  def linearRows(m: LinearModel): Seq[ParamRow] =
    m.terms.zip(m.coefs).zipWithIndex.map { case ((t, c), idx) =>
      ParamRow("linear", "coef", idx.toLong, -1L, t, Some(c), None)
    }

  def saveLinear(spark: SparkSession, m: LinearModel, path: String): Unit =
    save(spark, linearRows(m), path)

  def loadLinear(spark: SparkSession, path: String): LinearModel = {
    val rows = load(spark, path)
    expectType(rows, "linear")
    val coefs = section(rows, "coef").sortBy(_.i)
    LinearModel(coefs.map(_.key), coefs.map(_.value.get))
  }

  // ------------------------------------------------------------- centroids

  /** A fitted k-means model: ordered feature names + k×d centroid matrix
    * (the literal side of KMeansGraft.assign/distances/minSqDist). */
  def centroidRows(features: Seq[String], centroids: Seq[Seq[Double]]): Seq[ParamRow] = {
    val featRows = features.zipWithIndex.map { case (f, j) =>
      ParamRow("kmeans", "feature", -1L, j.toLong, f, None, None)
    }
    val cRows = for {
      (c, i) <- centroids.zipWithIndex
      (v, j) <- c.zipWithIndex
    } yield ParamRow("kmeans", "centroid", i.toLong, j.toLong, "", Some(v), None)
    featRows ++ cRows
  }

  def saveCentroids(spark: SparkSession, features: Seq[String],
                    centroids: Seq[Seq[Double]], path: String): Unit =
    save(spark, centroidRows(features, centroids), path)

  def loadCentroids(spark: SparkSession, path: String): (Seq[String], Seq[Seq[Double]]) = {
    val rows = load(spark, path)
    expectType(rows, "kmeans")
    // names live in `key` across all codecs; svalue is reserved for
    // string-typed VALUES (stump features, tree child pointers)
    val feats = section(rows, "feature").sortBy(_.j).map(_.key)
    val cents = section(rows, "centroid").groupBy(_.i).toSeq.sortBy(_._1)
      .map { case (_, cell) => cell.sortBy(_.j).map(_.value.get) }
    (feats, cents)
  }

  // --------------------------------------------------------------- softmax

  /** Multinomial logistic coefficients: class names, per-class intercepts,
    * per-class weight rows (the literal side of Softmax.predict). */
  def softmaxRows(classes: Seq[String], intercepts: Seq[Double],
                  weights: Seq[Seq[Double]]): Seq[ParamRow] = {
    require(classes.size == intercepts.size && classes.size == weights.size)
    classes.zipWithIndex.flatMap { case (cls, c) =>
      ParamRow("softmax", "class", c.toLong, -1L, cls, None, None) +:
        ParamRow("softmax", "intercept", c.toLong, -1L, cls, Some(intercepts(c)), None) +:
        weights(c).zipWithIndex.map { case (w, j) =>
          ParamRow("softmax", "weight", c.toLong, j.toLong, cls, Some(w), None)
        }
    }
  }

  def saveSoftmax(spark: SparkSession, classes: Seq[String],
                  intercepts: Seq[Double], weights: Seq[Seq[Double]],
                  path: String): Unit =
    save(spark, softmaxRows(classes, intercepts, weights), path)

  def loadSoftmax(spark: SparkSession, path: String)
      : (Seq[String], Seq[Double], Seq[Seq[Double]]) = {
    val rows = load(spark, path)
    expectType(rows, "softmax")
    val classes = section(rows, "class").sortBy(_.i).map(_.key)
    val icepts = section(rows, "intercept").sortBy(_.i).map(_.value.get)
    val weights = section(rows, "weight").groupBy(_.i).toSeq.sortBy(_._1)
      .map { case (_, ws) => ws.sortBy(_.j).map(_.value.get) }
    (classes, icepts, weights)
  }

  // ------------------------------------------------------------ GBT stumps

  /** A fitted Boosting.fitGBT model: base prediction f0, shrinkage lr, and
    * the per-round stumps. */
  def saveGBT(spark: SparkSession, f0: Double, lr: Double,
              stumps: Seq[Boosting.Stump], path: String): Unit = {
    val meta = Seq(
      ParamRow("gbt", "param", -1L, -1L, "f0", Some(f0), None),
      ParamRow("gbt", "param", -1L, -1L, "lr", Some(lr), None))
    val sRows = stumps.zipWithIndex.flatMap { case (st, r) =>
      Seq(
        ParamRow("gbt", "stump", r.toLong, -1L, "feature", None, Some(st.feature)),
        ParamRow("gbt", "stump", r.toLong, -1L, "thr", Some(st.thr), None),
        ParamRow("gbt", "stump", r.toLong, -1L, "left", Some(st.leftVal), None),
        ParamRow("gbt", "stump", r.toLong, -1L, "right", Some(st.rightVal), None))
    }
    save(spark, meta ++ sRows, path)
  }

  def loadGBT(spark: SparkSession, path: String)
      : (Double, Double, Seq[Boosting.Stump]) = {
    val rows = load(spark, path)
    expectType(rows, "gbt")
    val params = section(rows, "param").map(r => r.key -> r.value.get).toMap
    val stumps = section(rows, "stump").groupBy(_.i).toSeq.sortBy(_._1).map {
      case (_, cell) =>
        val kv = cell.map(r => r.key -> r).toMap
        Boosting.Stump(kv("feature").svalue.get, kv("thr").value.get,
          kv("left").value.get, kv("right").value.get)
    }
    (params("f0"), params("lr"), stumps)
  }

  // ------------------------------------------------------- AdaBoost stumps

  def saveAdaBoost(spark: SparkSession, stumps: Seq[Boosting.AdaStump],
                   path: String): Unit =
    save(spark, stumps.zipWithIndex.flatMap { case (st, r) =>
      Seq(
        ParamRow("adaboost", "stump", r.toLong, -1L, "feature", None, Some(st.feature)),
        ParamRow("adaboost", "stump", r.toLong, -1L, "thr", Some(st.thr), None),
        ParamRow("adaboost", "stump", r.toLong, -1L, "polarity", Some(st.polarity.toDouble), None),
        ParamRow("adaboost", "stump", r.toLong, -1L, "eps", Some(st.eps), None),
        ParamRow("adaboost", "stump", r.toLong, -1L, "alpha", Some(st.alpha), None))
    }, path)

  def loadAdaBoost(spark: SparkSession, path: String): Seq[Boosting.AdaStump] = {
    val rows = load(spark, path)
    expectType(rows, "adaboost")
    section(rows, "stump").groupBy(_.i).toSeq.sortBy(_._1).map { case (_, cell) =>
      val kv = cell.map(r => r.key -> r).toMap
      Boosting.AdaStump(kv("feature").svalue.get, kv("thr").value.get,
        kv("polarity").value.get.toInt, kv("eps").value.get, kv("alpha").value.get)
    }
  }

  // ---------------------------------------------------------- decision tree

  /** A literal Forest.TreeNode (the FIL-style codegen scoring tree),
    * flattened preorder: each split row stores its feature index in `j`,
    * threshold in `value`, and child node ids as "left:right" in `svalue`;
    * each leaf row stores its value.
    *
    * Depth bound: walk/build recurse once per tree LEVEL, so the codec
    * supports depth ≲ a few thousand before the JVM stack overflows. That
    * is orders of magnitude past any scorable tree — Forest/FIL trees are
    * depth ≤ ~20 by construction, and a CASE-chain scoring expression for
    * a deeper tree would blow codegen limits long before this codec does —
    * so the bound is documented rather than engineered around. */
  def treeRows(tree: Forest.TreeNode): Seq[ParamRow] = {
    val rows = Seq.newBuilder[ParamRow]
    var next = 0L
    def walk(t: Forest.TreeNode): Long = {
      val id = next
      next += 1
      t match {
        case Forest.Leaf(v) =>
          rows += ParamRow("tree", "node", id, -1L, "leaf", Some(v), None)
        case Forest.Split(f, thr, l, r) =>
          val li = walk(l)
          val ri = walk(r)
          rows += ParamRow("tree", "node", id, f.toLong, "split", Some(thr), Some(s"$li:$ri"))
      }
      id
    }
    walk(tree)
    rows.result()
  }

  def saveTree(spark: SparkSession, tree: Forest.TreeNode, path: String): Unit =
    save(spark, treeRows(tree), path)

  def loadTree(spark: SparkSession, path: String): Forest.TreeNode = {
    val rows = load(spark, path)
    expectType(rows, "tree")
    val byId = section(rows, "node").map(r => r.i -> r).toMap
    def build(id: Long): Forest.TreeNode = {
      val r = byId(id)
      if (r.key == "leaf") Forest.Leaf(r.value.get)
      else {
        val Array(l, ri) = r.svalue.get.split(":").map(_.toLong)
        Forest.Split(r.j.toInt, r.value.get, build(l), build(ri))
      }
    }
    build(0L)
  }

  // ------------------------------------------------------------ PQ codebook

  /** A trained PQ.Codebook: m sub-spaces × k centers × subDim doubles,
    * flattened as i = sub·k + center, j = dim. */
  def savePQ(spark: SparkSession, cb: PQ.Codebook, path: String): Unit = {
    val meta = Seq(
      ParamRow("pq", "param", -1L, -1L, "m", Some(cb.m.toDouble), None),
      ParamRow("pq", "param", -1L, -1L, "k", Some(cb.k.toDouble), None))
    val cRows = for {
      s <- 0 until cb.m
      c <- 0 until cb.k
      (v, j) <- cb.centers(s)(c).zipWithIndex
    } yield ParamRow("pq", "center", s.toLong * cb.k + c, j.toLong, "", Some(v), None)
    save(spark, meta ++ cRows, path)
  }

  def loadPQ(spark: SparkSession, path: String): PQ.Codebook = {
    val rows = load(spark, path)
    expectType(rows, "pq")
    val params = section(rows, "param").map(r => r.key -> r.value.get).toMap
    val m = params("m").toInt
    val k = params("k").toInt
    val cells = section(rows, "center").groupBy(_.i).map { case (i, cell) =>
      i -> cell.sortBy(_.j).map(_.value.get).toArray
    }
    val centers = Array.tabulate(m, k)((s, c) => cells(s.toLong * k + c))
    PQ.Codebook(m, k, centers)
  }

  // -------------------------------------------------------------- IVF index

  /** An IVF coarse quantizer (neighbors.IVF.Index): k centers × dim.
    * Pairs with IVF.writeBucketed — the bucketed corpus persists as
    * partitioned parquet, the index itself persists here, so probes on a
    * fresh session need zero refit. */
  def saveIVF(spark: SparkSession, idx: graft.neighbors.IVF.Index, path: String): Unit =
    save(spark, (for {
      (c, i) <- idx.centers.zipWithIndex
      (v, j) <- c.zipWithIndex
    } yield ParamRow("ivf", "center", i.toLong, j.toLong, "", Some(v), None)).toSeq, path)

  def loadIVF(spark: SparkSession, path: String): graft.neighbors.IVF.Index = {
    val rows = load(spark, path)
    expectType(rows, "ivf")
    val centers = section(rows, "center").groupBy(_.i).toSeq.sortBy(_._1)
      .map { case (_, cell) => cell.sortBy(_.j).map(_.value.get).toArray }.toArray
    graft.neighbors.IVF.Index(centers)
  }

  // ------------------------------------------------------ per-series models

  /** DataFrame-valued (per-series) models — Holt-Winters winners, grouped
    * AR coefficients, anything shaped (series, key, value) with one row
    * per parameter. Unlike the driver-local codecs above, a per-series
    * model is DATA-SCALE (10⁶ series is normal), so save is a parquet
    * write and load is ONE scan: parameters never pass through the
    * driver. Values persist at full precision — doubles survive parquet
    * bit-exactly, so serving through a loaded frame matches serving at
    * fit time (the model_io_hw_forecast hash gate). */
  def saveSeriesModel(df: DataFrame, modelType: String, path: String): Unit =
    df.select(col("series").cast("string").as("series"),
        col("key").cast("string").as("key"),
        col("value").cast("double").as("value"),
        lit(modelType).as("model_type"))
      .write.mode("overwrite").parquet(path)

  /** Load a per-series model as a lazy scan. The type check is a
    * min/max-stat row-group probe (the file stores one constant
    * model_type), so a swapped path fails loudly at negligible cost
    * without collecting the model. */
  def loadSeriesModel(spark: SparkSession, path: String,
                      modelType: String): DataFrame = {
    val df = spark.read.parquet(path)
    val bad = df.filter(col("model_type") =!= modelType)
      .select("model_type").limit(1).collect()
    require(bad.isEmpty,
      s"ModelIO: expected model_type=$modelType, found ${bad.headOption.map(_.getString(0)).getOrElse("?")}")
    df.select("series", "key", "value")
  }

  // ----------------------------------------------------------- ALS factors

  /** Persist ALS factor matrices in long form (side, id, f, value) — the
    * factors are DATA-SCALE (one row per user/item per latent dim; 10⁸
    * users is normal), so like the per-series models save is a parquet
    * write and load is a lazy scan: factors never pass through the
    * driver. Float factors widen to double (exact) so the loaded serve
    * path computes the same dot products the in-memory model does up to
    * float-vs-double summation order (the model_io_als gate bounds it). */
  def saveALS(userFactors: DataFrame, itemFactors: DataFrame, path: String): Unit = {
    def long(df: DataFrame, side: String): DataFrame =
      df.select(lit(side).as("side"), col("id").cast("int").as("id"),
        posexplode(col("features")).as(Seq("f", "value")))
        .select(col("side"), col("id"), col("f").cast("int").as("f"),
          col("value").cast("double").as("value"), lit("als").as("model_type"))
    long(userFactors, "user").unionByName(long(itemFactors, "item"))
      .write.mode("overwrite").parquet(path)
  }

  /** Load the ALS factors as two lazy scans (user frame, item frame);
    * same constant-column model_type probe as loadSeriesModel. */
  def loadALS(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val df = spark.read.parquet(path)
    val bad = df.filter(col("model_type") =!= "als")
      .select("model_type").limit(1).collect()
    require(bad.isEmpty,
      s"ModelIO: expected model_type=als, found ${bad.headOption.map(_.getString(0)).getOrElse("?")}")
    (df.filter(col("side") === "user").select("id", "f", "value"),
      df.filter(col("side") === "item").select("id", "f", "value"))
  }

  // --------------------------------------------------------- dedup index

  /** Persist a MinHash LSH band-bucket index: the distinct (band, bkey)
    * rows of an ingested corpus (Dedup.bandRows). Like the per-series
    * models, the index is DATA-SCALE (one row per occupied bucket), so
    * save is a parquet write REPARTITIONED ON THE PROBE KEY — a later
    * shard's serve join shuffles only the shard side against the loaded
    * files (the IVF.writeBucketed discipline, neighbors/IVF.scala). */
  def saveDedupIndex(bands: DataFrame, path: String): Unit =
    bands.select(col("band").cast("int").as("band"),
        col("bkey").cast("string").as("bkey"),
        lit("minhash_lsh").as("model_type"))
      .repartition(col("band"), col("bkey"))
      .write.mode("overwrite").parquet(path)

  /** Load the band-bucket index as a lazy scan; the model_type probe is a
    * constant-column row-group check (loadSeriesModel pattern) — a swapped
    * path fails loudly without collecting the index. */
  def loadDedupIndex(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val bad = df.filter(col("model_type") =!= "minhash_lsh")
      .select("model_type").limit(1).collect()
    require(bad.isEmpty,
      s"ModelIO: expected model_type=minhash_lsh, found ${bad.headOption.map(_.getString(0)).getOrElse("?")}")
    df.select("band", "bkey")
  }

  // --------------------------------------------------------- scalar params

  /** Any scalar-parameter model (GLM fits, Holt-Winters state, scaler
    * stats): a named bag of doubles. `modelType` is verified on load like
    * every other codec, so a swapped path fails loudly instead of scoring
    * with another model's parameters. */
  def paramRows(modelType: String, params: Seq[(String, Double)]): Seq[ParamRow] =
    params.zipWithIndex.map { case ((k, v), idx) =>
      ParamRow(modelType, "param", idx.toLong, -1L, k, Some(v), None)
    }

  def saveParams(spark: SparkSession, modelType: String,
                 params: Seq[(String, Double)], path: String): Unit =
    save(spark, paramRows(modelType, params), path)

  def loadParams(spark: SparkSession, path: String,
                 modelType: String): Seq[(String, Double)] = {
    val rows = load(spark, path)
    expectType(rows, modelType)
    rows.filter(_.section == "param").sortBy(_.i)
      .map(r => r.key -> r.value.get)
  }
}
