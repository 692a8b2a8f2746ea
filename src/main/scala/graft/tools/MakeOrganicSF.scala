package graft.tools

import graft.core.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORGANIC (non-replicated) documents/embeddings generator — the r12
  * verdict's missing scale point for the near-dup family. [[MakeSF]]
  * union-replicates sf0.1 N×, which inflates TRUE near-dup pair mass
  * ~N² (every replica matches every other replica of its base), so the
  * family's measured superlinearity was duplicate-density, not plan
  * shape. This generator draws FRESH content at any size with the same
  * md5-derived determinism as the driver's tables (TESTDATA.md
  * discipline: every value a pure function of (seed, id, position)), and
  * plants a FIXED-RATE duplicate structure — ~2% near-dup documents
  * (one-token edit of a base doc), ~0.2% exact dups, ~1% near-dup
  * vectors — so pair mass grows LINEARLY with n, the organic regime.
  *
  * Usage: runMain graft.tools.MakeOrganicSF <outDir> <nDocs> <nVecs> [seed]
  * Writes <outDir>/documents.parquet and <outDir>/embeddings.parquet with
  * the driver tables' exact schemas (doc_id/text/lang/source/n_chars;
  * vec_id/embedding FLOAT[64]/label).
  */
object MakeOrganicSF {
  // same flavor as the driver corpus vocabulary (TESTDATA documents)
  private val Vocab = Seq(
    "spark", "query", "table", "column", "line", "part", "order", "scan",
    "sort", "hash", "join", "group", "filter", "value", "key", "batch",
    "stream", "window", "agg", "fast", "slow", "small", "large", "vector",
    "customer", "the", "a", "plan", "stage", "shuffle", "merge", "cache")
  private val Langs = Seq("en", "de", "fr", "es", "zh")
  private val NSources = 20

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MakeOrganicSF <outDir> <nDocs> <nVecs> [seed]")
    val out = args(0); val nDocs = args(1).toLong; val nVecs = args(2).toLong
    val seed = if (args.length > 3) args(3).toLong else 42L
    val spark = Session.local(Session.cpus)
    documents(spark, nDocs, seed).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    embeddings(spark, nVecs, seed).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    println(s"""{"made":"$out","n_docs":$nDocs,"n_vecs":$nVecs,"seed":$seed}""")
    spark.stop()
  }

  /** md5-derived positive long of any column-expression key. */
  private def h(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    abs(conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long"))

  /** One token from a Zipf-flavored vocabulary: 40% from the 32-word
    * common head, 60% from an 8192-token synthetic tail. r14 fix: with
    * the 32-word-ONLY vocabulary, random docs shared most of their
    * shingles and organic LSH band collisions grew ~quadratically — a
    * generator artifact real corpora (vocab ≥ 10⁴) don't exhibit, which
    * masked the operators' true scale curves. */
  private def word(hc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(hc % 5 < 2, element_at(array(Vocab.map(lit): _*),
        ((hc / 5) % Vocab.size).cast("int") + 1))
      .otherwise(concat(lit("w"), (hc / 5) % 8192))

  /** The word array of doc `id` — pure column function, so a near-dup row
    * can regenerate its BASE doc's tokens without a join. */
  private def tokens(id: org.apache.spark.sql.Column, seed: Long) = {
    val len = (h(concat(lit(s"og_${seed}_len_"), id)) % 110 + 12).cast("int")
    transform(sequence(lit(0), len - 1), i =>
      word(h(concat(lit(s"og_${seed}_w_"), id, lit("_"), i))))
  }

  /** With debug = true, two extra columns expose the planted structure
    * for the generator-invariant specs (verdict r14 #3): `_kind` in
    * (organic | near | exact) and `_base` (the base doc id a dup copies;
    * = doc_id for organics). */
  def documents(spark: SparkSession, n: Long, seed: Long, debug: Boolean): DataFrame = {
    val ids = spark.range(0, n, 1, 32).select(col("id").as("doc_id"))
    val cls = h(concat(lit(s"og_${seed}_cls_"), col("doc_id"))) % 1000
    // ~2% near-dup (one-token edit of base), ~0.2% exact dup of base;
    // base = an earlier ORGANIC doc, spread across the id range so LSH
    // buckets see dups everywhere. A dup row regenerates its base's
    // PRE-edit tokens, so the base must be guaranteed organic (stored
    // text = generated text): ids < 100 are never edited, and cls >= 22
    // ids are organic — redraw up to 3× on collision (advice r13; the
    // residual 0.0022³ ≈ 1e-8 falls back to self = organic)
    def clsOf(id: org.apache.spark.sql.Column) =
      h(concat(lit(s"og_${seed}_cls_"), id)) % 1000
    def draw(salt: String) =
      pmod(h(concat(lit(s"og_${seed}_b${salt}_"), col("doc_id"))), col("doc_id") - 50) + 22
    def organicId(b: org.apache.spark.sql.Column) = b < 100 || clsOf(b) >= 22
    val (b0, b1, b2) = (draw(""), draw("r2"), draw("r3"))
    val base = when(col("doc_id") < 100, col("doc_id"))
      .otherwise(when(organicId(b0), b0).when(organicId(b1), b1)
        .when(organicId(b2), b2).otherwise(col("doc_id")))
    val isNear = cls < 20 && col("doc_id") >= 100
    val isExact = cls >= 20 && cls < 22 && col("doc_id") >= 100
    val srcId = when(isNear || isExact, base).otherwise(col("doc_id"))
    val toks = tokens(srcId, seed)
    // the near-dup edit: replace one md5-chosen position with one
    // md5-chosen vocab word (may no-op at the word-collision rate)
    val editPos = (h(concat(lit(s"og_${seed}_ep_"), col("doc_id"))) % size(toks)).cast("int")
    val editWord = word(h(concat(lit(s"og_${seed}_ew_"), col("doc_id"))))
    val edited = transform(toks, (w, i) => when(isNear && i === editPos, editWord).otherwise(w))
    val text = array_join(edited, " ")
    val outCols = ids.select(col("doc_id"), text.as("text"),
        element_at(array(Langs.map(lit): _*),
          (h(concat(lit(s"og_${seed}_lang_"), srcId)) % Langs.size).cast("int") + 1).as("lang"),
        concat(lit("src"), h(concat(lit(s"og_${seed}_src_"), srcId)) % NSources).as("source"),
        when(isNear, lit("near")).when(isExact, lit("exact"))
          .otherwise(lit("organic")).as("_kind"),
        base.as("_base"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    if (debug) outCols
    else outCols.drop("_kind", "_base")
  }

  /** Production signature (parquet schema = the driver tables'). */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame =
    documents(spark, n, seed, debug = false)

  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val ids = spark.range(0, n, 1, 32).select(col("id").as("vec_id"))
    val cls = h(concat(lit(s"og_${seed}_vcls_"), col("vec_id"))) % 1000
    val isNear = cls < 10 && col("vec_id") >= 100 // ~1% near-dup vectors
    // same organic-base guarantee as documents(): a near-dup vector adds
    // ±0.001 to its base's STORED point, so the base itself must not be a
    // near-dup (ids < 100 or vcls >= 10) — redraw up to 3× on collision
    def vclsOf(id: org.apache.spark.sql.Column) =
      h(concat(lit(s"og_${seed}_vcls_"), id)) % 1000
    def vdraw(salt: String) =
      pmod(h(concat(lit(s"og_${seed}_vb${salt}_"), col("vec_id"))), col("vec_id") - 50) + 10
    def organicVec(b: org.apache.spark.sql.Column) = b < 100 || vclsOf(b) >= 10
    val (b0, b1, b2) = (vdraw(""), vdraw("r2"), vdraw("r3"))
    val base = when(col("vec_id") < 100, col("vec_id"))
      .otherwise(when(organicVec(b0), b0).when(organicVec(b1), b1)
        .when(organicVec(b2), b2).otherwise(col("vec_id")))
    val srcId = when(isNear, base).otherwise(col("vec_id"))
    val label = (h(concat(lit(s"og_${seed}_lb_"), srcId)) % 10).cast("int")
    // label-centered cloud: center ~U(-1,1) per (label, dim), point =
    // center + U(-0.6, 0.6) noise; near-dups add ±0.001 to the base point
    def u(tag: String, k: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
      (h(concat(lit(s"og_${seed}_${tag}_"), k, lit("_"), j)) % 2000001).cast("double") / 1000000.0 - 1.0
    val emb = transform(sequence(lit(0), lit(63)), j =>
      (u("c", label.cast("long"), j) + u("nz", srcId, j) * 0.6 +
        when(isNear, u("eps", col("vec_id"), j) * 0.001).otherwise(0.0)).cast("float"))
    ids.select(col("vec_id"), emb.as("embedding"), label.as("label"))
  }
}
