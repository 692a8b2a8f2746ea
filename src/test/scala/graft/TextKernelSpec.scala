package graft

import graft.core.Num.r4
import graft.core.Tables
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The text kernel ([[graft.functions.TextKernel]]) against the expression
  * trees it replaced, kept here as references: quality score, features,
  * language ID, token counts and k-shingles, bit for bit on the sf0.01
  * documents and on edge strings; and the null / empty-text policy. */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The former `filter`/`transform` formulations. */
  private object Ref {
    def toks(t: Column): Column = split(t, " ")
    def countIn(ts: Column, words: Seq[String]): Column =
      size(filter(ts, t => words.map(w => t === lit(w)).reduce(_ || _)))
    def langId(t: Column): Column = {
      val scores = TextOps.LangMarkers.map { case (l, ws) => (l, countIn(toks(t), ws)) }
      val best = greatest(scores.map(_._2): _*)
      scores.foldRight(lit("und")) { case ((l, s), acc) =>
        when(s === best && best > 0, lit(l)).otherwise(acc)
      }
    }
    def features(t: Column): Seq[Column] = {
      val nTok = size(toks(t)).cast("double")
      val nChars = length(t).cast("double")
      val alpha = length(regexp_replace(t, "[^a-z]", "")).cast("double")
      val uniq = size(array_distinct(toks(t))).cast("double")
      val stop = countIn(toks(t), TextOps.EnStop).cast("double")
      Seq(nTok.cast("long"), r4(nChars / nTok), r4(alpha / nChars), r4(uniq / nTok),
        r4(stop / nTok),
        r4(least(lit(1.0), (uniq / nTok) * 0.5 + (alpha / nChars) * 0.3 +
          least(stop / nTok * 5.0, lit(1.0)) * 0.2)))
    }
    def tokenCounts(t: Column): Seq[Column] = Seq(
      size(toks(t)).cast("long"),
      size(array_distinct(toks(t))).cast("long"),
      size(regexp_extract_all(t, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
    def shingles(ts: Column, k: Int): Column =
      when(size(ts) >= k,
        transform(sequence(lit(0), size(ts) - k),
          i => concat_ws("_", (0 until k).map(j => element_at(ts, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))
  }

  private val edges = Seq(
    "plain words the end", "double  spaces  here", "  leading spaces", "trailing spaces  ",
    " ", "  ", "a", "x y", "UPPER Case The AND the", "digits 123 abc456def 7 0x1F",
    "naïve café über straße déjà-vu", "emoji 😀 here 😀😀 x😀y", "tab\tand\nnewline",
    "the a and of to in is", "el la los de y", "der die und das ist", "le les et un est",
    "de5 shi4 le5 wo3 ni3", "el der", "der le", "the el", "le5 le", "the der le el de5",
    "the the el el der der", "de la de la", "punct, marks! (here) --- ...", "a_b c_d _ __",
    "repeat repeat repeat", "ÀÉÎ õü ß 中文 字", "mixed9case Abc9def")

  private def edgeFrame: DataFrame = {
    import spark.implicits._
    edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def frames: Seq[(String, DataFrame)] = Seq(
    "sf0.01" -> Tables.documents(spark, "/root/testdata/sf0.01").select("doc_id", "text"),
    "edges" -> edgeFrame)

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  test("quality features, quality score and language ID equal the filter formulation") {
    for ((name, df) <- frames) {
      val got = rows(TextOps.qualityFeatures(df, "text", "doc_id")
        .join(df.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q2"),
          TextOps.langIdScore(col("text")).as("lang")), "doc_id"))
      val want = rows(df.select(col("doc_id") +: Ref.features(col("text")) :+
        Ref.features(col("text")).last :+ Ref.langId(col("text")): _*))
      assert(got.size == want.size && got.nonEmpty, name)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$name: $g vs $w") }
    }
  }

  test("token counts equal the split / array_distinct / regexp_extract_all formulation") {
    for ((name, df) <- frames) {
      val got = rows(TextOps.tokenCounts(df, "text", "doc_id"))
      val want = rows(df.select(col("doc_id") +: Ref.tokenCounts(col("text")): _*))
      assert(got.size == want.size && got.nonEmpty, name)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$name: $g vs $w") }
    }
  }

  test("shingles equal the transform formulation for k = 1..5, short documents included") {
    for ((name, df) <- frames; k <- 1 to 5) {
      val t = split(col("text"), " ")
      val got = rows(df.select(col("doc_id"), TextOps.shingles(t, k)))
      val want = rows(df.select(col("doc_id"), Ref.shingles(t, k)))
      assert(got == want, s"$name k=$k")
    }
    // null elements are skipped as concat_ws skips them
    val withNull = array(lit("a"), lit(null).cast("string"), lit(""), lit("d"))
    for (k <- 1 to 5) assert(rows(edgeFrame.limit(1).select(col("doc_id"),
      TextOps.shingles(withNull, k))) == rows(edgeFrame.limit(1).select(col("doc_id"),
      Ref.shingles(withNull, k))), s"null element k=$k")
    // a document shorter than k has none
    val short = rows(edgeFrame.filter(col("text") === "x y")
      .select(col("doc_id"), size(TextOps.shingles(split(col("text"), " "), 3))))
    assert(short.map(_.getInt(1)) == Seq(0))
  }

  test("null and empty text: null quality, und language, today's counts") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
    val f = rows(TextOps.qualityFeatures(df, "text", "doc_id"))
    assert(f(0) == Row(1L, null, null, null, null, null, null))
    assert(f(1) == Row(2L, 1L, 0.0, null, 1.0, 0.0, null))
    val s = rows(df.select(col("doc_id"), TextOps.qualityScore(col("text")),
      TextOps.langIdScore(col("text"))))
    assert(s == Seq(Row(1L, null, "und"), Row(2L, null, "und")))
    val c = rows(TextOps.tokenCounts(df, "text", "doc_id"))
    assert(c == Seq(Row(1L, null, null, null), Row(2L, 1L, 1L, 0L)))
    val sh = rows(df.select(col("doc_id"), TextOps.shingles(split(col("text"), " "), 1)))
    assert(sh.map(_.getSeq[String](1)) == Seq(Seq.empty, Seq("")))
    // a null document no longer passes a quality filter
    assert(df.select(TextOps.qualityScore(col("text")).as("q")).filter(col("q") > 0.4).isEmpty)
  }
}
