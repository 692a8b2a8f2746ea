package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A MinHash dedup call leaves no storage behind once its result is
  * collected: the band rows, the candidate pairs and the decontamination
  * counts are all computed without a cache. */
class DedupStorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def leavesNothing(name: String)(result: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(result.collect().nonEmpty, s"$name returned no rows")
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"$name left persisted RDDs ${added.mkString(", ")}")
  }

  // a fresh corpus per test, so no test sees storage an earlier one made
  private def docs(seed: Long): DataFrame =
    graft.tools.MakeOrganicSF.documents(spark, 400L, seed)

  test("bandRows leaves no persisted RDD") {
    leavesNothing("bandRows")(Dedup.bandRows(docs(11L), "text", "doc_id"))
  }

  test("minhashCandidates leaves no persisted RDD") {
    leavesNothing("minhashCandidates")(Dedup.minhashCandidates(docs(12L), "text", "doc_id"))
  }

  test("benchmarkOverlap leaves no persisted RDD") {
    val corpus = docs(13L)
    val held = corpus.filter(col("doc_id") % 50 === 0)
    leavesNothing("benchmarkOverlap")(Dedup.benchmarkOverlap(corpus, held, "text", "doc_id"))
  }
}
