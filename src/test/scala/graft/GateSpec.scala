package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.BooleanType
import org.scalatest.funsuite.AnyFunSuite

/** The r11 partial hash gates reduce each seeded/iterative estimator to
  * SQL-exact counts plus invariant booleans. The DuckDB oracle pins the
  * booleans to TRUE at the driver's sf0.01; this spec pins them at
  * sf0.001 too, so a floor that only holds at one scale fails loudly in
  * `sbt test` before the driver ever sees it. */
class GateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private val gated = Seq(
    "logreg", "logreg_multi", "qn_logreg", "qn_logreg_l1",
    "mbsgd_classifier", "mbsgd_regressor", "kmeans",
    "rf_classifier", "rf_importance", "rf_regressor", "fil_inference",
    "svm_linear", "svm_rbf", "svm_rbf_exact",
    "pca", "tsvd", "pca_inverse",
    "umap_layout", "umap_transform", "tsne_layout",
    "dbscan", "dbscan_3d", "dbscan_predict")

  for (name <- gated) test(s"$name gate: every invariant boolean holds at sf0.001") {
    val df = SparkEntry.queries(name)(spark, sf)
    // "clustered"/"assigned" are grouping DIMENSIONS (false = the noise /
    // unassigned group), not invariants
    val dims = Set("clustered", "assigned")
    val boolCols = df.schema.fields
      .filter(f => f.dataType == BooleanType && !dims(f.name)).map(_.name)
    // dbscan_predict's gate is fully exact (assigned/unassigned counts) —
    // no invariant booleans to pin there
    assert(boolCols.nonEmpty || name == "dbscan_predict",
      s"$name gate has no invariant booleans")
    val rows = df.collect()
    assert(rows.nonEmpty, s"$name gate returned no rows")
    for (r <- rows; c <- boolCols) {
      val v = r.getAs[Boolean](c)
      assert(v, s"$name gate invariant $c is FALSE in row $r")
    }
  }
}
