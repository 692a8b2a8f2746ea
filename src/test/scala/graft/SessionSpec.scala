package graft

import graft.core.Session
import org.scalatest.funsuite.AnyFunSuite

/** The one session configuration every entry point runs. */
class SessionSpec extends AnyFunSuite {
  test("Session.local(4) is local[4] with 4 shuffle partitions, UTC, nanosAsLong, no UI, AQE on") {
    val spark = Session.local(4)
    assert(spark eq SparkTestSession.spark)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
