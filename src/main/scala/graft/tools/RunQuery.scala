package graft.tools

import graft.core.Session

/** Dev tool: run named queries once and print timing + row count. The
  * timed action is Bench's noop sink (a timed count() would let Catalyst
  * prune the projected work); rows are counted afterwards, untimed.
  * Usage: runMain graft.tools.RunQuery <sfDir> <name1,name2,...> [show] */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val show = args.length > 2 && args(2) == "show"
    val spark = Session.local(Session.cpus)
    names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val el = (System.nanoTime() - t0) / 1e9
        println(f"[runquery] $n%-22s $el%7.2f s  ${df.count()} rows")
        if (show) df.show(30, truncate = false)
      } catch {
        case e: Throwable =>
          println(s"[runquery] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
