package graft.tools

import graft.core.Session

/** Dev tool: dump `.explain("formatted")` for named queries to files.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <name1,name2,...> <outDir> [suffix]
  * Writes <outDir>/<name>_<suffix>.txt (suffix defaults to "before").
  * The session is Bench's ([[Session.local]]), so the captured plan is the
  * benched plan. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args(2)
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = Session.local(Session.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[explain] wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"[explain] $n FAILED: $e")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
