package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The library fits its own estimators: no source under src/main refers to
  * MLlib's classifiers, regressors or feature transformers, or to the RDD
  * API `org.apache.spark.mllib`. ALS (`ml.recommendation`) is the one
  * MLlib estimator left. */
class ImportGuardSpec extends AnyFunSuite {
  private val banned =
    """org\.apache\.spark\.(mllib\b|ml\.(classification|regression|feature)\b|ml\.\{[^}]*\b(classification|regression|feature)\b)""".r

  private def sources(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("no src/main source refers to MLlib's classification, regression, feature or mllib") {
    val files = sources(new File("src/main/scala"))
    assert(files.size > 50, s"found ${files.size} sources under src/main/scala")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the guard sees every form of the banned references") {
    for (line <- Seq("import org.apache.spark.mllib.linalg.Vectors",
                     "import org.apache.spark.ml.feature.VectorAssembler",
                     "import org.apache.spark.ml.{classification, linalg}",
                     "new org.apache.spark.ml.regression.RandomForestRegressor()"))
      assert(banned.findFirstIn(line).isDefined, line)
    assert(banned.findFirstIn("import org.apache.spark.ml.recommendation.ALS").isEmpty)
  }
}
