package graft

import graft.tools.StageListener
import org.scalatest.funsuite.AnyFunSuite

/** StageProf's listener on a job whose shape is known in advance. */
class StageListenerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("an 8-partition range job is one stage of 8 tasks with no shuffle write") {
    val sc = spark.sparkContext
    val listener = new StageListener
    sc.addSparkListener(listener)
    try {
      spark.range(0, 1000, 1, 8).write.format("noop").mode("overwrite").save()
      // listener events arrive asynchronously; the stage's task ends come
      // before its completion, so a completed stage is a complete record
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!listener.stages.exists(_.done) && System.nanoTime() < deadline) Thread.sleep(20)
      val stages = listener.stages
      assert(stages.size == 1, stages.mkString("\n"))
      val s = stages.head
      assert(s.done)
      assert(s.taskMs.size == 8)
      assert(s.maxMs >= s.medianMs)
      assert(s.shuffleWriteB == 0L)
    } finally sc.removeSparkListener(listener)
  }
}
