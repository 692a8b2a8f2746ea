package graft.tools

import graft.core.Session
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev tool: run named queries to the noop sink under one
  * [[StageListener]] and print, per stage, wall clock, task count,
  * task-time sum, max and median task time with their ratio (a
  * single-task skew stage is named, not guessed), and shuffle-write and
  * input MB — the "which stage eats the time" question (guide §1.1)
  * answerable without the UI, which no graft session enables. A shutdown
  * hook prints the run in progress, tasks still in flight included, so a
  * `timeout`-killed run still reports the stage it was stuck in.
  * Usage: runMain graft.tools.StageProf <sfDir> <name1,name2,...> [runs]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local(Session.cpus)
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    Runtime.getRuntime.addShutdownHook(new Thread(() => report(listener)))

    names.foreach { n =>
      (1 to runs).foreach { r =>
        listener.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val el = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        Thread.sleep(200) // let stragglers' events drain
        println(f"[stageprof] $n run $r: $el%.2f s, ${listener.stages.size} stages")
        report(listener)
        listener.clear()
      }
    }
    spark.stop()
  }

  private def report(l: StageListener): Unit = {
    l.stages.take(90).foreach { s =>
      println(f"  stage ${s.id}%4d wall=${s.wallMs / 1000.0}%6.2f s tasks=${s.taskMs.size}%4d " +
        f"taskSum=${s.taskMs.sum / 1000.0}%7.2f s max=${s.maxMs}%6d ms med=${s.medianMs}%6d ms " +
        f"ratio=${s.skew}%5.1f shufWr=${s.shuffleWriteB / 1e6}%7.1f MB " +
        f"in=${s.inputB / 1e6}%7.1f MB  ${s.name.take(90)}")
    }
    l.inFlight.foreach { case (task, stage, ms) =>
      println(f"  IN-FLIGHT task $task stage $stage elapsed ${ms / 1e3}%.0f s")
    }
  }
}

/** One stage as [[StageListener]] saw it. `taskMs` holds the finished
  * tasks' durations, sorted; `wallMs` runs to now while the stage is open. */
final case class StageStats(id: Int, name: String, wallMs: Long, done: Boolean,
                            taskMs: Seq[Long], shuffleWriteB: Long, inputB: Long) {
  def maxMs: Long = taskMs.lastOption.getOrElse(0L)
  def medianMs: Long = if (taskMs.isEmpty) 0L else taskMs(taskMs.size / 2)
  def skew: Double = if (medianMs == 0) 0.0 else maxMs.toDouble / medianMs
}

/** The per-stage profiling listener: wall clock, every task's duration,
  * shuffle-write and input bytes per stage, and the tasks still running.
  * Stages submitted before it was attached (or cleared) are ignored. */
final class StageListener extends SparkListener {
  private final class Rec(val name: String, val submitted: Long) {
    var completed: Option[Long] = None
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleWriteB = 0L
    var inputB = 0L
  }
  private val recs = mutable.Map.empty[Int, Rec]
  private val running = mutable.Map.empty[Long, (Int, Long)] // task -> (stage, start ms)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    recs(i.stageId) = new Rec(i.name.takeWhile(_ != '\n'),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (recs.contains(e.stageId)) running(e.taskInfo.taskId) = (e.stageId, e.taskInfo.launchTime)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    running.remove(e.taskInfo.taskId)
    recs.get(e.stageId).foreach(_.taskMs += e.taskInfo.duration)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    recs.get(i.stageId).foreach { r =>
      r.completed = Some(i.completionTime.getOrElse(System.currentTimeMillis()))
      Option(i.taskMetrics).foreach { m =>
        r.shuffleWriteB = m.shuffleWriteMetrics.bytesWritten
        r.inputB = m.inputMetrics.bytesRead
      }
    }
  }

  def clear(): Unit = synchronized { recs.clear(); running.clear() }

  /** Every recorded stage, in stage-id order. */
  def stages: Seq[StageStats] = synchronized {
    val now = System.currentTimeMillis()
    recs.toSeq.sortBy(_._1).map { case (id, r) =>
      StageStats(id, r.name, r.completed.getOrElse(now) - r.submitted, r.completed.nonEmpty,
        r.taskMs.sorted.toSeq, r.shuffleWriteB, r.inputB)
    }
  }

  /** (task id, stage id, ms running), longest-running first. */
  def inFlight: Seq[(Long, Int, Long)] = synchronized {
    val now = System.currentTimeMillis()
    running.toSeq.map { case (t, (s, start)) => (t, s, now - start) }.sortBy(-_._3)
  }
}
