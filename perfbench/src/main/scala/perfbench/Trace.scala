package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One completed stage: the span (job group) that submitted it, its
  * interval on the driver clock, and its task totals. */
final case class StageRec(group: String, start: Long, end: Long, taskS: Double,
                          cpuS: Double, shuffleB: Long, spillB: Long, inputB: Long)

/** The benchmark's SparkListener. Jobs carry the job group the harness set
  * around a span, so each stage is attributed to the span that submitted
  * it. Task run times are kept only while tracing (they feed `skew`). */
final class Recorder extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[(String, Double)]()
  @volatile var keepTasks = false

  private def groupOf(stageId: Int): String = stageGroup.getOrDefault(stageId, "")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(groupOf(i.stageId), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (keepTasks && e.taskMetrics != null)
      tasks.add((groupOf(e.stageId), e.taskMetrics.executorRunTime / 1e3))

  /** Everything recorded since the last drain. */
  def take(): (Vector[StageRec], Vector[(String, Double)]) = {
    def pull[T](q: ConcurrentLinkedQueue[T]): Vector[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    (pull(stages), pull(tasks))
  }
}

/** One call into a graft module, split into the public call itself, the
  * physical planning of the frame it returned, and the action that forces
  * that frame. */
final case class Span(id: String, module: String, op: String, start: Long, end: Long,
                      callS: Double, planS: Double, execS: Double)

/** A frame a span returned, and the rows its forcing action collected. */
final case class Forced(df: DataFrame, rows: Array[Row]) {
  def hash: Long = Tracer.hash(rows.toSeq)
}

/** Times calls into graft's public API from outside. With `traced` set,
  * every span runs under its own job group so the listener can attribute
  * Spark stages to it; untraced spans keep only their own timers. */
final class Tracer(spark: SparkSession) {
  @volatile var traced = false
  private var n = 0
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private def now(): Double = System.nanoTime() / 1e9

  private def open(): String = {
    n += 1
    val id = s"pb$n"
    if (traced) spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
    id
  }

  private def close(id: String, module: String, op: String, t0: Long,
                    c: Double, p: Double, x: Double): Unit = {
    if (traced) spark.sparkContext.clearJobGroup()
    spans += Span(id, module, op, t0, System.currentTimeMillis(), c, p, x)
  }

  /** A call whose result is a driver-side value (a fitted model, a count). */
  def value[T](module: String, op: String)(call: => T): T = {
    val id = open()
    val t0 = System.currentTimeMillis()
    val a = now()
    try call
    finally close(id, module, op, t0, now() - a, 0.0, 0.0)
  }

  /** A call that returns a frame: time the call, then the physical planning
    * of the frame it returned, then the action that forces it (a collect,
    * which reuses that plan). Returns the frame and its collected rows. */
  def frame(module: String, op: String)(call: => DataFrame): Forced = {
    val id = open()
    val t0 = System.currentTimeMillis()
    val a = now()
    var (c, p, x) = (0.0, 0.0, 0.0)
    try {
      val df = call
      val b = now(); c = b - a
      df.queryExecution.executedPlan
      val d = now(); p = d - b
      val rows = df.collect()
      x = now() - d
      Forced(df, rows)
    } finally close(id, module, op, t0, c, p, x)
  }

  /** A call whose frame is forced by writing it, as a pipeline stage that
    * hands its output to the next one does. */
  def write(module: String, op: String, path: String)(call: => DataFrame): Unit = {
    val id = open()
    val t0 = System.currentTimeMillis()
    val a = now()
    var (c, p, x) = (0.0, 0.0, 0.0)
    try {
      val df = call
      val b = now(); c = b - a
      df.queryExecution.executedPlan
      val d = now(); p = d - b
      df.write.mode("overwrite").parquet(path)
      x = now() - d
    } finally close(id, module, op, t0, c, p, x)
  }

  def take(): Vector[Span] = { val s = spans.toVector; spans.clear(); s }
}

object Tracer {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Doubles hash at 9 significant digits, so a last-ulp difference in a
    * floating sum does not read as a different answer. */
  private def dbl(v: Double): Long =
    if (v.isNaN || v.isInfinite || v == 0.0) java.lang.Double.doubleToLongBits(v)
    else java.lang.Double.doubleToLongBits(
      BigDecimal(v).round(new java.math.MathContext(9)).toDouble)

  private def value(v: Any): Long = v match {
    case null => 0L
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case n: Long => n
    case n: Int => n.toLong
    case n: Short => n.toLong
    case n: Byte => n.toLong
    case b: Boolean => if (b) 1L else 2L
    case s: String => s.hashCode.toLong
    case xs: scala.collection.Seq[_] => xs.foldLeft(7L)((h, x) => mix(h * 31 + value(x)))
    case r: Row => row(r)
    case other => other.toString.hashCode.toLong
  }

  private def row(r: Row): Long = (0 until r.length).foldLeft(17L)((h, i) => mix(h * 31 + value(r.get(i))))

  /** Order-independent hash of a frame's collected rows. */
  def hash(rows: Seq[Row]): Long = mix(rows.foldLeft(0L)((a, r) => a + row(r)) ^ rows.length)
}
