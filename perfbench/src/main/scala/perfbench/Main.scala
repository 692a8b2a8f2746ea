package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.core.FitCache
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, pretty, render}

/** Counters and timings of one pass. `stages`/`tasks`/`spans` carry the
  * per-span detail the traced passes are summarised from. */
final case class PassRec(p: Int, traced: Boolean, wall: Double, stages: Vector[StageRec],
                         tasks: Vector[(String, Double)], spans: Vector[Span], held: Double,
                         persisted: Int, hits: Long, misses: Long, load1: Double,
                         steal: Double, compiles: Long, out: Option[PassOut],
                         errors: Seq[String]) {
  def cpuS: Double = stages.map(_.cpuS).sum
  def shuffleMB: Double = stages.map(_.shuffleB).sum / 1e6
  def scanMB: Double = stages.map(_.inputB).sum / 1e6
  def knnQps: Double = out.flatMap(_.knn).map(k => k.answers / k.seconds).getOrElse(0.0)
  def recall: Double = out.flatMap(_.knn).map(_.recall).getOrElse(0.0)
  def scoreRate: Double = out.map(o => o.scoredRows / o.scoreS).getOrElse(0.0)
}

/** The benchmark's entry point for one run:
  * `--workload <curate|fit> --seed <n> --seconds <s> --trace <0|1> [--work <dir>]`.
  * Prints one JSON result line last on stdout and writes a full report
  * (every pass, its counters and the load average) under `<work>/results`. */
object Main {
  val Cores = 4
  val SetupRepeats = 3
  /** Steady passes that always run, whatever `--seconds` says, so every
    * steady figure is a median of at least three; the exact counters are
    * the median over exactly these, so they repeat per seed. */
  val MinSteady = 3
  val MaxSteady = 60

  val Modules = Seq("core", "text", "dedup", "linear", "cluster", "decomposition", "svm",
    "ensemble", "tsa", "neighbors", "io")
  val Families = Seq("call_s" -> "s", "plan_s" -> "s", "exec_s" -> "s", "gap_s" -> "s",
    "stages" -> "count", "task_s" -> "s", "par_eff" -> "ratio", "skew" -> "ratio",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")
  val CoreExtra = Seq("fitcache_hits" -> "count", "fitcache_misses" -> "count",
    "persisted_rdds" -> "count", "scan_mb" -> "MB", "held_mb" -> "MB",
    "codegen_compiles" -> "count")
  val TraceExtra = Seq("pass_s" -> "s", "untraced_pass_s" -> "s", "overhead_frac" -> "ratio")
  /** Whole-run figures too noisy on a shared 4-core host to gate with a
    * bound (their run-to-run spread is near 25 %); the traced run reports them. */
  val RunExtra = Seq("cold_setup_s" -> "s", "first_pass_s" -> "s", "knn_qps" -> "1/s",
    "score_rows_per_s" -> "rows/s")
  val EndToEnd = Seq("setup_s" -> "s", "pass_s" -> "s", "cpu_s" -> "s", "stages" -> "count",
    "shuffle_mb" -> "MB")
  val PerLayer: Seq[(String, String)] =
    Modules.flatMap(m => Families.map { case (f, u) => s"$m.$f" -> u }) ++
      CoreExtra.map { case (f, u) => s"core.$f" -> u } ++
      Seq("neighbors.recall_at_10" -> "ratio") ++
      TraceExtra.map { case (f, u) => s"trace.$f" -> u } ++
      RunExtra.map { case (f, u) => s"run.$f" -> u }


  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, total) CPU ticks since boot: the time the hypervisor gave this
    * machine's CPUs to other guests, which loadavg does not show. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Span wall minus the part of it covered by the span's own stages. */
  private def gap(s: Span, st: Seq[StageRec]): Double = {
    val iv = st.map(r => (math.max(r.start, s.start), math.min(r.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    math.max(0L, (s.end - s.start) - covered) / 1e3
  }

  /** The ten families of every module, for one traced pass. */
  private def layers(r: PassRec): Map[String, Double] = Modules.flatMap { m =>
    val spans = r.spans.filter(_.module == m)
    val ids = spans.map(_.id).toSet
    val st = r.stages.filter(s => ids(s.group))
    val tk = r.tasks.filter(t => ids(t._1)).map(_._2)
    val wall = spans.map(s => (s.end - s.start) / 1e3).sum
    val taskS = st.map(_.taskS).sum
    Seq(
      "call_s" -> spans.map(_.callS).sum,
      "plan_s" -> spans.map(_.planS).sum,
      "exec_s" -> spans.map(_.execS).sum,
      "gap_s" -> spans.map(s => gap(s, st.filter(_.group == s.id))).sum,
      "stages" -> st.length.toDouble,
      "task_s" -> taskS,
      "par_eff" -> (if (wall > 0) taskS / (wall * Cores) else 0.0),
      "skew" -> (if (tk.isEmpty) 0.0 else tk.max / math.max(median(tk), 1e-3)),
      "shuffle_mb" -> st.map(_.shuffleB).sum / 1e6,
      "spill_mb" -> st.map(_.spillB).sum / 1e6
    ).map { case (f, v) => s"$m.$f" -> v }
  }.toMap ++ Map(
    "core.fitcache_hits" -> r.hits.toDouble, "core.fitcache_misses" -> r.misses.toDouble,
    "core.persisted_rdds" -> r.persisted.toDouble, "core.scan_mb" -> r.scanMB,
    "core.held_mb" -> r.held, "core.codegen_compiles" -> r.compiles.toDouble,
    "neighbors.recall_at_10" -> r.recall)

  /** A JSON number; a ratio with nothing to divide (NaN) reads as 0. */
  private def num(v: Double): JValue = JDouble(if (v.isNaN || v.isInfinite) 0.0 else v)

  private def metricsJson(ms: Seq[(String, String)], v: Map[String, Double]): JObject =
    JObject(ms.map { case (n, u) => n -> (("value" -> num(v(n))) ~ ("unit" -> u)) }.toList)

  /** Output hashes per pass index, shared by every run of one seed in this
    * checkout: a traced and an untraced run of the same seed must agree. */
  private def crossCheck(path: File, recs: Seq[PassRec]): Seq[String] = {
    val mine = recs.flatMap(r => r.out.map(o => r.p -> o.hashes.mkString(","))).toMap
    val earlier =
      if (!path.exists()) Map.empty[Int, String]
      else new String(Files.readAllBytes(path.toPath), UTF_8).linesIterator
        .map(_.split(" ", 2)).collect { case Array(p, h) => p.toInt -> h }.toMap
    val errs = mine.toSeq.sortBy(_._1).collect {
      case (p, h) if earlier.get(p).exists(_ != h) =>
        s"pass $p: outputs differ from an earlier run with this seed"
    }
    path.getParentFile.mkdirs()
    Files.write(path.toPath, (earlier ++ mine).toSeq.sortBy(_._1)
      .map { case (p, h) => s"$p $h\n" }.mkString.getBytes(UTF_8))
    errs
  }

  /** `pass_s` of the untraced run of this workload, from its report in this
    * checkout: the same seed if there is one, else the latest; 0 if none. */
  private def untracedPassS(results: File, name: String, seed: Long): Double = {
    val reports = Option(results.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$name-s") && f.getName.endsWith("-t0.json"))
    val pick = reports.find(_.getName == s"$name-s$seed-t0.json")
      .orElse(reports.sortBy(_.lastModified()).lastOption)
    pick.flatMap { f =>
      parse(f) \ "result" \ "metrics" \ "pass_s" \ "value" match {
        case JDouble(v) => Some(v)
        case _ => None
      }
    }.getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts.getOrElse("work", "perfbench/work")
    val wl = Workload(name)
    val dir = new File(s"$work/data/$name-$seed").getAbsolutePath
    val scratch = new File(s"$work/scratch/$name").getAbsolutePath
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "breeze.optimize", org.apache.logging.log4j.Level.ERROR)

    // Inputs are written afresh by every run, so every run's JVM has done
    // the same work before set-up starts.
    deleteTree(new File(dir))
    val g0 = Workload.now()
    val gen = session(work)
    wl.generate(gen, dir, seed)
    stop(gen)
    val genS = Workload.now() - g0
    System.err.println(f"[perfbench] $name inputs generated in $genS%.3fs")
    var spark: SparkSession = null

    var rec: Recorder = null
    var tracer: Tracer = null
    val setupS = (0 until SetupRepeats).map { _ =>
      if (spark != null) stop(spark)
      FitCache.clear()
      val t0 = Workload.now()
      spark = session(work)
      rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      tracer = new Tracer(spark)
      wl.setup(spark, tracer, dir, scratch, seed)
      val s = Workload.now() - t0
      System.err.println(f"[perfbench] $name setup ${s}%.3fs")
      s
    }
    // the first set-up as seen from process start (JVM start, class loading),
    // less the harness's input generation
    val coldSetupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS - setupS.tail.sum
    val sc = spark.sparkContext
    Bus.drain(sc)
    rec.take()
    var attempted = tracer.take().length

    val recs = ArrayBuffer.empty[PassRec]
    // `--seconds` of steady passes, counted from the end of the cold one
    var deadline = Double.MaxValue
    var p = 0
    while (p <= MinSteady || (Workload.now() < deadline && p <= MaxSteady)) {
      val traced = trace && p > 0
      tracer.traced = traced
      rec.keepTasks = traced
      val before = sc.getPersistentRDDs.keySet
      val (h0, m0, _) = FitCache.stats
      val (st0, tt0) = cpuTicks()
      val c0 = Bus.compiles()
      val t0 = Workload.now()
      val out = try Right(wl.pass(spark, tracer, dir, scratch, seed, seed * 1000 + p))
        catch { case e: Exception => Left(e) }
      val wall = Workload.now() - t0
      val (st1, tt1) = cpuTicks()
      val compiles = Bus.compiles() - c0
      val steal = if (tt1 > tt0) (st1 - st0).toDouble / (tt1 - tt0) else 0.0
      tracer.traced = false
      rec.keepTasks = false
      Bus.drain(sc)
      val (stages, tasks) = rec.take()
      val spans = tracer.take()
      val (h1, m1, _) = FitCache.stats
      val fresh = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      val held = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum / 1e6
      val errors = out match {
        case Right(o) =>
          try o.verify() catch { case e: Exception => Seq(s"check failed: $e") }
        case Left(e) => Seq(s"pass failed: $e")
      }
      Bus.drain(sc)
      rec.take()
      // release what the pass left behind, so the next pass inherits nothing
      fresh.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      // every pass plans fresh inputs, so no memo may serve it
      val hitErr = if (h1 == h0) Nil else Seq(s"FitCache served ${h1 - h0} hits")
      val r = PassRec(p, traced, wall, stages, tasks, spans, held, fresh.size, h1 - h0,
        m1 - m0, loadavg(), steal, compiles, out.toOption, errors ++ hitErr)
      attempted += spans.length
      recs += r
      if (p == 0) deadline = Workload.now() + seconds
      val bySpan = if (!traced) "" else spans.map { s =>
        s"${s.module}.${s.op}:${stages.count(_.group == s.id)}"
      }.mkString(" stages-by-span=", ",", "")
      System.err.println(f"[perfbench] $name pass $p traced=$traced wall=${wall}%.3fs " +
        f"stages=${stages.length} shuffle=${r.shuffleMB}%.3fMB held=${held}%.3fMB " +
        f"hits=${r.hits} misses=${r.misses} loadavg=${r.load1} steal=${steal}%.3f compiles=$compiles$bySpan " +
        s"errors=${r.errors.mkString("; ")}")
      p += 1
    }

    val steady = recs.tail.toSeq
    val exactSet = steady.take(MinSteady)
    // A memo serving an earlier pass removes whole fits (tens of stages);
    // identical passes otherwise agree to within a couple of stages.
    val firstStages = recs.head.stages.length
    val gateErrs = recs.tail.filter(_.stages.length < firstStages * 0.95).map { r =>
      s"pass ${r.p} ran ${r.stages.length} stages against ${firstStages} in the first pass"
    }
    val crossErrs = crossCheck(new File(s"$work/hashes/$name-$seed.txt"), recs.toSeq)
    val errors = recs.flatMap(r => r.errors.map(e => s"pass ${r.p}: $e")) ++ gateErrs ++ crossErrs
    val failed = math.min(errors.length, attempted)

    val counters = Map(
      "stages" -> median(exactSet.map(_.stages.length.toDouble)),
      "shuffle_mb" -> median(exactSet.map(_.shuffleMB)),
      "recall_at_10" -> median(exactSet.map(_.recall)),
      "held_mb" -> median(exactSet.map(_.held)),
      "persisted_rdds" -> median(exactSet.map(_.persisted.toDouble)),
      "fitcache_hits" -> median(exactSet.map(_.hits.toDouble)),
      "fitcache_misses" -> median(exactSet.map(_.misses.toDouble)))
    val metrics: Seq[(String, String)] = if (trace) PerLayer else EndToEnd
    val values: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> median(setupS),
        "pass_s" -> median(steady.map(_.wall)),
        "cpu_s" -> median(steady.map(_.cpuS)),
        "stages" -> counters("stages"),
        "shuffle_mb" -> counters("shuffle_mb"))
      else {
        val per = steady.map(layers)
        val tp = median(steady.map(_.wall))
        val up = untracedPassS(new File(s"$work/results"), name, seed)
        val outs = steady.flatMap(_.out)
        val knns = outs.flatMap(_.knn)
        per.head.keys.map(k => k -> median(per.map(_(k)))).toMap ++ Map(
          "trace.pass_s" -> tp, "trace.untraced_pass_s" -> up,
          "trace.overhead_frac" -> (if (up > 0) tp / up - 1 else 0.0),
          "run.cold_setup_s" -> coldSetupS,
          "run.first_pass_s" -> recs.head.wall,
          // rates over all steady passes together: a pass's kNN and scoring
          // spans are short, so one pass's ratio is noisy
          "run.knn_qps" -> knns.map(_.answers).sum / knns.map(_.seconds).sum,
          "run.score_rows_per_s" -> outs.map(_.scoredRows).sum / outs.map(_.scoreS).sum)
      }

    val result = ("correct" -> (failed == 0)) ~ ("attempted" -> attempted) ~
      ("failed" -> failed) ~ ("metrics" -> metricsJson(metrics, values))
    val passesJson = recs.toList.map { r =>
      ("pass" -> r.p) ~ ("traced" -> r.traced) ~ ("wall_s" -> num(r.wall)) ~
        ("stages" -> r.stages.length) ~ ("cpu_s" -> num(r.cpuS)) ~
        ("shuffle_mb" -> num(r.shuffleMB)) ~ ("scan_mb" -> num(r.scanMB)) ~
        ("held_mb" -> num(r.held)) ~ ("persisted_rdds" -> r.persisted) ~
        ("fitcache_hits" -> r.hits) ~ ("fitcache_misses" -> r.misses) ~
        ("knn_qps" -> num(r.knnQps)) ~ ("recall_at_10" -> num(r.recall)) ~
        ("score_rows_per_s" -> num(r.scoreRate)) ~ ("loadavg_1m" -> num(r.load1)) ~
        ("steal_frac" -> num(r.steal)) ~ ("codegen_compiles" -> r.compiles) ~
        ("errors" -> r.errors.toList)
    }
    val report = ("workload" -> name) ~ ("seed" -> seed) ~ ("trace" -> (if (trace) 1 else 0)) ~
      ("cores" -> Cores) ~ ("cold_setup_s" -> num(coldSetupS)) ~
      ("setup_s" -> JArray(setupS.toList.map(num))) ~
      ("counters" -> JObject(counters.toList.sortBy(_._1).map { case (k, v) => k -> num(v) })) ~
      ("passes" -> passesJson) ~ ("errors" -> errors.toList) ~ ("result" -> result)
    val results = new File(s"$work/results")
    results.mkdirs()
    Files.write(new File(results, s"$name-s$seed-t${if (trace) 1 else 0}.json").toPath,
      (pretty(render(report)) + "\n").getBytes(UTF_8))
    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    stop(spark)
    deleteTree(new File(scratch))
    deleteTree(new File(dir))
    println(compact(render(result)))
  }
}
