package graft
import graft.core.Session
object Bench {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SF_DIR may be a comma-separated list (r12 verdict #9 —
    // one bench artifact per round with BOTH scale points): each dir runs
    // the full protocol in the SAME session, per-dir summary lines go to
    // stdout, and the out FILE carries one object per scale point. A
    // single dir keeps the exact legacy single-object shape (the driver's
    // invocation).
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = math.max(sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt, 1)
    val spark = Session.local(Session.cpus)
    // noop sink: forces full materialization of every output column — a
    // bare count() lets Catalyst prune the actual operator work away.
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (local iteration).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"BENCH WARN: SPARK_GRAFT_ONLY names match no query: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

    // Previous round's per-query minima (same out file, read BEFORE this
    // run overwrites it): lets the bench SELF-CLASSIFY co-tenant phantoms
    // — any query whose warm time jumps >2x with no code change gets
    // extra controlled reruns IN-BAND instead of burning a builder+judge
    // cycle next round (r13 verdict #8; r12 and r13 each lost one cycle
    // to exactly this). Jackson ships with Spark (public dependency).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_QUERIES.json")
    def prevTimes: Map[String, Map[String, Double]] = try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(new java.io.File(outPath))
      def qmap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] = {
        val q = node.get("queries")
        if (q == null) Map.empty
        else {
          val it = q.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        }
      }
      val sp = root.get("scale_points")
      if (sp != null) {
        val it = sp.fields()
        val b = Map.newBuilder[String, Map[String, Double]]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> qmap(e.getValue) }
        b.result()
      } else {
        val sf = Option(root.get("sf")).map(_.asText()).getOrElse(sfDirs.head)
        Map(sf -> qmap(root))
      }
    } catch { case _: Throwable => Map.empty }
    val prev = prevTimes
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    /** Full protocol for one sf dir → the per-scale-point JSON object. */
    def runDir(sfDir: String): String = {
      // warm up the session on THIS dir (JVM/codegen/parquet-footer costs
      // otherwise land on whichever query happens to run first; per-dir
      // warmup per advice r13 — previously only sfDirs.head was warmed)
      try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      // FitCache counters are process-cumulative: snapshot so this dir's
      // summary reports ITS deltas, not the prior dirs' (advice r13)
      val (fcHits0, fcMisses0, _) = graft.core.FitCache.stats
      val prevQ = prev.getOrElse(sfDir, Map.empty)
      // each query runs `runs` times; the per-query time is the MIN (sandbox
      // load noise inflates single runs by 2-4x — see the round-2 bench)
      val perRun = selected.map { case (name, fn) =>
        def once(): (Boolean, Double) = {
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case t: Throwable => System.err.println(s"BENCH FAIL $name: $t"); false }
          (ok, (System.nanoTime() - t0) / 1e9)
        }
        val timed0 = (1 to runs).map(_ => once())
        // self-classifying rerun: min-of-runs > 2x last round's committed
        // min (and above the 0.25 s floor where scheduler jitter dominates)
        // → up to 2 extra runs now, at recorded loadavg, so the artifact
        // itself says whether the jump reproduces under retry
        val firstMin = timed0.collect { case (true, s) => s }.minOption
        val extra = prevQ.get(name) match {
          case Some(p) if p > 0 && firstMin.exists(m => m > 2 * p && m > 0.25) =>
            (1 to 2).map(_ => once())
          case _ => Seq.empty
        }
        val timed = timed0 ++ extra
        // drop this query's SQL-cached frames before the next query runs:
        // per-query times must not depend on how much storage memory the
        // queries that happened to run earlier left behind (r12's final
        // bench flagged two 10x "regressions" that were environmental —
        // isolation keeps the attribution clean; FitCache models and
        // persisted RDDs are driver-local / RDD-level and unaffected)
        spark.catalog.clearCache()
        name -> ((timed, loadavg, extra.size))
      }
      val results = perRun.map { case (name, (timed, _, _)) =>
        val okTimes = timed.collect { case (true, s) => s }
        // a query that failed every run reports NEGATED min elapsed so the
        // json can never mistake a crash-at-start for a fast query
        name -> (if (okTimes.nonEmpty) okTimes.min else -timed.map(_._2).min)
      }
      val failed = results.collect { case (n, v) if v < 0 => n }.toSeq.sorted
      // failed queries are excluded from total (listed separately)
      val total = results.values.filter(_ >= 0).sum
      // COLD total = run-1 sum. With FitCache, min-of-N is the WARM serve
      // path (every memoized fit costs ~0 from run 2 on), so the min total
      // alone would silently drop all fit cost from cross-round comparisons
      // (r10 verdict finding). Both totals are reported side by side.
      val totalCold = perRun.values.collect {
        case (timed, _, _) if timed.head._1 => timed.head._2 }.sum
      // per-dir DELTAS of the cumulative counters (live is a gauge)
      val (fcHits, fcMisses, fcLive) = graft.core.FitCache.stats
      val fcJson = s""""fitcache":{"hits":${fcHits - fcHits0},"misses":${fcMisses - fcMisses0},"live":$fcLive}"""
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      // 1-minute system load average: past rounds' reported numbers were
      // 3-5x inflated by sandbox co-tenants — record the evidence in-band
      val load = loadavg
      // Per-query telemetry, three redundant forms (the driver records only
      // the TAIL of stdout — one 249-entry line loses its head to the
      // capture window, which through r9 blinded cross-round per-query
      // regression tracking for ~190 queries):
      //  1. FULL-precision single JSON object written to a file inside the
      //     repo (driver commits uncommitted work at round end, so the full
      //     map survives even when stdout doesn't);
      //  2. stdout CHUNKS of 50 sorted keys, each line a complete JSON
      //     object tagged "line":"chunk" — whatever the tail keeps parses,
      //     and sorted keys make the surviving suffix deterministic;
      //  3. the short "line":"summary" totals line LAST (closest to the
      //     tail boundary, so it always survives whole).
      // Every line carries a "line" discriminator so a consumer grepping
      // "metric":"total" can select exactly one record (r9 advice).
      val sorted = results.toSeq.sortBy(_._1)
      val chunks = sorted.grouped(50).toSeq
      chunks.zipWithIndex.foreach { case (c, i) =>
        // 3-decimal (ms) resolution keeps a chunk line ~1.5 KB so more of
        // them fit in the capture window; the file above keeps full bits
        val qs = c.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
        println(s"""{"line":"chunk","sf":"$sfDir","part":${i + 1},"of":${chunks.size},"queries":$qs}""")
      }
      val qs = sorted.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // ALL run times (not just the min): separates co-tenant noise
      // (inflated single runs) from real first-run JIT/codegen effects —
      // the dbscan-canary instrumentation the r9 verdict asked for
      val rd = perRun.toSeq.sortBy(_._1).map { case (k, (timed, _, _)) =>
        "\"" + k + "\":[" + timed.map { case (ok, s) =>
          (if (ok) s else -s).toString }.mkString(",") + "]"
      }.mkString("{", ",", "}")
      // per-query 1-min loadavg sampled right after each query's runs —
      // the self-classification evidence (r13 verdict #8): a slow query
      // at loadavg 8 is a co-tenant artifact, at loadavg 1 it's real
      val lq = perRun.toSeq.sortBy(_._1).map { case (k, (_, lv, _)) =>
        "\"" + k + "\":" + f"$lv%.2f" }.mkString("{", ",", "}")
      // queries that tripped the >2x-vs-previous-round rerun, with the
      // previous min, first-pass min, and post-rerun final min in-band
      val rr = perRun.toSeq.filter(_._2._3 > 0).sortBy(_._1).map { case (k, (timed, _, nx)) =>
        val firstMin = timed.take(runs).collect { case (true, s) => s }.min
        val finalMin = timed.collect { case (true, s) => s }.min
        "\"" + k + "\":{" + f""""prev":${prevQ.getOrElse(k, -1.0)}%.3f,"first":$firstMin%.3f,"final":$finalMin%.3f,"extra_runs":$nx}"""
      }.mkString("{", ",", "}")
      val fileJson = s"""{"line":"file","queries":$qs,"runs_detail":$rd,"loadavg_q":$lq,"reruns":$rr,"failed":$failedJson,"runs":$runs,"loadavg":$load,"sf":"$sfDir",$fcJson,"total_cold":$totalCold,"metric":"total","value":$total,"unit":"sec","n_queries":${selected.size}}"""
      // the committed out FILE carries the complete full-precision
      // per-query map; the (always-surviving) summary line REFERENCES it
      // by content hash so the file is verifiably THIS run's record even
      // when the stdout capture window drops the chunk lines (r17
      // verdict #1: per-query history must be driver-durable)
      val sha = {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.digest(fileJson.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      // summary line: the only unbounded field (failed names) goes FIRST and
      // the headline fields LAST, so a tail boundary landing inside a
      // heavy-failure line still keeps the totals
      println(s"""{"line":"summary","failed":$failedJson,"n_failed":${failed.size},"sf":"$sfDir","runs":$runs,"loadavg":$load,$fcJson,"queries_file":"$outPath","queries_sha256":"$sha","n_queries":${selected.size},"total_cold":$totalCold,"metric":"total","value":$total,"unit":"sec"}""")
      fileJson
    }

    val perDir = sfDirs.map(d => d -> runDir(d))
    val fullJson =
      if (perDir.size == 1) perDir.head._2
      else perDir.map { case (d, j) => "\"" + d + "\":" + j }
        .mkString("""{"line":"file","scale_points":{""", ",", "}}")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case t: Throwable => System.err.println(s"BENCH WARN: cannot write $outPath: $t") }
    spark.stop()
  }
}
