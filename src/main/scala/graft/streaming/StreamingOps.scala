package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming counterparts of the batch operators — the shapes a
  * production ingest of the events stream needs. Same column expressions as
  * the batch paths, so logic is written once and bound to either source.
  *
  * (cuML has no streaming surface; this is part of the
  * large-scale-pipeline extension mandated alongside SURVEY §2.)
  */
object StreamingOps {
  /** Watermarked sliding-window aggregation over the event stream:
    * per event_type per 1-hour window, count + mean value. State is bounded
    * by the watermark — safe on an unbounded 100 TB/day stream. */
  def windowedEventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))
      .select(col("event_type"), col("window.start").as("win_start"),
        col("n"), col("mean_value"))

  /** Streaming exponential smoothing via mapGroupsWithState: per-series
    * state = (level, count); each micro-batch folds its new points in event
    * order. The streaming twin of tsa.TimeSeries.sesSmoothed. */
  final case class SesState(level: Double, n: Long)
  final case class SesOut(series: String, level: Double, n: Long)

  def streamingSES(events: DataFrame, alpha: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("event_type").as("series"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[SesState, SesOut](GroupStateTimeout.NoTimeout) {
        case (series, rows, state: GroupState[SesState]) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          val prev = state.getOption.getOrElse(SesState(Double.NaN, 0L))
          val next = sorted.foldLeft(prev) { (st, r) =>
            if (st.n == 0L) SesState(r._3, 1L)
            else SesState(alpha * r._3 + (1 - alpha) * st.level, st.n + 1)
          }
          state.update(next)
          SesOut(series, next.level, next.n)
      }.toDF("series", "level", "n")
  }

  /** Streaming 2-state constant-velocity Kalman filter — the stateful twin
    * of tsa.TimeSeries.kalmanCV: per-series state = (level, trend, P,
    * innovation sum); each micro-batch folds its points in event order.
    * Same scalar update expressions as the batch path. */
  final case class KalmanState(x0: Double, x1: Double, p00: Double, p01: Double,
                               p11: Double, si: Double, n: Long)
  final case class KalmanOut(series: String, level: Double, trend: Double,
                             p00: Double, sumInnov2: Double, n: Long)

  def streamingKalmanCV(events: DataFrame, q0: Double, q1: Double,
                        r: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("event_type").as("series"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[KalmanState, KalmanOut](GroupStateTimeout.NoTimeout) {
        case (series, rows, state: GroupState[KalmanState]) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          val prev = state.getOption.getOrElse(KalmanState(0, 0, 1, 0, 1, 0, 0L))
          val next = sorted.foldLeft(prev) { (st, row) =>
            val z = row._3
            if (st.n == 0L) KalmanState(z, 0.0, 1.0, 0.0, 1.0, 0.0, 1L)
            else {
              val x0p = st.x0 + st.x1
              val p00p = st.p00 + st.p01 + st.p01 + st.p11 + q0
              val p01p = st.p01 + st.p11
              val p11p = st.p11 + q1
              val k0 = p00p / (p00p + r)
              val k1 = p01p / (p00p + r)
              val iv = z - x0p
              KalmanState(x0p + k0 * iv, st.x1 + k1 * iv,
                (1.0 - k0) * p00p, (1.0 - k0) * p01p, p11p - k1 * p01p,
                st.si + iv * iv, st.n + 1)
            }
          }
          state.update(next)
          KalmanOut(series, next.x0, next.x1, next.p00, next.si, next.n)
      }.toDF("series", "level", "trend", "p00", "sum_innov2", "n")
  }

  /** Streaming as-of enrichment — the live twin of events.AsOf.asofJoin:
    * one interleaved stream of state updates (`is_state` true, carrying
    * `value`) and lookup events per key; each lookup is answered with the
    * LATEST state at-or-before it in the micro-batch fold order (events
    * within a batch are folded in event-time order; the carried state
    * persists across batches). State per key = one (t, value) pair —
    * constant-size, exactly the as-of join's carry-forward register. */
  final case class AsOfState(t: Long, v: Double)
  final case class AsOfOut(key: Long, eventId: Long, t: Long,
                           stateT: Option[Long], stateV: Option[Double])

  def streamingAsOf(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("event_id").cast("long"),
        col("t").cast("long"), col("is_state").cast("boolean"),
        col("value").cast("double"))
      .as[(Long, Long, Long, Boolean, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[AsOfState]) =>
          // fold in (t, state-before-lookup, id) order — the batch op's
          // exact tie rule (right side admitted at equal time)
          val sorted = it.toSeq.sortBy(r => (r._3, !r._4, r._2))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          sorted.foreach { case (_, id, t, isState, v) =>
            if (isState) cur = Some(AsOfState(t, v))
            else out += AsOfOut(key, id, t, cur.map(_.t), cur.map(_.v))
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF("key", "event_id", "t", "state_t", "state_v")
  }

  /** Streaming windowed top-event: which event type dominates each
    * 1-hour window. Streaming forbids an aggregate-over-aggregate rank,
    * so each KNOWN type becomes a conditional count inside ONE
    * watermarked window aggregate and the winner is a post-aggregate
    * greatest/CASE chain (ties → lexicographically smallest type) — the
    * same single-agg discipline as streamingDriftGate. */
  def streamingTopEvent(events: DataFrame, types: Seq[String]): DataFrame = {
    require(types.nonEmpty && types == types.sorted, "pass types sorted")
    val counts = types.zipWithIndex.map { case (t, i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"_c$i")
    }
    val agg = events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(counts.head, counts.tail: _*)
    val top = greatest(types.indices.map(i => col(s"_c$i")): _*)
    val winner = types.zipWithIndex.foldRight(lit(types.last)) {
      case ((t, i), acc) => when(col(s"_c$i") === top, lit(t)).otherwise(acc)
    }
    // foldRight means the FIRST (sorted-smallest) type matching the max wins
    agg.select(col("window.start").as("win_start"),
      types.indices.map(i => col(s"_c$i")).reduce(_ + _).as("n_events"),
      winner.as("top_type"), top.as("top_n"))
  }

  /** Live ingest profile — the streaming twin of `describe_table`'s
    * per-column profile shape: count / min / max / mean / stddev per
    * watermarked window from ONE aggregate, with the distinct count on
    * the HyperLogLog++ sketch (`approx_count_distinct` — the
    * cardinality_stats_approx production path: exact distinct is not
    * incrementally maintainable, the sketch is). */
  def streamingProfile(events: DataFrame, valueCol: String,
                       windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(col(valueCol)).as("n"),
        min(col(valueCol)).as("min"), max(col(valueCol)).as("max"),
        round(avg(col(valueCol)), 4).as("mean"),
        round(stddev_samp(col(valueCol)), 4).as("stddev"),
        approx_count_distinct(col(valueCol)).as("approx_distinct"))
      .select(col("window.start").as("win_start"), col("n"), col("min"),
        col("max"), col("mean"), col("stddev"), col("approx_distinct"))

  final case class FunnelState(t1: Long, t2: Long, done: Boolean)
  final case class FunnelOut(user_id: Long, t1: Long, t2: Long, t3: Long)

  /** Streaming ordered funnel — the live twin of
    * [[graft.events.Funnel.funnel3]]: per-user state is THREE registers
    * (earliest step-1 time, earliest qualifying step-2 time, done flag) —
    * constant-size streaming state per user regardless of history length.
    * Each micro-batch folds its events in the batch op's (us, event_id)
    * order; a conversion row (user, t1, t2, t3) is emitted exactly once,
    * when the first qualifying step-3 event arrives — possibly batches
    * after t1/t2 were seen (the cross-batch carry the spec checks).
    * Batch-rule parity: step k qualifies only STRICTLY after the earliest
    * step-(k−1) time, identical to the batch windows' running-min chain.
    * Events are sorted within each micro-batch; ACROSS batches the fold
    * assumes per-user time-ordered arrival (the usual log-ingest
    * contract) — full out-of-order tolerance would need event-time
    * buffering behind a watermark. */
  def streamingFunnel(events: DataFrame, step1: String, step2: String,
                      step3: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Long.MinValue, Long.MinValue, done = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          it.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, t, us) =>
            if (!st.done) {
              if (t == step1 && st.t1 == Long.MinValue) st = st.copy(t1 = us)
              else if (t == step2 && st.t2 == Long.MinValue &&
                st.t1 != Long.MinValue && us > st.t1) st = st.copy(t2 = us)
              else if (t == step3 && st.t2 != Long.MinValue && us > st.t2) {
                st = st.copy(done = true)
                out += FunnelOut(user, st.t1, st.t2, us)
              }
            }
          }
          state.update(st)
          out.iterator
      }.toDF("user_id", "t1", "t2", "t3")
  }

  /** Streaming exact-dedup: drop rows whose content hash was already seen,
    * using flatMapGroupsWithState keyed by the hash (state = seen marker).
    * The unbounded-state caveat is real; a production deployment bounds it
    * with a processing-time TTL (state.setTimeoutDuration) — left off here
    * because timeout ticks schedule perpetual micro-batches, which the
    * synchronous test harness (processAllAvailable) cannot drain. */
  final case class SeenOut(content_hash: String, doc_id: Long)

  final case class SampleOut(bucket: Long, prio: String, id: Long)

  /** Streaming uniform sample — the reservoir-sampling equivalent done
    * the distributed-deterministic way: a uniform k-sample of an
    * unbounded stream is EXACTLY the bottom-k by a uniform hash priority
    * (md5 of the id — engine-neutral, so the final sample replays in
    * SQL, which no RNG reservoir can). State is per-BUCKET bottom-k
    * (buckets shard the hash space, so no single task sees the stream):
    * each row that enters its bucket's current bottom-k is emitted
    * (append mode — a bounded candidate superset, O(k·log(n/k)) expected
    * entrants per bucket regardless of arrival order); the exact global
    * bottom-k is then one ORDER BY over the ≤ buckets·entrants frame.
    * Emits (bucket, prio, id) candidates. */
  def streamingSampleCandidates(events: DataFrame, idCol: String, k: Int,
                                buckets: Int = 64): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(
        pmod(col(idCol).cast("long"), lit(buckets.toLong)).as("bucket"),
        md5(col(idCol).cast("string").cast("binary")).as("prio"),
        col(idCol).cast("long").as("id"))
      .as[(Long, String, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(String, Long)], SampleOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (bucket, rows, state: GroupState[List[(String, Long)]]) =>
          var cur = state.getOption.getOrElse(Nil) // ascending, size ≤ k
          val out = scala.collection.mutable.ArrayBuffer.empty[SampleOut]
          rows.foreach { case (_, p, id) =>
            val cand = (p, id)
            val enters = cur.size < k || {
              val worst = cur.last
              p < worst._1 || (p == worst._1 && id < worst._2)
            }
            if (enters) {
              cur = (cand :: cur).sortBy(identity).take(k)
              out += SampleOut(bucket, p, id)
            }
          }
          state.update(cur)
          out.iterator
      }.toDF("bucket", "prio", "id")
  }

  def streamingDedup(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("h"),
        col("doc_id").cast("long"))
      .as[(String, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, SeenOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (hash, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.map(_._2).min
            Iterator(SeenOut(hash, first))
          }
      }.toDF("content_hash", "doc_id")
  }

  /** Streaming dedup against a PERSISTED corpus index — the ingest-time
    * twin of Dedup.incremental's vs-prior check and the dedup face of the
    * streamingModelScore family: each micro-batch hashes its documents and
    * left-anti-joins the static loaded index (one row per already-ingested
    * content hash, e.g. ModelIO-persisted parquet). Stream-static joins
    * are STATELESS — no watermark, no state store; the index version pins
    * at stream definition (the probed streamingSeriesScore semantics), so
    * rollover goes through a foreachBatch re-resolution, exactly like
    * seriesScoreBatch. Emits only documents unseen by the prior corpus;
    * within-stream repeats are [[streamingDedup]]'s job — composing the
    * two gives the full ingest-dedup picture. */
  def streamingDedupVsIndex(docs: DataFrame, index: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("content_hash"))
      .join(index.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** Streaming quality gate — the ingest-time twin of
    * text.TextOps.gopherFilters, sharing its rule expressions
    * (TextOps.gopherRules — one definition, so batch and stream cannot
    * drift): keep only the documents that pass every rule, emitting their
    * ids. Stateless — the 100 TB/day shape: every micro-batch is a map,
    * nothing shuffles. */
  def streamingQualityGate(docs: DataFrame): DataFrame = {
    val rules = graft.text.TextOps.gopherRules(col("text"))
    docs.select((col("doc_id").cast("long").as("doc") +:
        rules.map { case (n, c) => c.as(n) }): _*)
      .filter(rules.map(r => col(r._1)).reduce(_ && _))
      .select(col("doc"))
  }

  /** Streaming multimodal feature extraction — the ingest-time twin of
    * multimodal.Multimodal.extractFeatures, sharing its decode dispatch
    * (Multimodal.decode via decodeFeaturesUdf — one definition, so batch
    * and ingest-time features cannot drift): each arriving media row
    * (opaque binary payload + typed metadata) is emitted with its decoded
    * feature vector — real PPM/BMP/GIF/PNG/WAV parse when the payload
    * matches, byte-stats otherwise. Stateless pure map — the 100 TB/day
    * shape, nothing shuffles. */
  def streamingMediaFeatures(media: DataFrame): DataFrame =
    media.select(col("doc_id").cast("long").as("doc"),
      col("meta.media_type").as("media_type"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      graft.multimodal.Multimodal.decodeFeaturesUdf(col("payload")).as("features"))

  /** Streaming PII scrub — the ingest-time twin of text.TextOps.piiMask,
    * sharing its regex chain (TextOps.piiMaskExprs — one definition, so
    * batch and ingest-time redaction cannot drift): each arriving document
    * is emitted with its masked text and per-pattern match counts.
    * Stateless pure map — the 100 TB/day shape, nothing shuffles. */
  def streamingPiiScrub(docs: DataFrame): DataFrame = {
    val (nE, nI, nN, masked) = graft.text.TextOps.piiMaskExprs(col("text"))
    docs.select(col("doc_id").cast("long").as("doc"),
      nE.as("n_emails"), nI.as("n_ips"), nN.as("n_nums"),
      masked.as("masked_text"))
  }

  /** Streaming quality scoring — the ingest-time twin of
    * text.TextOps.hashedNgramScore (TextOps.hashedNgramScoreExprs — one
    * definition): each arriving document gets its fastText-style hashed
    * n-gram score; pair with a threshold filter for an ingest gate.
    * Stateless pure map. */
  def streamingNgramScore(docs: DataFrame, buckets: Int,
                          weightOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          bias: Double): DataFrame = {
    val staged = graft.text.TextOps.stagedNgramTokens(
      docs.select(col("doc_id").cast("long").as("doc"), col("text").as("_t")))
    val (nGrams, score) = graft.text.TextOps.hashedNgramScoreExprs(
      col("_toks"), buckets, weightOf, bias)
    staged.select(col("doc"), nGrams.as("n_grams"), score.as("score"))
  }

  /** Streaming decontamination: a document stream checked against a STATIC
    * benchmark shingle set — the stream-static join shape (the static side
    * broadcasts; no stream-state needed, each micro-batch is a pure map +
    * broadcast probe + per-doc aggregation). Emits one row per contaminated
    * doc per micro-batch: (doc, n_matched, n_shingles, ratio). */
  def streamingDecontaminate(docs: DataFrame, benchmark: DataFrame, k: Int = 3): DataFrame = {
    import graft.text.TextOps
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val bs = TextOps.explodedShingles(benchmark, col("doc_id"), norm, k)
      .select(col("sh")).distinct()
    // stream side: per-doc shingles via the array form (a per-row map —
    // windows over a stream would need watermarked state for no benefit)
    val sh = docs.select(col("doc_id").cast("long").as("doc"),
        explode(array_distinct(TextOps.shingles(TextOps.tokens(norm), k))).as("sh"))
    sh.join(broadcast(bs.withColumn("_hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        count(col("_hit")).cast("long").as("n_matched"))
      .filter(col("n_matched") > 0)
      .select(col("doc"), col("n_matched"), col("n_shingles"),
        round(col("n_matched") / col("n_shingles"), 4).as("ratio"))
  }

  /** Streaming Hampel outlier gate: flag events more than k·1.4826·MAD
    * from the median, with (median, MAD) PROFILED OFFLINE by
    * graft.stats.Robust.outlierMad and bound here as literals — the
    * standard deploy split (the robust statistics need history; the gate
    * itself must be a stateless, shuffle-free map on the live path).
    * Emits only the flagged rows. */
  def streamingOutlierGate(events: DataFrame, valueCol: String,
                           median: Double, mad: Double,
                           k: Double = 3.0): DataFrame = {
    // MAD = 0 (majority-constant history) makes the Hampel threshold
    // `dev > 0` — every nonidentical event would fire. Fail loud at
    // deploy instead of alarm-storming the live path; the batch profiler
    // (Robust.outlierMad) flags nothing in the same degenerate case.
    require(mad > 0,
      s"profiled MAD must be > 0 (got $mad): majority-constant history — " +
        "profile a stddev-based scale instead")
    val dev = abs(col(valueCol).cast("double") - median)
    events.filter(dev > lit(k * 1.4826 * mad))
      .withColumn("deviation", round(dev, 4))
  }

  /** Live feature-drift gate — the streaming twin of graft.stats.Drift.psi:
    * the batch side profiles reference-decile `bounds` and raw `refShares`
    * once; the stream assigns each event's bin statelessly (literal
    * boundaries, pure codegen) and ONE watermarked window aggregate
    * computes every bin count as a conditional sum — chained streaming
    * aggregations are unsupported, so PSI emerges as a post-aggregate
    * expression over that single row. Current shares are Laplace-smoothed
    * exactly like the batch op. Emits one row per closed window:
    * (win_start, n, psi). */
  def streamingDriftGate(events: DataFrame, valueCol: String, tsCol: String,
                         bounds: Seq[Double], refShares: Seq[Double],
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    val bins = bounds.size + 1
    require(refShares.size == bins, s"need $bins reference shares")
    require(refShares.forall(_ > 0), "reference shares must be positive")
    val bin = bounds.foldLeft(lit(1L): Column) { (acc, b) =>
      acc + when(col(valueCol).cast("double") > b, 1L).otherwise(0L)
    }
    val aggs = (1 to bins).map(k =>
      sum(when(bin === k, 1L).otherwise(0L)).as(s"_n$k"))
    val agged = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("_tot"), aggs: _*)
    val psi = (1 to bins).map { k =>
      val pc = (col(s"_n$k") + 1.0) / (col("_tot") + lit(bins.toDouble))
      (pc - lit(refShares(k - 1))) * log(pc / refShares(k - 1))
    }.reduce(_ + _)
    agged.select(col("window.start").as("win_start"),
      col("_tot").cast("long").as("n"), round(psi, 6).as("psi"))
  }

  /** Streaming windowed quantile monitor — the percentile face of the
    * drift gate (pairs with [[streamingDriftGate]]'s PSI): per
    * event-time window, approximate p10/p50/p90 of the value via
    * `percentile_approx` (a mergeable sketch aggregate, so it runs
    * inside watermarked streaming state; memory is O(accuracy), never
    * O(window rows)) plus exact n/min/max. The rank-error contract
    * (≤ n/accuracy) is what the batch audit in the driver query gates. */
  def streamingQuantiles(events: DataFrame, valueCol: String, tsCol: String,
                         accuracy: Int = 1000, windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    val v = col(valueCol).cast("double")
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).cast("long").as("n"),
        min(v).as("vmin"), max(v).as("vmax"),
        percentile_approx(v, array(lit(0.1), lit(0.5), lit(0.9)),
          lit(accuracy)).as("_qs"))
      .select(col("window.start").as("win_start"), col("n"),
        col("vmin"), col("vmax"),
        element_at(col("_qs"), 1).as("q10"),
        element_at(col("_qs"), 2).as("q50"),
        element_at(col("_qs"), 3).as("q90"))
  }

  /** Streaming sessionization: Spark's native `session_window` (state
    * merges adjacent windows until the idle gap exceeds `gap`; the
    * watermark bounds state age) — the live twin of
    * graft.events.Sessionize.userSessions, sharing the same gap
    * semantics: a session closes after `gap` of user inactivity. (At an
    * EXACTLY-equal gap the batch rule keeps the session while
    * session_window splits — measure-zero at µs resolution.) Emits one
    * row per closed (user, session): event count and window seconds
    * (span + gap, per session_window's end = last event + gap). */
  def streamingSessions(events: DataFrame, gap: String = "4 hours",
                        watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        // integer micros: exact (a rounded-seconds column would sit on
        // the .00005 half-way boundary whenever the µs span ends in 50,
        // where engines' double rounding legitimately disagrees)
        (unix_micros(col("session_window.end")) -
          unix_micros(col("session_window.start"))).as("window_us"),
        col("n_events"))

  /** Score an unbounded stream with a PERSISTED linear model: the model
    * loads once at stream definition (a driver-side read of the tiny
    * ModelIO parquet table) and scoring is a pure stateless codegen'd
    * projection per micro-batch — no state store, no shuffle, watermark-
    * free. The streaming face of the ModelIO round-trip: fit offline,
    * save, and the serving stream picks the model up without a refit.
    * Identical semantics when `rows` is a batch frame. */
  def streamingModelScore(rows: DataFrame, modelPath: String,
                          features: Seq[String]): DataFrame = {
    val m = graft.io.ModelIO.loadLinear(rows.sparkSession, modelPath)
    require(m.terms.headOption.contains("intercept") &&
      m.terms.drop(1) == features,
      s"model terms ${m.terms} do not match features intercept+:$features")
    val pred = features.zip(m.coefs.drop(1)).foldLeft(lit(m.coefs.head): Column) {
      case (acc, (f, w)) => acc + lit(w) * col(f).cast("double")
    }
    rows.withColumn("prediction", pred)
  }

  /** Score an unbounded per-series event stream against a PERSISTED
    * per-series model (ModelIO.saveSeriesModel long format — the
    * DataFrame-valued counterpart of [[streamingModelScore]]): a
    * STREAM-STATIC join on the series key, stateless and watermark-free.
    * The model version is PINNED at stream definition — the static
    * side's file listing snapshots when the query starts, so
    * overwriting the table under a running stream is NOT a rollover, it
    * is a FileNotFound crash (probed empirically; Spark file sources
    * offer no atomic in-place swap). To roll a model over without
    * restarting, drive [[seriesScoreBatch]] from foreachBatch — it
    * re-resolves the model table every micro-batch. Emits the additive
    * one-step-ahead Holt-Winters forecast (level + trend + next season)
    * and the residual per event; rows whose series has no persisted
    * state are dropped by the inner join (a left join would keep them
    * with null forecasts). */
  def streamingSeriesScore(rows: DataFrame, modelPath: String,
                           modelType: String): DataFrame =
    scoreAgainstSeriesModel(rows,
      graft.io.ModelIO.loadSeriesModel(rows.sparkSession, modelPath, modelType))

  /** The model-ROLLOVER serving path: call from `foreachBatch`, where
    * `batch` is an ordinary batch frame — the model table is re-read
    * (fresh file listing) on every invocation, so overwriting it
    * between micro-batches serves the new parameters from the next
    * batch on, no stream restart:
    * {{{
    * stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
    *   StreamingOps.seriesScoreBatch(b, path, "hw_additive").write....
    * }.start()
    * }}} */
  def seriesScoreBatch(batch: DataFrame, modelPath: String,
                       modelType: String): DataFrame =
    scoreAgainstSeriesModel(batch,
      graft.io.ModelIO.loadSeriesModel(batch.sparkSession, modelPath, modelType))

  private def scoreAgainstSeriesModel(rows: DataFrame, state: DataFrame): DataFrame = {
    val wide = state.groupBy("series").agg(
      map_from_entries(collect_list(struct(col("key"), col("value")))).as("_p"))
    val f1 = element_at(col("_p"), lit("level")) +
      element_at(col("_p"), lit("trend")) +
      element_at(col("_p"), lit("season_0"))
    rows.join(wide, Seq("series"))
      .withColumn("forecast1", round(f1, 4))
      .withColumn("residual", round(col("x").cast("double") - f1, 4))
      .drop("_p")
  }

  /** Shared gate harness: run a streaming frame to completion under
    * Trigger.AvailableNow into a memory sink and return the sink table.
    *
    * The harness pins `spark.sql.shuffle.partitions` (= the state-store
    * instance count for stateful operators) to `harnessPartitions` for the
    * duration of the run, restoring the session default afterwards: the 19
    * gate streams each carry a bounded memory-sink working set, and the
    * r13 bench showed the family's ~1.1 s/query wall time was dominated by
    * creating 32 state-store instances + shuffle tasks per micro-batch —
    * measured 2.08 s → 1.21 s warm for streaming_sessions at 4 partitions.
    * A production stream sizes this to its load (the cluster default);
    * only the GATE harness is resized, not the operators. */
  def runToMemory(s: SparkSession, stream: DataFrame, sink: String,
                  mode: String, harnessPartitions: Int = 8): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, harnessPartitions.toString)
    try {
      val q = stream.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    s.table(sink)
  }
}
