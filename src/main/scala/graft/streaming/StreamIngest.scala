package graft.streaming

import graft.model.Point
import graft.operators.Mutations
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import scala.reflect.runtime.universe.TypeTag

/**
 * Structured Streaming ingest + streaming operators — the Spark-native
 * replacement for the reference's record-log WAL, replay, and
 * background reindex (server/record_log.cc:98-271,
 * go/.../store_manager/store_manager.go:400-469): checkpointed
 * micro-batches subsume WAL+replay. The Parquet sink writes `date`
 * partitions only ([[graft.sources.PointSource.sink]]): a streaming
 * plan cannot sort, so its files stay unsorted, and the batch rewrites
 * refuse a sink store because its reads list only the sink log's files.
 */
object StreamIngest {

  /**
   * File-source ingest stream: watches `sourceDir` for new point
   * parquet drops, validates/enriches like Engine.add, and sinks them
   * into `date` partitions with exactly-once checkpointing.
   */
  def ingest(spark: SparkSession, sourceDir: String, storeDir: String,
             checkpointDir: String, hostname: String = "ingest",
             policy: Option[graft.retention.Retention.Policy] = None): StreamingQuery = {
    val stream = spark.readStream
      .schema(Point.schema)
      .parquet(sourceDir)
      // validation mirrors Engine.add; rejects are dropped here (the
      // batch path keeps them on a side channel)
      .filter(col("name").isNotNull && length(col("name")) >= 2 &&
        col("name").startsWith("/") && !col("name").rlike("\\s"))
      // future-timestamp rejection (>1s drift), evaluated at batch
      // time — the streaming analog of server/store.cc:414-444
      .filter(col("ts") <= unix_millis(current_timestamp()) + 1000L)
      // ingest-time retention DROP (server/store.cc:428-434), same
      // predicate as Engine.add; the clock is the per-micro-batch
      // current_timestamp, so point ages stay correct over a stream
      // that runs for days
      .transform(df => policy.fold(df)(p => df.filter(
        !graft.retention.Retention.dropsAtIngest(p,
          unix_millis(current_timestamp())))))
      .withColumn("labels",
        when(map_contains_key(col("labels"), lit("hostname")), col("labels"))
          .otherwise(map_concat(coalesce(col("labels"), map()),
            map(lit("hostname"), lit(hostname)))))
    graft.sources.PointSource.sink(stream)
      .option("path", storeDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /**
   * Watermarked tumbling-window aggregation over a point stream —
   * the streaming analog of Aggregations.byName. Late data beyond
   * `watermark` is dropped from the stream and belongs to the batch
   * compaction path (SURVEY.md §7.4.6).
   */
  def windowedMeanByName(points: DataFrame, intervalMs: Long,
                         watermark: String = "10 minutes"): DataFrame =
    points
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(col("name"), window(col("event_time"), s"$intervalMs milliseconds"))
      .agg(avg("dval").as("dval"))
      .select(col("name"), unix_millis(col("window.start")).as("ts"), col("dval"))

  /**
   * Watermarked SLIDING (hopping) window mean per name — the streaming
   * twin of [[graft.operators.Mutations.slidingGrid]] (PromQL
   * range-query shape: a `widthMs` window evaluated every `hopMs`).
   * Structured Streaming's native sliding `window()` assigns each
   * point to its `width/hop` covering windows with bounded per-window
   * state. Output `ts` is the window's END-aligned hop-bucket start
   * (`window.end − hop`), matching the batch emission timestamp.
   * EMISSION-SET DIVERGENCE from batch (documented there): streaming
   * emits every window containing a point; batch emits only at
   * observed hop buckets — identical on data dense at hop granularity.
   */
  def windowedSlidingMeanByName(points: DataFrame, widthMs: Long, hopMs: Long,
                                watermark: String = "10 minutes"): DataFrame = {
    require(widthMs > 0 && hopMs > 0 && widthMs % hopMs == 0,
      s"width $widthMs must be a positive multiple of hop $hopMs")
    points
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(col("name"),
        window(col("event_time"), s"$widthMs milliseconds", s"$hopMs milliseconds"))
      .agg(avg("dval").as("dval"), count(lit(1)).as("n"))
      .select(col("name"),
        (unix_millis(col("window.end")) - hopMs).as("ts"), col("dval"), col("n"))
  }

  /**
   * Streaming EXACT upper median per (name, window) — the reference's
   * bucket[n/2] rule (lib/protobuf.cc:135-142), live. The state per
   * group is the window's value list: bounded by points-per-bucket
   * (series rate × interval), NOT by stream length — the same holding
   * cost the batch shuffle pays for a bucket, which is what makes an
   * exact streaming median legitimate where an exact whole-stream
   * median would not be. The median itself is a closed-form expression
   * over the collected list (sort + upper-middle element), evaluated
   * once per emitted window.
   */
  def windowedMedianByName(points: DataFrame, intervalMs: Long,
                           watermark: String = "10 minutes"): DataFrame =
    points
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(col("name"), window(col("event_time"), s"$intervalMs milliseconds"))
      .agg(collect_list(col("dval")).as("vals"))
      .select(col("name"), unix_millis(col("window.start")).as("ts"),
        element_at(array_sort(col("vals")),
          (size(col("vals")).cast("int") / 2 + 1).cast("int")).as("dval"))

  /**
   * Watermarked tumbling-window aggregation grouped by one label's
   * distinct values — the streaming analog of
   * [[graft.operators.Aggregations.byLabel]], including opt-in
   * constant-label preservation (see below). Exact MEDIAN has its own
   * per-name streaming surface ([[windowedMedianByName]]); here the
   * require keeps the agg set to the partial-aggregable four.
   * Output matches the batch column shape: `name, labels` (the grouped
   * label only), `ts` (bucket start), `dval`. The tumbling window
   * boundary `floor(ts / interval)` is the same bucketing as the batch
   * `ts - ts % interval`, so closed windows are value-equal to the
   * batch result over the same data.
   */
  def windowedAggByLabel(points: DataFrame, label: String,
                         agg: graft.operators.Aggregations.AggType,
                         intervalMs: Long,
                         watermark: String = "10 minutes",
                         preserveConstantLabels: Boolean = false): DataFrame = {
    require(agg != graft.operators.Aggregations.Median,
      "exact median needs the full bucket - batch path only")
    val grouped = points
      .filter(map_contains_key(col("labels"), lit(label)))
      .withColumn("gval", element_at(col("labels"), label))
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(col("name"), col("gval"),
        window(col("event_time"), s"$intervalMs milliseconds"))
    if (!preserveConstantLabels)
      grouped.agg(agg.fn(col("dval")).as("dval"))
        .select(col("name"), map(lit(label), col("gval")).as("labels"),
          unix_millis(col("window.start")).as("ts"), col("dval"))
    else {
      // Constant-label preservation (server/store.cc:204-226), live:
      // the ONE windowed aggregation also collects the group's
      // distinct label-entry arrays, and the constant entries come
      // from that summary by the batch rule
      // ([[graft.operators.Aggregations.constantLabels]]) — no second
      // stateful operator, no stream-stream join — but scoped PER
      // WINDOW: a stream cannot see the whole history, so windows are
      // the natural constancy scope; on inputs whose label constancy
      // is globally uniform the result equals the batch byLabel
      // (proven in RetentionStreamingSpec). State adds the distinct
      // label-map set per (name, gval, window) — the same
      // output-series-bounded argument as the batch constLabels side.
      val extra = graft.operators.Aggregations.constantLabels(col("lsets"), label)
      grouped.agg(agg.fn(col("dval")).as("dval"),
          collect_set(map_entries(col("labels"))).as("lsets"))
        .select(col("name"),
          map_concat(extra, map(lit(label), col("gval"))).as("labels"),
          unix_millis(col("window.start")).as("ts"), col("dval"))
    }
  }

  /**
   * Streaming exact dedup for a document/point stream: drops rows whose
   * `keyCols` were already seen within the watermark window. State is
   * bounded by the watermark (keys expire once the event-time watermark
   * passes them) — the streaming half of `Dedup.exact`; cross-window /
   * historical dedup stays a batch job over the at-rest store.
   */
  def dedupStream(df: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts",
                  watermark: String = "1 hour"): DataFrame =
    df.withColumn("event_time", timestamp_millis(col(tsCol)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
      .drop("event_time")

  // --------------------------------------------- stateful sessionization

  /** `event_time` mirrors `ts`: the watermarked timestamp column must
    * stay among the stateful operator's input attributes, or the
    * unsupported-operation checker rejects the event-time timeout. */
  final case class SessEvent(key: String, ts: Long, value: Double,
                             event_time: java.sql.Timestamp)
  /** Open-session accumulator: O(1) per live key. */
  final case class SessionState(tStart: Long, tEnd: Long, n: Long, sum: Double)
  final case class SessionOut(
      key: String, t_start: Long, t_end: Long, n_events: Long, sum_val: Double)

  /**
   * One flatMapGroupsWithState step of gap sessionization: in-batch
   * events of one key fold into the open session; a gap > `gapMs`
   * closes it (emitted immediately); the still-open session closes via
   * EVENT-TIME timeout once the watermark passes `tEnd + gapMs` — so
   * emission needs no future event from the same key, and state is one
   * fixed record per key with a live session, removed at close.
   *
   * Same gap semantics as the batch [[graft.operators.Sessions
   * .sessionize]] (gap strictly greater than `gapMs` splits; equal
   * stays), kept in sync by StreamingSpec comparing both paths. Late
   * events beyond the watermark belong to the batch path, like
   * [[windowedMeanByName]].
   *
   * In-watermark events that arrive out of order ACROSS batches are
   * handled by an interval merge over {open-session state} ∪ {batch
   * events}: all intervals within `gapMs` of each other coalesce
   * (`tStart` can lower, `tEnd` can raise), then every merged session
   * except the LAST (the open one) emits closed. Within one batch plus
   * the carried state this is exactly the batch sessionization — a
   * straggler only becomes its own session when nothing in the batch
   * bridges it. DOCUMENTED DIVERGENCE from batch: a session already
   * emitted in an earlier batch cannot retroactively absorb a
   * straggler a later batch delivers (append mode cannot retract);
   * disorder confined to one batch is exact.
   */
  def sessionStep(gapMs: Long)(
      key: String, rows: Iterator[SessEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(SessionOut(key, s.tStart, s.tEnd, s.n, s.sum))
    }
    val pieces = (state.getOption.toList ++
        rows.toSeq.map(e => SessionState(e.ts, e.ts, 1L, e.value)))
      .sortBy(s => (s.tStart, s.tEnd))
    if (pieces.isEmpty) return Iterator.empty
    // fold ascending intervals, coalescing within the gap (equal-gap
    // stays, strictly-greater splits — batch Sessions.sessionize rule)
    val merged = pieces.tail.foldLeft(List(pieces.head)) { (acc, e) =>
      val head = acc.head
      if (e.tStart - head.tEnd <= gapMs)
        SessionState(math.min(head.tStart, e.tStart),
          math.max(head.tEnd, e.tEnd), head.n + e.n, head.sum + e.sum) :: acc.tail
      else e :: acc
    }.reverse
    // everything before the open (last) session is gap-separated from
    // it — closed for good as far as this batch can know
    val out = merged.init.map(s => SessionOut(key, s.tStart, s.tEnd, s.n, s.sum))
    val open = merged.last
    state.update(open)
    // the timeout timestamp must sit at or above the current
    // watermark, or Spark rejects it (a session whose horizon the
    // watermark already passed closes on the very next batch)
    state.setTimeoutTimestamp(
      math.max(open.tEnd + gapMs, state.getCurrentWatermarkMs() + 1))
    out.iterator
  }

  /**
   * Streaming gap sessionization over `(key: string, ts: long ms,
   * value: double)` rows: the streaming half of
   * [[graft.operators.Sessions.sessionize]] + per-session stats.
   * Append-mode; sessions emit when closed (by gap or by watermark).
   */
  def sessionizeStream(events: DataFrame, gapMs: Long,
                       watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .select(col("key"), col("ts"), col("value"), col("event_time"))
      .as[SessEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionStep(gapMs))
  }

  /**
   * Streaming alert-rule evaluation over raw points: "value > τ
   * sustained ≥ `minDurMs`" — threshold filter → stateful gap
   * sessionization of the violation points → duration gate. An
   * episode emits when it closes (a sub-gap pause ends it) or when
   * the watermark passes its horizon; the batch m_alert query is the
   * same rule shape over the hourly grid.
   */
  def alertStream(events: DataFrame, threshold: Double, gapMs: Long,
                  minDurMs: Long,
                  watermark: String = "1 hour"): Dataset[SessionOut] =
    sessionizeStream(
        events.filter(col("value") > threshold), gapMs, watermark)
      .filter(col("t_end") - col("t_start") >= minDurMs)

  /**
   * Streaming evaluation of a CONFIG alert rule
   * ([[graft.operators.Alerts.AlertRule]], reference config.txt
   * syntax) over canonical points: pattern scope → condition on the
   * raw value → stateful gap sessionization per series, episode gap =
   * the rule's grid interval, duration gate = the episode touches ≥
   * `minPeriods` grid buckets. The gate counts BUCKETS, not raw span:
   * points ≤ interval apart can only step one bucket at a time, so the
   * bucket span of a session equals the distinct violating periods the
   * batch grid sees — a 3-period episode whose raw points sit at
   * 00:59/01:30/02:01 spans barely an hour of wall time but 3 buckets,
   * and must fire. The LIVE approximation of
   * [[graft.operators.Alerts.evaluate]]: raw points violate directly,
   * where the batch path grid-aggregates first — alerts fire at point
   * granularity without waiting for a window to close.
   *
   * The rule's `agg` therefore only shapes the BATCH evaluation, and
   * soundness of point-level thresholding depends on the
   * (agg, condition) PAIR: a point crossing implies the bucket
   * aggregate crosses exactly for extremum-aligned pairs — MAX with
   * GT/GE, MIN with LT/LE. The misaligned pairs (MAX+LT: the bucket
   * max is below τ only when ALL points are; MIN+GT symmetric) and
   * SUM in either direction (a bucket sum crosses τ with no single
   * point doing so) can fire or stay silent where the grid decides
   * oppositely — accepted with a logged warning. AVERAGE is the
   * documented point-granularity approximation and stays silent.
   * MEDIAN is rejected: an exact median needs the full window, which
   * bounded streaming state cannot hold (batch serves it via the
   * distributed median).
   */
  def alertRuleStream(points: DataFrame,
                      rule: graft.operators.Alerts.AlertRule,
                      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import graft.operators.{Aggregations, Alerts}
    rule.agg match {
      case Aggregations.Median =>
        throw new IllegalArgumentException(
          "alertRuleStream cannot serve MEDIAN rules: exact medians need " +
            "the full window; evaluate this rule in batch (Alerts.evaluate)")
      case _ =>
        val pointSound = (rule.agg, rule.condition) match {
          case (Aggregations.Max, Alerts.Gt | Alerts.Ge) => true
          case (Aggregations.Min, Alerts.Lt | Alerts.Le) => true
          case (Aggregations.Max, _) | (Aggregations.Min, _) |
               (Aggregations.Sum, _) => false
          case _ => true // AVERAGE: the documented approximation
        }
        if (!pointSound)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"alertRuleStream approximates a ${rule.agg}+${rule.condition} " +
              "rule at point granularity; the batch grid evaluation can " +
              "decide differently for this pairing (see scaladoc)")
    }
    val scoped =
      if (rule.patterns.isEmpty) points
      else points.filter(rule.patterns
        .map(graft.pattern.VariableMatcher.compile).reduce(_ || _))
    sessionizeStream(
        Point.withSeriesKey(scoped)
          .select(col("skey").as("key"), col("ts"), col("dval").as("value"))
          .filter(rule.condition.apply(col("value"), rule.threshold)),
        rule.intervalMs, watermark)
      // floor-aligned bucket starts (pmod, like the batch grid in
      // Aggregations.byName) — `div` truncates toward zero and would
      // undercount buckets for sessions straddling negative ts. Pure
      // long arithmetic, no float division.
      .filter(
        (col("t_end") - pmod(col("t_end"), lit(rule.intervalMs))) -
          (col("t_start") - pmod(col("t_start"), lit(rule.intervalMs))) >=
          (rule.minPeriods - 1).toLong * rule.intervalMs)
  }

  /**
   * Live evaluation of a whole alert config over a file point stream:
   * watches `sourceDir` for canonical point-parquet drops and runs
   * [[alertRuleStream]] per rule, unioned and tagged with
   * `rule_id`/`rule` — the streaming twin of
   * [[graft.operators.Alerts.evaluateAll]], closing the batch/stream
   * symmetry (CLI: `alerts config=… follow=…`). MEDIAN rules are
   * rejected by [[alertRuleStream]] (batch-only). Each rule's
   * sessionization keeps its own bounded per-series state; the file
   * source is read once and shared across the rule branches.
   */
  def alertRulesFollow(spark: SparkSession, sourceDir: String,
                       rules: Seq[graft.operators.Alerts.AlertRule],
                       watermark: String = "1 hour"): DataFrame = {
    require(rules.nonEmpty, "no alert rules configured")
    val pts = spark.readStream.schema(Point.schema).parquet(sourceDir)
    rules.zipWithIndex.map { case (r, i) =>
      alertRuleStream(pts, r, watermark).toDF()
        .withColumn("rule_id", lit(i))
        .withColumn("rule", lit(r.comment))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------- stateful per-series operators

  final case class InPoint(skey: String, ts: Long, dval: Double)
  final case class OutPoint(skey: String, ts: Long, dval: Double)

  /**
   * One flatMapGroupsWithState step of a per-series stream: the batch
   * state machine `mk()` ([[graft.operators.Mutations.ResumableOp]]),
   * restored from the series' state record, is fed this batch's points
   * in ts order, so stream and batch share one implementation and
   * disorder confined to a batch is exact. Points strictly behind the
   * op's last fed ts (stragglers from a later batch) are dropped: they
   * would break the op's sorted-input contract, and the batch path over
   * the full sorted data is where they belong.
   *
   * With `idleTimeoutMs > 0` every batch that touches a series arms a
   * processing-time timeout; when it fires, the op's `flush()` emits
   * (LTTB's trailing buckets, nothing for the others) and the state is
   * REMOVED — bounded state under series churn, where otherwise one
   * record per ever-seen series lives forever. A revived series
   * re-anchors from its first new point, exactly like a new series.
   */
  def resumeStep[S](mk: () => Mutations.ResumableOp[S], idleTimeoutMs: Long)(
      key: String, rows: Iterator[InPoint],
      state: GroupState[S]): Iterator[OutPoint] = {
    val op = mk()
    state.getOption.foreach(op.restore)
    val out =
      if (state.hasTimedOut) { state.remove(); op.flush() }
      else {
        val from = op.lastFed
        val fed = rows.toSeq.sortBy(_.ts).filter(_.ts >= from)
          .flatMap(p => op.feed(p.ts, p.dval))
        state.update(op.snapshot)
        if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
        fed
      }
    out.iterator.map { case (t, v) => OutPoint(key, t, v) }
  }

  /**
   * The one per-series stream: [[resumeStep]] over each series of
   * `points`, append mode. String-valued points (null `dval`) are
   * skipped, as in the batch [[graft.operators.Mutations.perSeries]].
   */
  private def resumeStream[S <: Product : TypeTag](points: DataFrame, idleTimeoutMs: Long)(
      mk: () => Mutations.ResumableOp[S]): Dataset[OutPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    Point.withSeriesKey(points)
      .select(col("skey"), col("ts"), col("dval"))
      .filter(col("dval").isNotNull)
      .as[InPoint]
      .groupByKey(_.skey)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        resumeStep(mk, idleTimeoutMs))
  }

  /**
   * Streaming uniform resample ([[graft.operators.Mutations.UniformOp]],
   * the incremental resampler). State is one fixed record per LIVE
   * series: `idleTimeoutMs` (default 1 h) evicts state for series that
   * stop reporting, so total state tracks current fan-in, not the
   * historical series universe.
   *
   * DOCUMENTED DIVERGENCE from the batch resampler under eviction: a
   * series idle past the timeout that later revives re-anchors at its
   * first new point, whereas batch `Mutations.resampleUniform` over the
   * same data would bridge the gap from the original anchor. Bounded
   * state is the right default at stream scale; pass `idleTimeoutMs =
   * 0` for strict batch bit-equality on arbitrarily idle series.
   * A straggler strictly behind the series' last point (from a later
   * batch) is dropped, like [[rateStream]]'s monotonicity guard: it
   * would move the interpolation anchor back, so the stream equals the
   * batch resampler over the points without it.
   *
   * DEPLOYMENT NOTE: with ProcessingTimeTimeout, Spark runs a
   * timer-check batch on every trigger even without new data — set a
   * real trigger interval (e.g. `Trigger.ProcessingTime("30 seconds")`)
   * on the query; the default 0 ms trigger would busy-loop empty
   * batches. With eviction disabled there is no such constraint.
   */
  def uniformResampleStream(points: DataFrame, intervalMs: Long,
                            idleTimeoutMs: Long = 3600000L): Dataset[OutPoint] =
    resumeStream(points, idleTimeoutMs)(() => new Mutations.UniformOp(intervalMs))

  /**
   * Streaming per-series rate ([[graft.operators.Mutations.RateOp]]) —
   * the live-dashboard primitive. O(1) state (the previous point) per
   * live series, idle eviction as in the resampler; bit-equal to the
   * batch lag-window rate (StreamingSpec) on strictly-increasing
   * timestamps. DOCUMENTED DIVERGENCE: duplicate-ts and out-of-order
   * points are DROPPED by the monotonicity guard (the batch lag window
   * instead emits the undefined ±Infinity a zero Δt produces — garbage
   * either way; the stream declines to emit it).
   */
  def rateStream(points: DataFrame, perSecond: Boolean = true,
                 signed: Boolean = false,
                 idleTimeoutMs: Long = 3600000L): Dataset[OutPoint] =
    resumeStream(points, idleTimeoutMs)(() => new Mutations.RateOp(perSecond, signed))

  /**
   * Streaming EWMA-control-chart z-scores per series — the streaming
   * half of [[graft.operators.Mutations.ewmZscore]] (the same
   * `EwmZscoreOp`), bit-equal on non-decreasing timestamps (duplicate
   * ts is the well-defined α = 0 case and is processed like batch;
   * STRICTLY out-of-order points are dropped by the monotonicity guard —
   * α < 0 would corrupt the EWM variance — see [[rateStream]]'s
   * divergence note). Idle eviction as in the resampler. Append-mode;
   * downstream alerting is a `filter(abs(dval) > k)` on the output.
   */
  def anomalyStream(points: DataFrame, tauMs: Double,
                    idleTimeoutMs: Long = 3600000L): Dataset[OutPoint] =
    resumeStream(points, idleTimeoutMs)(() => new Mutations.EwmZscoreOp(tauMs))

  /**
   * Streaming LTTB downsample ([[graft.operators.Mutations.LttbOp]]):
   * every selection rule is bit-identical to batch by construction. A
   * bucket emits once the NEXT bucket completes — the op's own
   * lookahead — and the trailing buckets emit when the idle timeout
   * fires (the streaming stand-in for end-of-series flush; state is
   * removed with them). Points across batches that land behind the
   * in-flight buckets are dropped, like [[rateStream]]'s monotonicity
   * guard; a revived series re-anchors like a new one.
   */
  def lttbStream(points: DataFrame, bucketMs: Long,
                 idleTimeoutMs: Long = 3600000L): Dataset[OutPoint] =
    resumeStream(points, idleTimeoutMs)(() => new Mutations.LttbOp(bucketMs))
}
