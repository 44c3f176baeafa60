package graft

import graft.model.Point
import graft.operators.{Aggregations, AsOf, Mutations, Rle}
import graft.pattern.VariableMatcher
import graft.sources.PointSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-equivalent in [[oracleSql]]
  * with identical output column names; float aggregates are rounded on
  * both sides to absorb summation-order noise.
  */
object SparkEntry {

  val HourMs = 3600000L

  /** The requested metric set for the correlation query — a real
    * correlation request names its metrics, which is what bounds the
    * per-timestamp pair fan-out (|set|², not fleet-wide #names²). */
  val CorrNames: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  /** Hour-unit lags for the cross-correlation gate (±2 h). */
  val XcorrLags: Seq[Long] = Seq(-2L, -1L, 0L, 1L, 2L)

  /** The m_alert rule in the reference's config.txt syntax, parsed at
    * query build ([[graft.config.StoreConfig]]) — the alert evaluator
    * is an API over config, not a hard-coded plan. */
  val AlertConfigText: String =
    """alert {
      |  comment: "hourly mean above 62 for 3+ consecutive hours"
      |  variable { name: "*" }
      |  aggregation: AVERAGE
      |  sample_frequency: 3600000
      |  condition: GT
      |  threshold: 62.0
      |  min_periods: 3
      |}""".stripMargin

  /** events.parquet → canonical points with series key (adapter-built
    * fast key — bit-identical to the generic one on this domain, see
    * [[PointSource.eventsKeyed]]). */
  private def pts(s: SparkSession, dir: String): DataFrame =
    PointSource.eventsKeyed(s, dir)

  /** skey "/events/click{user=3}" → (name, usr) output columns.
    * substring_index, not regexp_extract: identical output on this
    * key shape (name = prefix before the first `{`, "" when skey
    * starts with `{`, null on null; usr = text between `{user=` and
    * the closing `}`), but ~15% cheaper per row across the ~40 events
    * gates that unkey their output (MicroProfile unkey-substr 0.276 s
    * vs unkey-regex 0.322 s over the full keyed frame) — no regex
    * compilation or backtracking in the hot projection. An skey
    * without `{user=` gets usr "" (as regexp_extract would), not the
    * junk suffix substring_index returns when the delimiter is absent.
    * Shared by the API gates. */
  private[graft] def unkey(df: DataFrame): DataFrame =
    df.withColumn("name", substring_index(col("skey"), "{", 1))
      .withColumn("usr", when(!col("skey").contains("{user="), lit(""))
        .otherwise(substring_index(
          substring_index(col("skey"), "{user=", -1), "}", 1)))

  private def seriesW = Window.partitionBy("skey").orderBy("ts")

  /** Cross-engine-deterministic 4dp rounding for MEAN gates:
    * `floor(x·10⁴ + 0.5)/10⁴` — only IEEE ops (*, +, floor, /), each
    * correctly rounded, so identical doubles in ⇒ identical doubles
    * out on any engine. Spark's `round(d, 4)` half-ups the SHORTEST
    * DECIMAL REPR of the double while DuckDB's rounds numerically;
    * they disagree exactly when a mean of finite-decimal inputs lands
    * on a true .00005 tie (observed: 2/3600 rows at 10× bench scale,
    * e.g. 37.06625 → Spark .0663, DuckDB .0662). Exact-decimal SUMS
    * can't tie at 4dp (2dp inputs), so plain round stays fine there. */
  private[graft] def r4(c: Column): Column =
    floor(c * 10000 + 0.5).cast("double") / 10000

  /** SQL twin of [[r4]]. */
  private[graft] def r4Sql(x: String): String =
    s"floor(($x) * 10000 + cast(0.5 as double)) / 10000"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: rate →
    * 1h mean → cross-stream average by name (reference CLI shape
    * `get /events/&#42; rate mean=1h aggregate=name`). */
  def entry(spark: SparkSession): DataFrame = {
    val df = pts(spark, "/root/testdata/sf0.001")
    val rated = Mutations.rate(df, perSecond = true)
    val resampled = unkey(Mutations.meanGrid(rated, HourMs))
    Aggregations.byName(resampled, Aggregations.Average, HourMs)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ PipelineEntry.queries ++ ApiEntry.queries ++
      AnalyticsEntry.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ relational basics
    "q1_agg" -> ((s, dir) => {
      graft.sources.Tables.parquetCached(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("n"))
    }),
    "q_join_nation" -> ((s, dir) => {
      val li = graft.sources.Tables.parquetCached(s, s"$dir/lineitem.parquet")
      val o = graft.sources.Tables.parquetCached(s, s"$dir/orders.parquet")
      val c = graft.sources.Tables.parquetCached(s, s"$dir/customer.parquet")
      val n = graft.sources.Tables.parquetCached(s, s"$dir/nation.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q3-shape shipping-priority query: date-windowed orders ×
    // late-shipped lineitems, revenue per order, top 10. Anchors the
    // optimizer story the metrics queries don't: BOTH date predicates
    // push to their parquet scans (row-group pruning), the join sees
    // pre-filtered sides (AQE picks the build side), and the top-10 is
    // TakeOrderedAndProject — per-partition heads, never a global
    // sort. Revenue rounds BEFORE ordering so the cutoff is
    // float-stable; o_orderkey breaks ties deterministically.
    "q3_shipping" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp_ntz")
      val li = graft.sources.Tables.parquetCached(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > cut)
      val o = graft.sources.Tables.parquetCached(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") < cut)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("odate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-shape local-supplier revenue: the 6-table star join.
    // Anchors the broadcast story: region/nation/customer/supplier are
    // dimensions (broadcast under AQE), orders carries the pushed date
    // range, and the only big-side shuffle is lineitem ⋈ orders. The
    // c_nationkey = s_nationkey equality rides the join output as a
    // filter, exactly as TPC-H writes it.
    "q5_local_supplier" -> ((s, dir) => {
      val y0 = lit("1997-01-01").cast("timestamp_ntz")
      val y1 = lit("1998-01-01").cast("timestamp_ntz")
      val li = graft.sources.Tables.parquetCached(s, s"$dir/lineitem.parquet")
      val o = graft.sources.Tables.parquetCached(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= y0 && col("o_orderdate") < y1)
      val c = graft.sources.Tables.parquetCached(s, s"$dir/customer.parquet")
      val su = graft.sources.Tables.parquetCached(s, s"$dir/supplier.parquet")
      val n = graft.sources.Tables.parquetCached(s, s"$dir/nation.parquet")
      val r = graft.sources.Tables.parquetCached(s, s"$dir/region.parquet")
        .filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"), count(lit(1)).as("n_items"))
    }),

    // ------------------------------------- per-stream mutations (§2.1)
    "m_rate" -> ((s, dir) =>
      unkey(Mutations.rate(pts(s, dir), perSecond = true))
        .select("name", "usr", "ts", "dval")),
    "m_rate_signed" -> ((s, dir) =>
      unkey(Mutations.rateSigned(pts(s, dir), perSecond = true))
        .select("name", "usr", "ts", "dval")),
    "m_delta" -> ((s, dir) =>
      unkey(Mutations.delta(pts(s, dir)))
        .select("name", "usr", "ts", "dval")),
    "m_mean_grid" -> ((s, dir) =>
      unkey(Mutations.meanGrid(pts(s, dir), HourMs))
        .select(col("name"), col("usr"), col("ts"), round(col("dval"), 4).as("dval"))),
    "m_min_grid" -> ((s, dir) =>
      unkey(Mutations.minGrid(pts(s, dir), HourMs))
        .select("name", "usr", "ts", "dval")),
    "m_max_grid" -> ((s, dir) =>
      unkey(Mutations.maxGrid(pts(s, dir), HourMs))
        .select("name", "usr", "ts", "dval")),
    "m_latest_grid" -> ((s, dir) =>
      unkey(Mutations.latestGrid(pts(s, dir), HourMs))
        .select("name", "usr", "ts", "dval")),
    "m_stddev_grid" -> ((s, dir) =>
      unkey(Mutations.stddevGrid(pts(s, dir), HourMs))
        .select(col("name"), col("usr"), col("ts"), round(col("dval"), 4).as("dval"))),

    // --------------------------------- cross-stream aggregations (§2.2)
    // NOTE on round(.,4): Average/Sum ride exact decimal(38,12) sums
    // (see Aggregations.AggType) so partial-agg order cannot move the
    // 4th decimal; the matching oracles use the same decimal form.
    // Plain double sums here would flip ~1-per-million rows at a
    // .00005 half-way boundary (observed at 10× bench scale).
    "agg_avg_byname" -> ((s, dir) =>
      Aggregations.byName(pts(s, dir), Aggregations.Average, HourMs)
        .select(col("name"), col("ts"), r4(col("dval")).as("dval"))),
    "agg_sum_byname" -> ((s, dir) =>
      Aggregations.byName(pts(s, dir), Aggregations.Sum, HourMs)
        .select(col("name"), col("ts"), round(col("dval"), 4).as("dval"))),
    "agg_max_byname" -> ((s, dir) =>
      Aggregations.byName(pts(s, dir), Aggregations.Max, HourMs)
        .select("name", "ts", "dval")),
    "agg_min_byname" -> ((s, dir) =>
      Aggregations.byName(pts(s, dir), Aggregations.Min, HourMs)
        .select("name", "ts", "dval")),
    "agg_median_byname" -> ((s, dir) =>
      Aggregations.byName(pts(s, dir), Aggregations.Median, HourMs)
        .select("name", "ts", "dval")),
    "agg_sum_bylabel" -> ((s, dir) =>
      Aggregations.byLabel(pts(s, dir), "user", Aggregations.Sum, HourMs,
          preserveConstantLabels = false)
        .select(col("name"), element_at(col("labels"), "user").as("usr"),
          col("ts"), round(col("dval"), 4).as("dval"))),

    // Percentile downsample: exact interpolated p50/p95 per series per
    // hour bucket (Spark `percentile` ≡ DuckDB `quantile_cont`, proven
    // by ev_quantiles). Exact percentiles can't partial-aggregate, but
    // the group is one series-hour — bounded rows per group at any
    // corpus size.
    "m_pctl_grid" -> ((s, dir) =>
      unkey(pts(s, dir)
          .groupBy(col("skey"),
            (col("ts") - pmod(col("ts"), lit(HourMs))).as("bts"))
          .agg(max("ts").as("ts"),
            round(expr("percentile(dval, 0.5)"), 4).as("p50"),
            round(expr("percentile(dval, 0.95)"), 4).as("p95")))
        .select("name", "usr", "ts", "p50", "p95")),

    // Hour-of-day seasonal profile per metric: the diurnal baseline a
    // dashboard draws under "today" and an anomaly detector subtracts
    // before thresholding. One map-side-combinable groupBy to
    // O(#names × 24) rows.
    // the seasonal-profile mean rides the same decimal-exact sum + r4
    // rounding as Aggregations.Average: hour-of-day groups are huge
    // (corpus/120), so a double avg WILL eventually land on a .00005
    // tie (observed at 10× bench scale) and split the engines.
    "m_seasonal" -> ((s, dir) =>
      unkey(pts(s, dir))
        .groupBy(col("name"),
          (pmod(col("ts"), lit(24L * HourMs)) / HourMs).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          r4(when(count(col("dval")) > 0,
            sum(col("dval").cast("decimal(38,12)")).cast("double") /
              count(col("dval")))).as("avg_val"),
          round(stddev_pop("dval"), 4).as("sd_val"))),

    // Robust spread: median absolute deviation per series-hour — the
    // outlier-immune twin of m_stddev_grid (one wild point saturates a
    // stddev control chart; MAD shrugs it off). Exact two-pass shape:
    // per-bucket medians, joined back on the SAME (series, bucket) key
    // the points already shuffled on, then the median of |x − med| —
    // the join and second aggregation reuse that clustering, so the
    // plan pays two point-shuffles total and every group stays one
    // bounded series-hour.
    "m_mad_grid" -> ((s, dir) => {
      val p = pts(s, dir)
        .withColumn("bts", col("ts") - pmod(col("ts"), lit(HourMs)))
      val med = p.groupBy("skey", "bts")
        .agg(expr("percentile(dval, 0.5)").as("med"), count(lit(1)).as("n"))
      // (med, n) ride the grouping key — functionally determined by
      // (skey, bts) through the join — instead of first() aggregates,
      // which drop the hash aggregate off its fast path (measured 15×
      // on the dedup pair aggregate; same shape here)
      unkey(p.join(med, Seq("skey", "bts"))
          .groupBy(col("skey"), col("bts").as("ts"), col("n"), col("med"))
          .agg(round(expr("percentile(abs(dval - med), 0.5)"), 4).as("mad")))
        .select(col("name"), col("usr"), col("ts"), col("n"),
          round(col("med"), 4).as("med"), col("mad"))
    }),

    // Dense-grid LOCF gap fill: every series rendered onto a complete
    // hour grid between its first and last bucket, missing hours
    // carrying the last observed value forward — the dashboard
    // "connect the gaps" render (linear fill is m_interpolate).
    // Same shape as Rle.expand: each observed bucket explodes forward
    // to the hour before the next one (lead window + sequence) — no
    // dense-grid join, no second window; the explode is map-side, so
    // the shuffled volume is the OBSERVED buckets, not the filled grid
    // (the join-then-backfill alternative shuffled the full grid and
    // benched 3× slower).
    "m_locf_grid" -> ((s, dir) => {
      val b = pts(s, dir)
        .groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(HourMs))).as("bts"))
        .agg(max_by(col("dval"), col("ts")).as("v"))
      val w = Window.partitionBy("skey").orderBy("bts")
      // The window exchange is pinned to the session's shuffle
      // parallelism (it REPLACES the ENSURE_REQUIREMENTS exchange —
      // same key, no extra shuffle): AQE sizes post-shuffle stages by
      // the exchange's INPUT bytes, and the observed buckets are ~400 KB
      // here, so it coalesced this stage to ONE task — which then
      // emitted the ×47-exploded dense grid (462k rows + the unkey
      // projection) serially. A generator stage's cost is its OUTPUT
      // rows; byte-based coalescing is structurally wrong below it.
      val parts = s.sessionState.conf.numShufflePartitions
      unkey(b.repartition(parts, col("skey"))
          .withColumn("next_bts", lead("bts", 1).over(w))
          .select(col("skey"), col("v"),
            explode(sequence(col("bts"),
              coalesce(col("next_bts") - HourMs, col("bts")),
              lit(HourMs))).as("gts")))
        .select(col("name"), col("usr"), col("gts").as("ts"),
          round(col("v"), 4).as("dval"))
    }),

    // RLE output contract for the LOCF render: maximal equal-valued
    // grid stretches emit ONE run row (ts, end_ts) — LOCF fill repeats
    // the last observed value, so consecutive observed buckets with an
    // equal value merge even across filled gaps. Rle.expand of this
    // equals m_locf_grid (PropertySpec); output volume = value CHANGES,
    // fully decoupled from grid density at 100 TB.
    "m_locf_rle" -> ((s, dir) =>
      unkey(graft.operators.Mutations.locfGridRle(pts(s, dir), HourMs))
        .select(col("name"), col("usr"), col("ts"), col("end_ts"),
          round(col("dval"), 4).as("dval"))),

    // Alert-rule evaluation ("mean > 62 sustained ≥ 3 consecutive
    // hours") — the reference leaves alerting to clients; here the
    // rule text (config.txt syntax, [[AlertConfigText]]) is PARSED and
    // evaluated by the Alerts API: hourly means → condition filter →
    // gap sessionization of the violation hours → episode stats with
    // the min-periods gate. Two shuffles total (grid agg, episode
    // window), both on the name key.
    "m_alert" -> ((s, dir) => {
      val rule = graft.config.StoreConfig.parse(AlertConfigText).alerts.head
      graft.operators.Alerts.evaluate(pts(s, dir), rule)
        .withColumnRenamed("n_periods", "n_hours")
    }),

    // Cross-series binary op (the PromQL `a / b` shape): error-rate
    // ratio = hourly error count over hourly click count, aligned on
    // the grid. Two partial-agg scans of one source collapse into one
    // groupBy with conditional counts — NO join at all; missing
    // denominators yield null, as PromQL drops unmatched samples.
    "agg_ratio" -> ((s, dir) =>
      unkey(pts(s, dir))
        .groupBy((col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"))
        .agg(
          count(when(col("name") === "/events/error", 1)).as("n_err"),
          count(when(col("name") === "/events/click", 1)).as("n_click"))
        .withColumn("ratio",
          round(col("n_err") / when(col("n_click") > 0, col("n_click")), 4))),

    // Time-offset comparison (PromQL `offset 24h`): each series-hour
    // mean vs its own value a day earlier — day-over-day drift. The
    // offset lookup is a lag window over the hour grid guarded to
    // exactly 24 steps, not a self-join: the grid is dense here, and
    // the guard keeps sparse grids correct (missing hour ⇒ null).
    "agg_dod" -> ((s, dir) => {
      val g = unkey(Mutations.meanGrid(pts(s, dir), HourMs))
        .select(col("name"), col("usr"), col("bucket_ts"), col("dval"))
      val w = Window.partitionBy("name", "usr").orderBy("bucket_ts")
      g.withColumn("prev_ts", lag("bucket_ts", 24).over(w))
        .withColumn("prev", lag("dval", 24).over(w))
        .withColumn("dod",
          round(col("dval") - when(
            col("prev_ts") === col("bucket_ts") - 24L * HourMs, col("prev")), 4))
        .select(col("name"), col("usr"), col("bucket_ts").as("ts"),
          round(col("dval"), 4).as("dval"), col("dod"))
    }),

    // Dashboard heatmap: (name, hour, value-bin) counts — one shuffle
    // with map-side partials; the bin floor is exact on both sides so
    // no rounding is involved at all.
    "agg_heatmap" -> ((s, dir) =>
      unkey(pts(s, dir))
        .groupBy(col("name"),
          (col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"),
          (floor(col("dval") / 100) * 100).cast("long").as("vbin"))
        .agg(count(lit(1)).as("n"))
        .select("name", "ts", "vbin", "n")),

    // Hierarchical rollup: per-(metric, series), per-metric, and
    // grand-total stats in ONE pass via grouping sets (ROLLUP) —
    // Spark's Expand feeds one shuffle with map-side partials instead
    // of three separate aggregation jobs over the same scan. The
    // grouping level rides grouping_id() so the three levels stay
    // distinguishable after the null-fill.
    "agg_rollup" -> ((s, dir) =>
      unkey(pts(s, dir))
        .rollup(col("name"), col("usr"))
        .agg(count(lit(1)).as("n"), round(sum("dval"), 4).as("total"),
          grouping_id().as("lvl"))),

    // Cross-metric Pearson correlation on the aligned hour grid:
    // meanGrid per REQUESTED name, equi-join on the grid timestamp,
    // corr per name pair. The name set is part of the request (the
    // real correlation-query shape): per-ts join fan-out is bounded by
    // |request|² ≤ 25 here, never fleet-wide name cardinality — an
    // unbounded ts-only self-join is per-ts quadratic in #names. The
    // pair inequality rides the join condition, so mirror pairs die
    // inside the join, not in a post-filter.
    "agg_corr" -> ((s, dir) => {
      // scope lands on the raw event_type column -> parquet pushed
      // filter (plan-audited); a name filter post-concat cannot push
      val scoped = graft.sources.PointSource.eventsKeyed(s, dir, CorrNames)
      val g = Aggregations.byName(scoped, Aggregations.Average, HourMs)
      val a = g.select(col("name").as("name_a"), col("ts"), col("dval").as("va"))
      val b = g.select(col("name").as("name_b"), col("ts").as("ts_b"),
        col("dval").as("vb"))
      a.join(b, col("ts") === col("ts_b") && col("name_a") < col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(count(lit(1)).as("n"), (round(corr(col("va"), col("vb")), 4) + 0.0).as("r"))
    }),

    // Lagged cross-correlation between metric pairs: corr(a(t), b(t+L))
    // for L in ±2 h of hourly grid — the lead/lag detector ("errors
    // rise one hour after clicks") the plain agg_corr cannot see.
    // Shape: the tiny hourly grid (names × hours, agg'd first) is what
    // explodes ×5 lags and joins — never the raw points; one grid agg
    // shuffle + one equi-join on the shifted bucket.
    "agg_xcorr" -> ((s, dir) => {
      val scoped = graft.sources.PointSource.eventsKeyed(s, dir, CorrNames)
      val g = Aggregations.byName(scoped, Aggregations.Average, HourMs)
      val a = g.select(col("name").as("name_a"), col("ts"), col("dval").as("va"))
        .withColumn("lag", explode(array(XcorrLags.map(l => lit(l)): _*)))
      val b = g.select(col("name").as("name_b"), col("ts").as("ts_b"),
        col("dval").as("vb"))
      a.join(b, col("ts_b") === col("ts") + col("lag") * HourMs &&
          col("name_a") < col("name_b"))
        .groupBy("name_a", "name_b", "lag")
        .agg(count(lit(1)).as("n"),
          (round(corr(col("va"), col("vb")), 4) + 0.0).as("r"))
    }),

    // Top-20 series by total load — "which streams are the heaviest".
    // Global order + tiny limit must plan as TakeOrderedAndProject
    // (per-partition top-k, merged on the driver), never a full sort
    // (asserted in PlanAuditSpec).
    "q_top_series" -> ((s, dir) =>
      unkey(pts(s, dir).groupBy("skey")
          .agg(count(lit(1)).as("n"), round(sum("dval"), 4).as("total")))
        .orderBy(col("total").desc, col("name"), col("usr"))
        .limit(20)
        .select("name", "usr", "n", "total")),

    // Winsorized mean per metric: values clipped to the metric's own
    // [p05, p95] before averaging — the robust-aggregation shape. The
    // clip bounds are O(#names) rows (broadcast-safe by schema); means
    // are rounded on both sides.
    "agg_winsor" -> ((s, dir) => {
      val p = unkey(pts(s, dir))
      val bounds = p.groupBy("name").agg(
        expr("percentile(dval, 0.05)").as("lo"),
        expr("percentile(dval, 0.95)").as("hi"))
      p.join(broadcast(bounds), "name")
        .withColumn("clipped", least(greatest(col("dval"), col("lo")), col("hi")))
        .groupBy("name")
        .agg(count(lit(1)).as("n"),
          round(avg("dval"), 4).as("mean_raw"),
          round(avg("clipped"), 4).as("mean_winsor"))
    }),

    // ------------------------------------------ stream infra ops (§2.3)
    "rle_encode" -> ((s, dir) => {
      // double-payload RLE (the oracle's shape); sval runs are covered
      // by RleSpec — events carry distinct props per row as sval, which
      // would (correctly) break every run if left in
      // cast: Spark floor() yields LONG but DuckDB's yields DOUBLE, and
      // the driver's compare hashes the string forms ("0" vs "0.0")
      val df = pts(s, dir).drop("sval")
        .withColumn("dval", (floor(col("dval") / 50) * 50).cast("double"))
      unkey(Rle.encode(df)).select("name", "usr", "ts", "dval", "end_ts")
    }),
    "list_vars" -> ((s, dir) =>
      unkey(pts(s, dir)).select("name", "usr").distinct()),
    "q_tail_limit" -> ((s, dir) =>
      unkey(pts(s, dir)
          .withColumn("rn", row_number().over(
            Window.partitionBy("skey").orderBy(col("ts").desc)))
          .filter(col("rn") <= 5))
        .select("name", "usr", "ts", "dval")),
    "q_pattern_filter" -> ((s, dir) =>
      unkey(pts(s, dir)
          .filter(VariableMatcher.compile("/events/click{user=*}"))
          .filter(col("ts").between(1704500000000L, 1705500000000L)))
        .select("name", "usr", "ts", "dval")),

    // ------------------------------------------- temporal joins (AsOf)
    // Enrich every click with the user's latest purchase at-or-before
    // it (2 h tolerance) — the trades-to-quotes shape. One shuffle on
    // the key, no range explosion (operators/AsOf.scala); DuckDB's
    // native ASOF JOIN is the oracle. The right side pre-aggregates
    // (usr, ts) so the match is deterministic on both engines.
    "ts_asof" -> ((s, dir) => {
      val p = unkey(pts(s, dir))
      val clicks = p.filter(col("name") === "/events/click")
        .select("usr", "ts", "dval")
      val purchases = p.filter(col("name") === "/events/purchase")
        .groupBy("usr", "ts").agg(max("dval").as("pval"))
      AsOf.asofJoin(clicks, purchases, Seq("usr"), toleranceMs = 2 * HourMs)
    }),
    // Forward direction: the user's next signup at-or-after each error
    // (24 h tolerance) — time-to-event attachment.
    "ts_asof_fwd" -> ((s, dir) => {
      val p = unkey(pts(s, dir))
      val errors = p.filter(col("name") === "/events/error")
        .select("usr", "ts", "dval")
      val signups = p.filter(col("name") === "/events/signup")
        .groupBy("usr", "ts").agg(max("dval").as("sval"))
      AsOf.asofJoin(errors, signups, Seq("usr"), direction = AsOf.Forward,
        toleranceMs = 24 * HourMs)
    }),

    // ------------------------------ PromQL-parity composition queries
    // Per-series daily trend: least-squares slope (per hour) of dval
    // over each series-day — deriv()/predict_linear's underlying fit.
    // covar_pop/var_pop spelled explicitly so Spark and DuckDB walk
    // the identical float path; constant-x days yield null.
    "m_trend" -> ((s, dir) => {
      val dayMs = 24L * HourMs
      val x = pmod(col("ts"), lit(dayMs)) / 3600000.0 // hours into the day
      unkey(pts(s, dir))
        .groupBy(col("name"), col("usr"),
          (col("ts") - pmod(col("ts"), lit(dayMs))).as("bts"))
        .agg(count(lit(1)).as("n"),
          covar_pop(x, col("dval")).as("cv"), var_pop(x).as("vr"))
        .select(col("name"), col("usr"), col("bts").as("ts"), col("n"),
          round(when(col("vr") > 0, col("cv") / col("vr")), 4).as("slope"))
    }),
    // predict_linear() parity: extrapolate each series-day's
    // least-squares fit one hour past the day end — pred = ȳ +
    // slope·(25 − x̄) in day-hour units. Same one-shuffle grid agg as
    // m_trend (covar/var/avg ride one map-side-combinable pass).
    "m_predict" -> ((s, dir) => {
      val dayMs = 24L * HourMs
      val x = pmod(col("ts"), lit(dayMs)) / 3600000.0
      unkey(pts(s, dir))
        .groupBy(col("name"), col("usr"),
          (col("ts") - pmod(col("ts"), lit(dayMs))).as("bts"))
        .agg(count(lit(1)).as("n"),
          covar_pop(x, col("dval")).as("cv"), var_pop(x).as("vr"),
          avg(x).as("mx"), avg(col("dval")).as("my"))
        .select(col("name"), col("usr"), col("bts").as("ts"), col("n"),
          round(when(col("vr") > 0,
            col("my") + (col("cv") / col("vr")) * (lit(25.0) - col("mx"))),
            4).as("pred"))
    }),
    // absent()-style gap episodes: intervals where a series reported
    // nothing for > 3 days — the data-loss/scrape-outage detector. One
    // lag window on the series key; emission is the episode, not a
    // per-grid-slot absence flag (bounded output at any idle duration).
    "m_absence" -> ((s, dir) => {
      val w = Window.partitionBy("skey").orderBy("ts")
      unkey(pts(s, dir)
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .filter(col("prev_ts").isNotNull &&
            col("ts") - col("prev_ts") > 259200000L))
        .select(col("name"), col("usr"), col("prev_ts").as("gap_start"),
          col("ts").as("gap_end"),
          (col("ts") - col("prev_ts")).as("gap_ms"))
    }),
    // Counter increase() per series-hour: the sum of positive deltas,
    // with counter-reset protection (negative deltas contribute 0, as
    // PromQL clamps resets). Each delta is attributed to the LATER
    // point's bucket. One window + one shuffle, both on the series key.
    "m_increase" -> ((s, dir) => {
      val w = Window.partitionBy("skey").orderBy("ts")
      unkey(pts(s, dir)
          .withColumn("d", col("dval") - lag("dval", 1).over(w))
          .filter(col("d").isNotNull)
          .withColumn("d", greatest(col("d"), lit(0.0))))
        .groupBy(col("name"), col("usr"),
          (col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"))
        .agg(round(sum("d"), 4).as("increase"), count(lit(1)).as("n"))
    }),
    // Counter resets() per series-hour: how often the counter went
    // backwards — the monitor-the-monitoring query PromQL pairs with
    // increase(). Same window+grid shape as m_increase.
    "m_resets" -> ((s, dir) => {
      val w = Window.partitionBy("skey").orderBy("ts")
      unkey(pts(s, dir)
          .withColumn("d", col("dval") - lag("dval", 1).over(w))
          .filter(col("d").isNotNull))
        .groupBy(col("name"), col("usr"),
          (col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"))
        .agg(count(when(col("d") < 0, 1)).as("resets"), count(lit(1)).as("n"))
    }),
    // Counter changes() per series-hour: how often the value changed
    // at all (PromQL changes() — resets() counts only the backward
    // moves). Same window+grid shape as m_increase/m_resets.
    "m_changes" -> ((s, dir) => {
      val w = Window.partitionBy("skey").orderBy("ts")
      unkey(pts(s, dir)
          .withColumn("d", col("dval") - lag("dval", 1).over(w))
          .filter(col("d").isNotNull))
        .groupBy(col("name"), col("usr"),
          (col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"))
        .agg(count(when(col("d") =!= 0, 1)).as("changes"),
          count(lit(1)).as("n"))
    }),
    // irate() per series-hour: the instantaneous rate from the LAST
    // TWO samples of each bucket (PromQL's spike-sensitive sibling of
    // rate()), with counter-reset protection: a backward move uses the
    // raw last value as the delta, as PromQL does. One row_number
    // window + one grid aggregation on the same (series, bucket) key —
    // a single shuffle, and the rn <= 2 filter lets WindowGroupLimit
    // prune each group to its top rows below the exchange. dval rides
    // the sort as a deterministic tie-break for duplicate timestamps;
    // single-point buckets and zero-dt pairs drop (no rate exists).
    "m_irate" -> ((s, dir) => {
      val p = pts(s, dir)
        .withColumn("bts", col("ts") - pmod(col("ts"), lit(HourMs)))
      val w = Window.partitionBy("skey", "bts")
        .orderBy(col("ts").desc, col("dval").desc)
      unkey(p.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
          // aggregate on the window's own (skey, bucket) clustering —
          // grouping by the regexp-derived (name, usr) instead would
          // force a second exchange Catalyst cannot prove redundant
          .groupBy(col("skey"), col("bts").as("ts"))
          .agg(
            max(when(col("rn") === 1, col("ts"))).as("t1"),
            max(when(col("rn") === 1, col("dval"))).as("v1"),
            max(when(col("rn") === 2, col("ts"))).as("t2"),
            max(when(col("rn") === 2, col("dval"))).as("v2"))
          .filter(col("t2").isNotNull && col("t1") > col("t2")))
        .select(col("name"), col("usr"), col("ts"),
          round(
            when(col("v1") < col("v2"), col("v1"))
              .otherwise(col("v1") - col("v2")) /
              ((col("t1") - col("t2")) / 1000.0), 4).as("irate"))
    }),
    // histogram_quantile(0.9): p90 per (name, hour) interpolated from
    // 100-wide value bins — the PromQL estimator over at-rest bin
    // counts (agg_heatmap's shape). Continuous rank r = 0.9·total;
    // the first bin whose running count reaches r interpolates
    // linearly within its width. Two shuffles: bin counts, then a
    // per-(name, hour) cumulative window over ≤ #bins rows.
    "agg_hist_quantile" -> ((s, dir) => {
      val q = 0.9
      val bins = unkey(pts(s, dir))
        .groupBy(col("name"),
          (col("ts") - pmod(col("ts"), lit(HourMs))).as("ts"),
          (floor(col("dval") / 100) * 100).cast("double").as("lo"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("name", "ts").orderBy("lo")
      val cum = bins
        .withColumn("cum", sum("cnt").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum("cnt").over(
          Window.partitionBy("name", "ts")))
        .withColumn("r", col("total") * q)
      cum.filter(col("cum") >= col("r") &&
          (col("cum") - col("cnt")) < col("r"))
        .select(col("name"), col("ts"),
          round(col("lo") +
            (col("r") - (col("cum") - col("cnt"))) / col("cnt") * 100.0, 4)
            .as("p90"),
          col("total").as("n"))
    }),

    // Nearest direction (pandas merge_asof convention: closer side
    // wins, backward wins ties) — each error attached to the NEAREST
    // view of the same user within 1 h. Both sides pre-aggregated per
    // (usr, ts) so matches are deterministic. One exchange, two sorts.
    "ts_asof_near" -> ((s, dir) => {
      val p = unkey(pts(s, dir))
      val errors = p.filter(col("name") === "/events/error")
        .groupBy("usr", "ts").agg(max("dval").as("dval"))
      val views = p.filter(col("name") === "/events/view")
        .groupBy("usr", "ts").agg(max("dval").as("vval"))
      AsOf.asofJoin(errors, views, Seq("usr"), direction = AsOf.Nearest,
        toleranceMs = HourMs)
    }),

    // ------------------------------------- sliding-window grid (hopping)
    // PromQL range-query shape: 6 h window evaluated every hour. Bucket
    // partials first (shuffled volume = observed buckets), then a
    // RANGE-frame window rolls 6 partials per emission — raw points are
    // never window-scanned (Mutations.slidingGrid).
    "m_sliding_avg" -> ((s, dir) =>
      unkey(Mutations.slidingGrid(pts(s, dir), 6 * HourMs, HourMs,
          Aggregations.Average))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"), col("n"))),
    "m_sliding_max" -> ((s, dir) =>
      unkey(Mutations.slidingGrid(pts(s, dir), 6 * HourMs, HourMs,
          Aggregations.Max))
        .select("name", "usr", "ts", "dval", "n")))

  /** DuckDB-equivalent SQL per query (same output column names). */
  def oracleSql: Map[String, String] = {
    // shared CTE: events adapted onto the canonical point shape
    val P = "WITH pts AS (SELECT '/events/' || event_type AS name, " +
      "CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval FROM events) "
    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          | round(sum(l_extendedprice),2) AS sum_base,
          | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc,
          | round(avg(l_quantity),4) AS avg_qty, count(*) AS n
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q_join_nation" ->
        """SELECT n_name,
          | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin,
      "q5_local_supplier" ->
        """SELECT n_name,
          | round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue,
          | count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY n_name""".stripMargin,
      "q3_shipping" ->
        """SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
          | o_orderpriority,
          | round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue,
          | count(*) AS n_items
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate > TIMESTAMP '1998-06-01'
          |  AND o_orderdate < TIMESTAMP '1998-06-01'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      "m_rate" -> (P +
        """SELECT name, usr, ts, dval FROM (
          | SELECT name, usr, ts,
          |  (dval - lag(dval) OVER w) / ((ts - lag(ts) OVER w)/1000.0) AS dval
          | FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |WHERE dval IS NOT NULL AND dval >= 0""".stripMargin),
      "m_rate_signed" -> (P +
        """SELECT name, usr, ts, dval FROM (
          | SELECT name, usr, ts,
          |  (dval - lag(dval) OVER w) / ((ts - lag(ts) OVER w)/1000.0) AS dval
          | FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |WHERE dval IS NOT NULL""".stripMargin),
      "m_delta" -> (P +
        """SELECT name, usr, ts, dval FROM (
          | SELECT name, usr, ts, dval - lag(dval) OVER w AS dval
          | FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |WHERE dval IS NOT NULL AND dval >= 0""".stripMargin),
      "m_mean_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts, round(avg(dval),4) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_min_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts, min(dval) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_max_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts, max(dval) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_latest_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts, arg_max(dval, ts) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_stddev_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts,
          | round(coalesce(stddev_pop(dval), 0), 4) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      // decimal(38,12) sums mirror Aggregations.Average/Sum exactly:
      // both engines sum the same 12dp decimals (exact, any order) and
      // perform one identical IEEE division/cast — bit-equal at any SF.
      "agg_avg_byname" -> (P +
        s"""SELECT name, ts - ts % 3600000 AS ts,
          | ${r4Sql("CASE WHEN count(dval) > 0 THEN " +
             "CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval) END")} AS dval
          |FROM pts GROUP BY name, ts - ts % 3600000""".stripMargin),
      "agg_sum_byname" -> (P +
        """SELECT name, ts - ts % 3600000 AS ts,
          | round(CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE),4) AS dval
          |FROM pts GROUP BY name, ts - ts % 3600000""".stripMargin),
      "agg_max_byname" -> (P +
        """SELECT name, ts - ts % 3600000 AS ts, max(dval) AS dval
          |FROM pts GROUP BY name, ts - ts % 3600000""".stripMargin),
      "agg_min_byname" -> (P +
        """SELECT name, ts - ts % 3600000 AS ts, min(dval) AS dval
          |FROM pts GROUP BY name, ts - ts % 3600000""".stripMargin),
      "agg_median_byname" -> (P +
        """SELECT name, ts - ts % 3600000 AS ts,
          | list_sort(list(dval))[CAST(floor(count(*)/2) AS INT) + 1] AS dval
          |FROM pts GROUP BY name, ts - ts % 3600000""".stripMargin),
      "agg_sum_bylabel" -> (P +
        """SELECT name, usr, ts - ts % 3600000 AS ts,
          | round(CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE),4) AS dval
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_locf_grid" -> (P +
        """, b AS (SELECT name, usr, ts - ts % 3600000 AS bts,
          |  arg_max(dval, ts) AS v FROM pts GROUP BY 1, 2, 3),
          |s AS (SELECT name, usr, min(bts) AS t0, max(bts) AS t1
          |  FROM b GROUP BY 1, 2),
          |g AS (SELECT name, usr,
          |  3600000 * unnest(range(t0 // 3600000, t1 // 3600000 + 1)) AS bts
          | FROM s),
          |j AS (SELECT g.name, g.usr, g.bts, b.v
          | FROM g LEFT JOIN b USING (name, usr, bts))
          |SELECT name, usr, bts AS ts,
          | round(last_value(v IGNORE NULLS) OVER (PARTITION BY name, usr
          |   ORDER BY bts ROWS UNBOUNDED PRECEDING), 4) AS dval
          |FROM j""".stripMargin),
      // SQL replay of locfGridRle: observed buckets → islands on value
      // change (equal values merge across grid gaps — the filled hours
      // between them carry the same value) → run end = next run start
      // − 1h, or the series' last observed bucket for the final run.
      "m_locf_rle" -> (P +
        """, b AS (SELECT name, usr, ts - ts % 3600000 AS bts,
          |  arg_max(dval, ts) AS v FROM pts GROUP BY 1, 2, 3),
          |mk AS (SELECT name, usr, bts, v,
          |  CASE WHEN lag(v) OVER w = v THEN 0 ELSE 1 END AS chg,
          |  max(bts) OVER (PARTITION BY name, usr) AS t1
          |  FROM b WINDOW w AS (PARTITION BY name, usr ORDER BY bts)),
          |f AS (SELECT name, usr, bts, v, t1 FROM mk WHERE chg = 1),
          |fin AS (SELECT name, usr, bts, v,
          |  coalesce(lead(bts) OVER (PARTITION BY name, usr ORDER BY bts)
          |    - 3600000, t1) AS re
          |  FROM f)
          |SELECT name, usr, bts AS ts,
          | CASE WHEN re > bts THEN re END AS end_ts,
          | round(v, 4) AS dval
          |FROM fin""".stripMargin),
      "m_alert" -> (P +
        """, g AS (SELECT name, ts - ts % 3600000 AS ts,
          |   CASE WHEN count(dval) > 0 THEN
          |    CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval)
          |   END AS v
          |  FROM pts GROUP BY 1, 2),
          |f AS (SELECT * FROM g WHERE v > 62),
          |n AS (SELECT name, ts, v, CASE WHEN lag(ts) OVER w IS NULL
          |   OR ts - lag(ts) OVER w > 3600000 THEN 1 ELSE 0 END AS nb
          | FROM f WINDOW w AS (PARTITION BY name ORDER BY ts)),
          |s AS (SELECT name, ts, v, CAST(sum(nb) OVER (PARTITION BY name
          |  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
          | FROM n)
          |SELECT name, session, min(ts) AS t_start, max(ts) AS t_end,
          | count(*) AS n_hours, round(max(v), 4) AS peak
          |FROM s GROUP BY name, session HAVING count(*) >= 3""".stripMargin),
      "agg_ratio" -> (P +
        """SELECT ts, n_err, n_click,
          | round(n_err * 1.0 / (CASE WHEN n_click > 0 THEN n_click END), 4)
          |  AS ratio
          |FROM (SELECT ts - ts % 3600000 AS ts,
          |  count(CASE WHEN name = '/events/error' THEN 1 END) AS n_err,
          |  count(CASE WHEN name = '/events/click' THEN 1 END) AS n_click
          | FROM pts GROUP BY 1)""".stripMargin),
      "agg_dod" -> (P +
        """, g AS (SELECT name, usr, ts - ts % 3600000 AS bts, avg(dval) AS v
          |  FROM pts GROUP BY name, usr, ts - ts % 3600000),
          |l AS (SELECT name, usr, bts, v,
          |  lag(bts, 24) OVER w AS pbts, lag(v, 24) OVER w AS pv
          | FROM g WINDOW w AS (PARTITION BY name, usr ORDER BY bts))
          |SELECT name, usr, bts AS ts, round(v, 4) AS dval,
          | round(v - (CASE WHEN pbts = bts - 86400000 THEN pv END), 4) AS dod
          |FROM l""".stripMargin),
      "m_pctl_grid" -> (P +
        """SELECT name, usr, max(ts) AS ts,
          | round(quantile_cont(dval, 0.5), 4) AS p50,
          | round(quantile_cont(dval, 0.95), 4) AS p95
          |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "agg_heatmap" -> (P +
        """SELECT name, ts - ts % 3600000 AS ts,
          | CAST(floor(dval/100)*100 AS BIGINT) AS vbin, count(*) AS n
          |FROM pts GROUP BY 1, 2, 3""".stripMargin),
      "agg_corr" -> (P +
        s""", g AS (SELECT name, ts - ts % 3600000 AS ts,
          |   CASE WHEN count(dval) > 0 THEN
          |    CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval)
          |   END AS v
          |  FROM pts
          |  WHERE name IN (${CorrNames.map(n => s"'/events/$n'").mkString(", ")})
          |  GROUP BY 1, 2)
          |SELECT a.name AS name_a, b.name AS name_b, count(*) AS n,
          | round(corr(a.v, b.v), 4) + 0.0 AS r
          |FROM g a JOIN g b USING (ts) WHERE a.name < b.name
          |GROUP BY 1, 2""".stripMargin),
      "agg_xcorr" -> (P +
        s""", g AS (SELECT name, ts - ts % 3600000 AS ts,
          |   CASE WHEN count(dval) > 0 THEN
          |    CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval)
          |   END AS v
          |  FROM pts
          |  WHERE name IN (${CorrNames.map(n => s"'/events/$n'").mkString(", ")})
          |  GROUP BY 1, 2),
          |l AS (SELECT CAST(unnest([${XcorrLags.mkString(", ")}]) AS BIGINT) AS lag)
          |SELECT a.name AS name_a, b.name AS name_b, l.lag, count(*) AS n,
          | round(corr(a.v, b.v), 4) + 0.0 AS r
          |FROM g a CROSS JOIN l
          |JOIN g b ON b.ts = a.ts + l.lag * 3600000 AND a.name < b.name
          |GROUP BY 1, 2, 3""".stripMargin),
      "q_top_series" -> (P +
        """SELECT name, usr, n, total FROM (
          | SELECT name, usr, count(*) AS n, round(sum(dval), 4) AS total
          | FROM pts GROUP BY name, usr)
          |ORDER BY total DESC, name, usr LIMIT 20""".stripMargin),
      "agg_winsor" -> (P +
        """, b AS (SELECT name, quantile_cont(dval, 0.05) AS lo,
          |  quantile_cont(dval, 0.95) AS hi FROM pts GROUP BY name)
          |SELECT name, count(*) AS n, round(avg(dval), 4) AS mean_raw,
          | round(avg(least(greatest(dval, lo), hi)), 4) AS mean_winsor
          |FROM pts JOIN b USING (name) GROUP BY name""".stripMargin),
      "rle_encode" -> (
        """WITH pts AS (SELECT '/events/' || event_type AS name,
          |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts,
          |  floor(value/50)*50 AS dval FROM events),
          |chg AS (SELECT *, CASE WHEN lag(dval) OVER w IS NULL
          |   OR lag(dval) OVER w <> dval THEN 1 ELSE 0 END AS c
          |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts)),
          |runs AS (SELECT *, sum(c) OVER (PARTITION BY name, usr ORDER BY ts
          |  ROWS UNBOUNDED PRECEDING) AS run FROM chg)
          |SELECT name, usr, min(ts) AS ts, min(dval) AS dval,
          | CASE WHEN count(*) > 1 THEN max(ts) END AS end_ts
          |FROM runs GROUP BY name, usr, run""".stripMargin),
      "list_vars" ->
        """SELECT DISTINCT '/events/' || event_type AS name,
          | CAST(user_id AS VARCHAR) AS usr FROM events""".stripMargin,
      "q_tail_limit" -> (P +
        """SELECT name, usr, ts, dval FROM (
          | SELECT *, row_number() OVER (PARTITION BY name, usr ORDER BY ts DESC) AS rn
          | FROM pts) WHERE rn <= 5""".stripMargin),
      "q_pattern_filter" -> (P +
        """SELECT name, usr, ts, dval FROM pts
          |WHERE name = '/events/click' AND usr IS NOT NULL AND usr <> ''
          | AND ts BETWEEN 1704500000000 AND 1705500000000""".stripMargin),
      "m_trend" -> (P +
        """SELECT name, usr, ts - ts % 86400000 AS ts, count(*) AS n,
          | round(CASE WHEN var_pop((ts % 86400000)/3600000.0) > 0
          |  THEN covar_pop((ts % 86400000)/3600000.0, dval)
          |       / var_pop((ts % 86400000)/3600000.0) END, 4) AS slope
          |FROM pts GROUP BY name, usr, ts - ts % 86400000""".stripMargin),
      "m_predict" -> (P +
        """SELECT name, usr, ts - ts % 86400000 AS ts, count(*) AS n,
          | round(CASE WHEN var_pop((ts % 86400000)/3600000.0) > 0
          |  THEN avg(dval)
          |   + (covar_pop((ts % 86400000)/3600000.0, dval)
          |      / var_pop((ts % 86400000)/3600000.0))
          |     * (25.0 - avg((ts % 86400000)/3600000.0)) END, 4) AS pred
          |FROM pts GROUP BY name, usr, ts - ts % 86400000""".stripMargin),
      "m_absence" -> (P +
        """, g AS (SELECT name, usr, ts, lag(ts) OVER w AS prev_ts
          |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |SELECT name, usr, prev_ts AS gap_start, ts AS gap_end,
          | ts - prev_ts AS gap_ms
          |FROM g WHERE prev_ts IS NOT NULL AND ts - prev_ts > 259200000""".stripMargin),
      "m_increase" -> (P +
        """, dd AS (SELECT name, usr, ts, dval - lag(dval) OVER w AS d
          |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |SELECT name, usr, ts - ts % 3600000 AS ts,
          | round(sum(greatest(d, 0)), 4) AS increase, count(*) AS n
          |FROM dd WHERE d IS NOT NULL
          |GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_resets" -> (P +
        """, dd AS (SELECT name, usr, ts, dval - lag(dval) OVER w AS d
          |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |SELECT name, usr, ts - ts % 3600000 AS ts,
          | count(CASE WHEN d < 0 THEN 1 END) AS resets, count(*) AS n
          |FROM dd WHERE d IS NOT NULL
          |GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_seasonal" -> (P +
        s"""SELECT name, (ts % 86400000) // 3600000 AS hod, count(*) AS n,
          | ${r4Sql("CASE WHEN count(dval) > 0 THEN " +
             "CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE)" +
             " / count(dval) END")} AS avg_val,
          | round(stddev_pop(dval), 4) AS sd_val
          |FROM pts GROUP BY 1, 2""".stripMargin),
      "m_mad_grid" -> (P +
        """, g AS (SELECT name, usr, ts - ts % 3600000 AS bts, dval FROM pts),
          |med AS (SELECT name, usr, bts, quantile_cont(dval, 0.5) AS med,
          |   count(*) AS n FROM g GROUP BY 1, 2, 3)
          |SELECT m.name, m.usr, m.bts AS ts, m.n AS n,
          | round(m.med, 4) AS med,
          | round(quantile_cont(abs(g.dval - m.med), 0.5), 4) AS mad
          |FROM g JOIN med m USING (name, usr, bts)
          |GROUP BY m.name, m.usr, m.bts, m.n, m.med""".stripMargin),
      "m_changes" -> (P +
        """, dd AS (SELECT name, usr, ts, dval - lag(dval) OVER w AS d
          |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
          |SELECT name, usr, ts - ts % 3600000 AS ts,
          | count(CASE WHEN d <> 0 THEN 1 END) AS changes, count(*) AS n
          |FROM dd WHERE d IS NOT NULL
          |GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
      "m_irate" -> (P +
        """, rk AS (SELECT name, usr, ts - ts % 3600000 AS bts, ts, dval,
          |   row_number() OVER (PARTITION BY name, usr, ts - ts % 3600000
          |     ORDER BY ts DESC, dval DESC) AS rn
          |  FROM pts),
          |two AS (SELECT name, usr, bts,
          |   max(CASE WHEN rn = 1 THEN ts END) AS t1,
          |   max(CASE WHEN rn = 1 THEN dval END) AS v1,
          |   max(CASE WHEN rn = 2 THEN ts END) AS t2,
          |   max(CASE WHEN rn = 2 THEN dval END) AS v2
          |  FROM rk WHERE rn <= 2 GROUP BY 1, 2, 3)
          |SELECT name, usr, bts AS ts,
          | round((CASE WHEN v1 < v2 THEN v1 ELSE v1 - v2 END)
          |       / ((t1 - t2) / 1000.0), 4) AS irate
          |FROM two WHERE t2 IS NOT NULL AND t1 > t2""".stripMargin),
      "agg_rollup" -> (P +
        """SELECT name, usr, count(*) AS n, round(sum(dval), 4) AS total,
          | GROUPING(name, usr) AS lvl
          |FROM pts GROUP BY ROLLUP (name, usr)""".stripMargin),
      "agg_hist_quantile" -> (P +
        """, bins AS (SELECT name, ts - ts % 3600000 AS ts,
          |   CAST(floor(dval/100)*100 AS DOUBLE) AS lo, count(*) AS cnt
          |  FROM pts GROUP BY 1, 2, 3),
          |c AS (SELECT name, ts, lo, cnt,
          |  sum(cnt) OVER (PARTITION BY name, ts ORDER BY lo
          |    ROWS UNBOUNDED PRECEDING) AS cum,
          |  sum(cnt) OVER (PARTITION BY name, ts) AS total
          | FROM bins)
          |SELECT name, ts,
          | round(lo + (total*0.9 - (cum - cnt)) / cnt * 100.0, 4) AS p90,
          | CAST(total AS BIGINT) AS n
          |FROM c WHERE cum >= total*0.9 AND (cum - cnt) < total*0.9""".stripMargin),
      "ts_asof" -> (P +
        """, l AS (SELECT usr, ts, dval FROM pts WHERE name = '/events/click'),
          |r AS (SELECT usr, ts, max(dval) AS pval FROM pts
          |      WHERE name = '/events/purchase' GROUP BY usr, ts)
          |SELECT l.usr, l.ts, l.dval,
          | CASE WHEN l.ts - r.ts <= 7200000 THEN r.ts END AS ref_ts,
          | CASE WHEN l.ts - r.ts <= 7200000 THEN r.pval END AS ref_pval
          |FROM l ASOF LEFT JOIN r ON l.usr = r.usr AND l.ts >= r.ts""".stripMargin),
      "ts_asof_fwd" -> (P +
        """, l AS (SELECT usr, ts, dval FROM pts WHERE name = '/events/error'),
          |r AS (SELECT usr, ts, max(dval) AS sval FROM pts
          |      WHERE name = '/events/signup' GROUP BY usr, ts)
          |SELECT l.usr, l.ts, l.dval,
          | CASE WHEN r.ts - l.ts <= 86400000 THEN r.ts END AS ref_ts,
          | CASE WHEN r.ts - l.ts <= 86400000 THEN r.sval END AS ref_sval
          |FROM l ASOF LEFT JOIN r ON l.usr = r.usr AND l.ts <= r.ts""".stripMargin),
      "ts_asof_near" -> (P +
        """, l AS (SELECT usr, ts, max(dval) AS dval FROM pts
          |       WHERE name = '/events/error' GROUP BY usr, ts),
          |r AS (SELECT usr, ts, max(dval) AS vval FROM pts
          |      WHERE name = '/events/view' GROUP BY usr, ts),
          |b AS (SELECT l.usr, l.ts, l.dval, r.ts AS bts, r.vval AS bval
          |      FROM l ASOF LEFT JOIN r ON l.usr = r.usr AND l.ts >= r.ts),
          |f AS (SELECT l.usr, l.ts, r.ts AS fts, r.vval AS fval
          |      FROM l ASOF LEFT JOIN r ON l.usr = r.usr AND l.ts <= r.ts),
          |j AS (SELECT b.usr, b.ts, b.dval, bts, bval, fts, fval,
          |  (bts IS NOT NULL AND b.ts - bts <= 3600000) AS bok,
          |  (fts IS NOT NULL AND fts - b.ts <= 3600000) AS fok
          | FROM b JOIN f ON b.usr = f.usr AND b.ts = f.ts)
          |SELECT usr, ts, dval,
          | CASE WHEN bok AND (NOT fok OR (ts - bts) <= (fts - ts)) THEN bts
          |      WHEN fok THEN fts END AS ref_ts,
          | CASE WHEN bok AND (NOT fok OR (ts - bts) <= (fts - ts)) THEN bval
          |      WHEN fok THEN fval END AS ref_vval
          |FROM j""".stripMargin),
      "m_sliding_avg" -> (P +
        """, part AS (SELECT name, usr, ts - ts % 3600000 AS b,
          |  sum(dval) AS s, count(*) AS c FROM pts
          |  GROUP BY name, usr, ts - ts % 3600000)
          |SELECT name, usr, b AS ts,
          | round(sum(s) OVER w / sum(c) OVER w, 4) AS dval,
          | CAST(sum(c) OVER w AS BIGINT) AS n
          |FROM part WINDOW w AS (PARTITION BY name, usr ORDER BY b
          | RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW)""".stripMargin),
      "m_sliding_max" -> (P +
        """, part AS (SELECT name, usr, ts - ts % 3600000 AS b,
          |  max(dval) AS mx, count(*) AS c FROM pts
          |  GROUP BY name, usr, ts - ts % 3600000)
          |SELECT name, usr, b AS ts, max(mx) OVER w AS dval,
          | CAST(sum(c) OVER w AS BIGINT) AS n
          |FROM part WINDOW w AS (PARTITION BY name, usr ORDER BY b
          | RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW)""".stripMargin)) ++
      PipelineEntry.oracleSql ++ ApiEntry.oracleSql ++ AnalyticsEntry.oracleSql
  }
}
