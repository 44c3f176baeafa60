package graft

import graft.SparkEntry.unkey
import graft.api.{Engine, Requests}
import graft.model.Point
import graft.multimodal.Multimodal
import graft.operators.{Aggregations, Mutations}
import graft.sources.{PointSource, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver queries for the request API (Engine.get/list), the exact
 * resamplers, the EWMA/anomaly recurrences, and the multimodal
 * plumbing — with DuckDB oracles mirroring each pipeline
 * stage-for-stage (sequential recurrences replayed as recursive CTEs).
 */
object ApiEntry {

  private val H = 3600000L
  /** Fixed "now" for list(): 2024-01-31T00:00Z, just past the data. */
  private val NowMs = 1706659200000L

  /** Adapter-keyed events (skey pre-built by the cheap events-domain
    * concat — bit-identical to the generic key here, see
    * [[PointSource.eventsKeyed]]; Engine.get/list honor it). */
  private def pts(s: SparkSession, dir: String): DataFrame =
    PointSource.eventsKeyed(s, dir)

  /** Shared oracle CTE (same as SparkEntry's P). */
  private val P = "WITH pts AS (SELECT '/events/' || event_type AS name, " +
    "CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval FROM events) "

  /** Cross-engine-deterministic 4dp rounding for MEAN outputs — see
    * SparkEntry.r4: Spark's round(d,4) half-ups the double's shortest
    * decimal repr, DuckDB's rounds numerically; on a true .00005 mean
    * tie they split. floor(x·10⁴+0.5)/10⁴ is IEEE-op-only. */
  private def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    SparkEntry.r4(c)
  private def r4Sql(x: String): String = SparkEntry.r4Sql(x)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full /get pipeline: pattern -> RATE -> MEAN(1h) -> AVERAGE by name.
    "api_get" -> ((s, dir) =>
      Engine.get(pts(s, dir), Requests.GetRequest(
          variable = "/events/*",
          mutations = Seq(Requests.Rate(), Requests.Mean(H)),
          aggregations = Seq(Requests.AggregationSpec(
            Aggregations.Average, Nil, H))))
        .select(col("name"), col("ts"), r4(col("dval")).as("dval"))),
    // Repeated aggregations (repeated StreamAggregation,
    // lib/openinstrument.proto:105): each one appends its own output
    // streams in request order (server/store.cc:164-252 loops over
    // req.aggregation()) — here SUM by name plus AVERAGE by `user`.
    "api_get_multi" -> ((s, dir) =>
      Engine.get(pts(s, dir), Requests.GetRequest(
          variable = "/events/*",
          aggregations = Seq(
            Requests.AggregationSpec(Aggregations.Sum, Nil, H),
            Requests.AggregationSpec(Aggregations.Average, Seq("user"), H))))
        .select(col("name"),
          element_at(col("labels"), "user").as("usr"),
          col("ts"), r4(col("dval")).as("dval"))),
    // value_type-aware auto-rate (GetRequest.autoRate): the producer
    // tagged /events/click as a RATE counter (lib/variable.h:110-124),
    // so the engine rates exactly that partition; GAUGE series pass raw.
    "api_get_autorate" -> ((s, dir) =>
      unkey(Engine.get(
          pts(s, dir).withColumn("value_type",
            when(col("name") === "/events/click", "RATE").otherwise("GAUGE")),
          Requests.GetRequest(variable = "/events/*", autoRate = true)))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // C++ independent-mutation semantics (store.cc:140-147): each of
    // the two mutations is applied to the RAW stream and appends its
    // own output stream, vs the Go chain api_get exercises.
    "api_get_indep" -> ((s, dir) =>
      unkey(Engine.get(pts(s, dir), Requests.GetRequest(
          variable = "/events/*",
          mutations = Seq(Requests.Mean(H), Requests.MaxM(H)),
          chainMutations = false)))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // Limits: series cap (max_variables) + per-series tail (max_values).
    "api_get_limits" -> ((s, dir) =>
      unkey(Engine.get(pts(s, dir), Requests.GetRequest(
          variable = "/events/click{user=*}",
          maxVariables = Some(10), maxValues = Some(3))))
        .select("name", "usr", "ts", "dval")),
    // /list with the 24h default lookback.
    "api_list" -> ((s, dir) =>
      Engine.list(pts(s, dir), Requests.ListRequest("/events/*"), NowMs)
        .select(col("name"), element_at(col("labels"), "user").as("usr"))),
    // C++ UniformTimeSeries resample (lib/counter.cc:18-64).
    "m_uniform" -> ((s, dir) =>
      unkey(Mutations.resampleUniform(pts(s, dir), H))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // RLE expand gated end-to-end: a uniform resample is a COMPLETE
    // per-series grid, on which expand(encode(x)) is exactly x — so the
    // oracle is the m_uniform oracle verbatim. (Encode alone is gated
    // by rle_encode; this closes the loop on the expand direction.)
    "rle_roundtrip" -> ((s, dir) =>
      unkey(graft.operators.Rle.expand(graft.operators.Rle.encode(
          Mutations.resampleUniform(pts(s, dir), H)), H))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // Gorilla XOR block codec roundtrip: decode(encode(points)) must be
    // the raw point set bit-for-bit (dvals pass through the double-bits
    // XOR path untouched — no rounding anywhere), so the oracle is the
    // identity SELECT over pts. Daily blocks at gate scale.
    "gor_roundtrip" -> ((s, dir) =>
      unkey(graft.codec.Gorilla.decode(graft.codec.Gorilla.encode(
          pts(s, dir), blockMs = 86400000L)))
        .select(col("name"), col("usr"), col("ts"), col("dval"))),
    // Go Interpolate (mutations.go:87-137). The sequential skip rule
    // reduces to "consume the first point of each H-bucket", so the
    // whole op is SQL-expressible (see oracle below).
    "m_interpolate" -> ((s, dir) =>
      unkey(Mutations.interpolate(pts(s, dir), H))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // RLE output contract for the dense-grid emitters: same math as
    // m_interpolate / m_uniform, but flat segments emit ONE run row
    // (ts, end_ts) instead of one row per grid point — at 100 TB the
    // dense emitters' cost is pure output volume (grid points ×
    // series), and a run row costs the same however many grid points
    // it covers. Rle.expand of this output equals the dense output
    // (PropertySpec invariant); the oracle replays the dense math
    // unrounded, collapses runs in SQL, and rounds at the end exactly
    // as the engine does.
    "m_interpolate_rle" -> ((s, dir) =>
      unkey(Mutations.interpolateRle(pts(s, dir), H))
        .select(col("name"), col("usr"), col("ts"), col("end_ts"),
          round(col("dval"), 4).as("dval"))),
    "m_uniform_rle" -> ((s, dir) =>
      unkey(Mutations.resampleUniformRle(pts(s, dir), H))
        .select(col("name"), col("usr"), col("ts"), col("end_ts"),
          round(col("dval"), 4).as("dval"))),
    // Interpolate-RLE on QUANTIZED values (50-wide steps): consecutive
    // equal quanta make the interpolated grid flat, so this gate pins
    // the contract's WIN (runs actually collapse) where the raw-value
    // twin above pins its floor. Cast parity per rle_encode's note.
    "m_interp_rle_q" -> ((s, dir) =>
      unkey(Mutations.interpolateRle(
          pts(s, dir)
            .withColumn("dval", (floor(col("dval") / 50) * 50).cast("double")),
          H))
        .select(col("name"), col("usr"), col("ts"), col("end_ts"),
          round(col("dval"), 4).as("dval"))),
    // RLE output encoding through the request API (GetRequest.rleOutput
    // / CLI `rle`): the /get route returning runs instead of dense grid
    // rows. Same math as m_interpolate_rle — this gates the API ROUTE
    // (pattern filter → run-emitting twin substitution → run schema),
    // so it deliberately shares that oracle.
    "api_get_rle" -> ((s, dir) =>
      unkey(Engine.get(pts(s, dir), Requests.GetRequest(
          variable = "/events/*",
          mutations = Seq(Requests.Interpolate(H)),
          rleOutput = true)))
        .select(col("name"), col("usr"), col("ts"), col("end_ts"),
          round(col("dval"), 4).as("dval"))),
    // max_gap_interpolate (lib/openinstrument.proto:45-51): brackets
    // wider than 4 h re-anchor instead of filling. The consumed-point
    // set is gap-invariant (first per bucket), so only the per-bracket
    // anchor chain is sequential — a linear recursion the oracle
    // replays as a recursive CTE.
    "m_interpolate_gap" -> ((s, dir) =>
      unkey(Mutations.interpolate(pts(s, dir), H,
          maxGapMs = 4 * H))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // Time-constant EWMA smoothing (τ = 10 min). Per-point recurrence
    // v += (1−exp(−Δt/τ))·(x−v) is one float expression per row on
    // both sides, so the recursive-CTE oracle replays it bit-exactly.
    // Tie-robust: Δt = 0 ⇒ α = 0 ⇒ the smoothed value is unchanged
    // whichever way a timestamp collision sorts.
    "m_ewma" -> ((s, dir) =>
      unkey(Mutations.ewma(pts(s, dir), 600000.0))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // Holt level+trend smoothing (τ_level = 10 min, τ_trend = 30 min):
    // the trend-aware EWMA. Oracle replays the two-variable (l, b)
    // recurrence by rn chaining with the same float-op order
    // (Mutations.HoltOp scaladoc), like m_anomaly's (m, s2) chain.
    "m_holt" -> ((s, dir) =>
      unkey(Mutations.holt(pts(s, dir),
          600000.0, 1800000.0))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // EWMA-control-chart anomaly scores (τ = 10 min): each point's
    // z-score against the EWM mean/variance BEFORE it. Oracle replays
    // the two-variable recurrence by rn chaining; rows emit once the
    // prior variance is positive (point ≥ 3 of a non-constant prefix).
    // (+ 0.0 normalizes IEEE −0.0: Spark's round drops the sign,
    // DuckDB's keeps it — a z straddling zero would hash-mismatch)
    "m_anomaly" -> ((s, dir) =>
      unkey(Mutations.ewmZscore(pts(s, dir), 600000.0))
        .select(col("name"), col("usr"), col("ts"),
          (round(col("dval"), 4) + 0.0).as("dval"))),
    // Exact Go Mean (mutations.go:10-49): bucket anchored at its first
    // input ts, closed when a point arrives more than H past the
    // anchor; mean emitted at the bucket's LAST consumed ts; the
    // trailing bucket flushes at end of series. The per-series state
    // (anchor, sum, count) is a linear chain, so the oracle replays it
    // as a recursive CTE with the same float-accumulation order.
    // (events has no duplicate (series, ts) rows at gate SFs, so the
    // replay order is total.)
    "m_mean_exact" -> ((s, dir) =>
      unkey(Mutations.meanExact(pts(s, dir), H))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))),
    // Exact Go Min+Max (mutations.go:139-191), one gate for both: the
    // previous window's extremum is emitted at the ts of the point
    // that OPENS the next window; the trailing partial window is
    // discarded. Window anchors evolve from timestamps alone, so min
    // and max share one replay chain (carrying both extrema); pure
    // comparisons — no float arithmetic — make the oracle bit-exact.
    "m_minmax_exact" -> ((s, dir) => {
      val k = pts(s, dir)
      unkey(Mutations.minExact(k, H)).withColumn("op", lit("min"))
        .unionByName(
          unkey(Mutations.maxExact(k, H)).withColumn("op", lit("max")))
        .select(col("name"), col("usr"), col("op"), col("ts"), col("dval"))
    }),
    // Time-bucketed LTTB downsample (Steinarsson 2013): anchor first
    // point, per 7-day bucket keep the point maximizing the triangle
    // area against the previous selection and the NEXT bucket's
    // centroid, last bucket keeps the endpoint. dval passes through
    // untouched (selection only), so the gate hash is float-exact.
    "m_lttb" -> ((s, dir) =>
      unkey(Mutations.lttb(pts(s, dir), 604800000L))
        .select(col("name"), col("usr"), col("ts"), col("dval"))),
    // Multimodal: binary plumbing + stub decode (feature vector is
    // checked in unit tests; metadata columns are oracle-checked).
    // The `decoder` provenance column rides the gate hash: the oracle
    // pins every fabricated text blob to the stub path, so a future
    // real-codec swap (or a blob accidentally parsing) is an
    // observable hash diff, not a silent change.
    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.fromDocuments(Tables.documents(s, dir)))
        .select(col("item_id"), col("modality"), col("size_bytes"),
          col("content_sha"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("decoder"))),
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.extractFeatures(
            Multimodal.fromDocuments(Tables.documents(s, dir))),
          stride = 30)
        .select(col("item_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("decoder"))),
    // Resize-to-fit 64x64 (aspect preserved, no upscale). Real bilinear
    // resample for parseable images; these fabricated text blobs take
    // the deterministic stub branch, so the oracle verifies dims and
    // the stub blob's hash end-to-end (the real branch is unit-tested
    // on generated PNGs in PipelineSpec).
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeToFit(
          Multimodal.fromDocuments(Tables.documents(s, dir)),
          64, 64)
        .select(col("item_id"), col("modality"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          md5(col("content")).as("resized_sha"))),
    // Constant-label preservation (server/store.cc:204-226): aggregate
    // by `user`; the `site` label is single-valued within each group
    // (derived from the name) and must survive; `user` becomes the key.
    "agg_preserve" -> ((s, dir) => {
      val withSite = pts(s, dir).withColumn("labels",
        map_concat(col("labels"),
          map(lit("site"), regexp_extract(col("name"), "^/events/(.*)$", 1))))
      Aggregations.byLabel(graft.model.Point.withSeriesKey(withSite),
          "user", Aggregations.Sum, H, preserveConstantLabels = true)
        .select(col("name"), element_at(col("labels"), "user").as("usr"),
          element_at(col("labels"), "site").as("site"),
          col("ts"), round(col("dval"), 4).as("dval"))
    }),
    // String-valued series (lib/openinstrument.proto:75-76): mutations
    // are dval-only by design; sval flows through scan/list/latest.
    "q_sval_latest" -> ((s, dir) =>
      unkey(pts(s, dir)
          .groupBy(col("skey"))
          .agg(max_by(col("sval"), col("ts")).as("sval"), max("ts").as("ts")))
        .select("name", "usr", "ts", "sval")),
    // Exact greedy ±interval bucketing (lib/protobuf.cc:49-85), the full
    // multi-stream anchor cascade — oracle-checked via a DuckDB
    // simulation of the cascade (recursive CTE over streams in skey
    // order, list_reduce fold per stream; see GreedyAvgOracleSql).
    "agg_greedy_avg" -> ((s, dir) =>
      Aggregations.greedyExact(pts(s, dir),
          Aggregations.DefaultIntervalMs, "avg")
        .select(col("gkey"), col("ts"), r4(col("dval")).as("dval"))),
    // Greedy bucketing grouped per (name, user): ONE stream per group,
    // which reduces the anchor cascade to a greedy interval cover —
    // still sequential, but expressible as a DuckDB recursive CTE, so
    // all five bucket aggregators of the same greedyExact operator are
    // fully oracle-checked (the multi-stream one above stays rows-only).
    "agg_greedy_user" -> greedyUserQuery("avg"),
    "agg_greedy_max_user" -> greedyUserQuery("max"),
    "agg_greedy_median_user" -> greedyUserQuery("median"),
    "agg_greedy_sum_user" -> greedyUserQuery("sum"),
    "agg_greedy_min_user" -> greedyUserQuery("min"),
    // Retention engine: first-match policy with downsampling rewrite
    // (lib/retention_policy_manager.cc:20-63, config.txt:22-77 shape).
    "ret_policy" -> ((s, dir) =>
      unkey(graft.retention.Retention.apply(pts(s, dir),
          graft.retention.Retention.Policy(Seq(
            graft.retention.Retention.PolicyItem(Seq("/events/click{user=*}"),
              graft.retention.Retention.Keep, maxAgeMs = 15L * 86400000L),
            graft.retention.Retention.PolicyItem(Seq("/events/click{user=*}"),
              graft.retention.Retention.Keep, minAgeMs = 15L * 86400000L,
              mutations = Seq(Requests.Latest(H))),
            graft.retention.Retention.PolicyItem(Seq("/events/view{user=*}"),
              graft.retention.Retention.Keep, maxAgeMs = 10L * 86400000L),
            graft.retention.Retention.PolicyItem(Nil,
              graft.retention.Retention.Drop))), NowMs))
        .select(col("name"), col("usr"), col("ts"),
          round(col("dval"), 4).as("dval"))))

  /** One-stream-per-(name, user) greedy bucketing gate query,
    * parameterized by the bucket aggregator. */
  private def greedyUserQuery(aggName: String): (SparkSession, String) => DataFrame =
    (s, dir) =>
      Aggregations.greedyExact(
          pts(s, dir)
            .filter(element_at(col("labels"), "user").isNotNull),
          86400000L, aggName, Some("user"))
        .select(col("gkey"), col("ts"), r4(col("dval")).as("dval"))

  /** Recursive greedy-interval-cover oracle per (name, user) group,
    * parameterized by the per-bucket aggregate expression. */
  private def greedyUserOracle(aggSql: String): String =
    s"""WITH RECURSIVE pts0 AS (
       | SELECT '/events/' || event_type || ' ' || CAST(user_id AS VARCHAR) AS gkey,
       |  epoch_ms(ts) AS ts, value AS dval
       | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
       |anch AS (
       | SELECT gkey, min(ts) AS ats FROM pts0 GROUP BY gkey
       | UNION ALL
       | SELECT a.gkey, min(p.ts) AS ats
       | FROM anch a JOIN pts0 p
       |   ON p.gkey = a.gkey AND p.ts > a.ats + 86400000
       | GROUP BY a.gkey),
       |b AS (SELECT gkey, ats,
       |  lead(ats) OVER (PARTITION BY gkey ORDER BY ats) AS nxt FROM anch)
       |SELECT b.gkey, b.ats AS ts, ${r4Sql(aggSql)} AS dval
       |FROM b JOIN pts0 p
       |  ON p.gkey = b.gkey AND p.ts >= b.ats AND p.ts < b.nxt
       |WHERE b.nxt IS NOT NULL
       |GROUP BY b.gkey, b.ats""".stripMargin

  /**
   * DuckDB simulation of the full multi-stream greedy anchor cascade
   * (lib/protobuf.cc:49-85), oracle for `agg_greedy_avg`.
   *
   * Shape: streams of a group are ranked by series key (skey); a
   * recursive CTE walks them in rank order carrying the anchor list as
   * data; each stream is drained by a `list_reduce` fold implementing
   * GreedyMerge.feed exactly — monotone cursor over the anchor list in
   * CREATION order (not time order: residual anchors interleave), new
   * anchors appended when the cursor exhausts, the chronologically-last-
   * created anchor's bucket dropped.
   *
   * DuckDB-1.0 mechanics, discovered the hard way: `list_reduce`'s
   * accumulator has the ELEMENT type, so the fold runs over a
   * list-of-lists (init element = anchor records from prior streams,
   * then one single-record list per value); struct-typed accumulators
   * lose nested-list fields, so state is a flat list of tagged records
   * (kind 0 = anchor(pos, ats), kind 1 = assignment(pos, dv), kind 9 =
   * raw value); `list_position` returns 0 — not NULL — when not found;
   * the cursor is recovered from the last record (an assignment's pos,
   * else stream start = 1).
   */
  private val GreedyAvgOracleSql =
    """WITH RECURSIVE
      |ev AS (
      |  SELECT '/events/' || event_type AS gkey,
      |         '/events/' || event_type ||
      |           CASE WHEN user_id IS NULL THEN '{}'
      |                ELSE '{user=' || CAST(user_id AS VARCHAR) || '}' END AS skey,
      |         epoch_ms(ts) AS ts, value AS dval
      |  FROM events WHERE value IS NOT NULL),
      |strm AS (
      |  SELECT gkey, skey,
      |         dense_rank() OVER (PARTITION BY gkey ORDER BY skey) AS k,
      |         list([struct_pack(kind := CAST(9 AS BIGINT), pos := CAST(NULL AS BIGINT),
      |                           ats := ts, dv := dval)] ORDER BY ts) AS vals
      |  FROM ev GROUP BY gkey, skey),
      |rec AS (
      |  SELECT gkey, CAST(0 AS BIGINT) AS k,
      |         CAST([] AS STRUCT(kind BIGINT, pos BIGINT, ats BIGINT, dv DOUBLE)[]) AS state
      |  FROM (SELECT DISTINCT gkey FROM strm)
      |  UNION ALL
      |  SELECT s.gkey, s.k,
      |    list_reduce(
      |      list_prepend(list_filter(r.state, e -> struct_extract(e, 'kind') = 0), s.vals),
      |      (acc, x) -> CASE
      |        WHEN list_position(
      |               list_transform(
      |                 list_filter(acc, e -> struct_extract(e, 'kind') = 0
      |                   AND struct_extract(e, 'pos') >=
      |                     COALESCE(CASE WHEN struct_extract(acc[-1], 'kind') = 1
      |                                   THEN struct_extract(acc[-1], 'pos')
      |                                   ELSE CAST(1 AS BIGINT) END, CAST(1 AS BIGINT))),
      |                 e -> abs(struct_extract(x[1], 'ats') - struct_extract(e, 'ats')) <= 30000),
      |               true) = 0
      |        THEN list_concat(acc, [
      |          struct_pack(kind := CAST(0 AS BIGINT),
      |            pos := COALESCE(struct_extract(
      |                     (list_filter(acc, e -> struct_extract(e, 'kind') = 0))[-1], 'pos'),
      |                   CAST(0 AS BIGINT)) + 1,
      |            ats := struct_extract(x[1], 'ats'), dv := CAST(NULL AS DOUBLE)),
      |          struct_pack(kind := CAST(1 AS BIGINT),
      |            pos := COALESCE(struct_extract(
      |                     (list_filter(acc, e -> struct_extract(e, 'kind') = 0))[-1], 'pos'),
      |                   CAST(0 AS BIGINT)) + 1,
      |            ats := CAST(NULL AS BIGINT), dv := struct_extract(x[1], 'dv'))])
      |        ELSE list_append(acc,
      |          struct_pack(kind := CAST(1 AS BIGINT),
      |            pos := struct_extract(
      |              (list_filter(acc, e -> struct_extract(e, 'kind') = 0
      |                 AND struct_extract(e, 'pos') >=
      |                   COALESCE(CASE WHEN struct_extract(acc[-1], 'kind') = 1
      |                                 THEN struct_extract(acc[-1], 'pos')
      |                                 ELSE CAST(1 AS BIGINT) END, CAST(1 AS BIGINT))))[
      |                list_position(
      |                  list_transform(
      |                    list_filter(acc, e -> struct_extract(e, 'kind') = 0
      |                      AND struct_extract(e, 'pos') >=
      |                        COALESCE(CASE WHEN struct_extract(acc[-1], 'kind') = 1
      |                                      THEN struct_extract(acc[-1], 'pos')
      |                                      ELSE CAST(1 AS BIGINT) END, CAST(1 AS BIGINT))),
      |                    e -> abs(struct_extract(x[1], 'ats') - struct_extract(e, 'ats')) <= 30000),
      |                  true)], 'pos'),
      |            ats := CAST(NULL AS BIGINT), dv := struct_extract(x[1], 'dv')))
      |      END) AS state
      |  FROM rec r JOIN strm s ON s.gkey = r.gkey AND s.k = r.k + 1),
      |fin AS (
      |  SELECT gkey, list_filter(state, e -> struct_extract(e, 'kind') = 0) AS anchors
      |  FROM rec QUALIFY row_number() OVER (PARTITION BY gkey ORDER BY k DESC) = 1),
      |asn AS (
      |  SELECT gkey, unnest(list_filter(state, e -> struct_extract(e, 'kind') = 1)) AS u
      |  FROM rec WHERE k >= 1)
      |SELECT a.gkey AS gkey,
      |       struct_extract(f.anchors[struct_extract(a.u, 'pos')], 'ats') AS ts,
      |       floor((CASE WHEN count(struct_extract(a.u, 'dv')) > 0 THEN
      |         CAST(sum(CAST(struct_extract(a.u, 'dv') AS DECIMAL(38,12)))
      |              AS DOUBLE) / count(struct_extract(a.u, 'dv')) END)
      |         * 10000 + cast(0.5 as double)) / 10000 AS dval
      |FROM asn a JOIN fin f USING (gkey)
      |WHERE struct_extract(a.u, 'pos') < len(f.anchors)
      |GROUP BY a.gkey, struct_extract(a.u, 'pos'),
      |         struct_extract(f.anchors[struct_extract(a.u, 'pos')], 'ats')""".stripMargin

  /** DuckDB mirror of the C++ UniformTimeSeries resample — also the
    * oracle for `rle_roundtrip` (expand∘encode is the identity on the
    * complete uniform grid). */
  /** UNROUNDED dense replay of UniformOp as a `dense` CTE — shared by
    * the dense gate (round appended) and the RLE gate (collapse on the
    * exact values, round at the end, mirroring the engine layers). */
  private val UniformDenseCte = P +
    """, b AS (SELECT name, usr, min(ts) - (min(ts) % 3600000) AS base
      |  FROM pts GROUP BY name, usr),
      |pr AS (SELECT name, usr, ts, dval,
      |  lag(ts) OVER w AS lts, lag(dval) OVER w AS lv
      |  FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts)),
      |g AS (SELECT pr.name, pr.usr, ts AS ts0, dval, lts, lv,
      |  base + 3600000 * unnest(range((lts - base)//3600000 + 1,
      |                                (ts - base)//3600000 + 1)) AS gts
      |  FROM pr JOIN b USING (name, usr) WHERE lts IS NOT NULL),
      |dense AS (SELECT name, usr, gts AS ts,
      |  CASE WHEN gts = ts0 THEN dval
      |   ELSE (dval - lv) / (ts0 - lts) * (gts - lts) + lv END AS dval
      |  FROM g)""".stripMargin

  private val UniformOracleSql = UniformDenseCte +
    "\nSELECT name, usr, ts, round(dval, 4) AS dval FROM dense"

  /** SQL replay of Mutations.RunCollapser over a `dense` CTE
    * (name, usr, ts, UNROUNDED dval): gaps-and-islands — a run breaks
    * on a value change OR a grid hole; `end_ts` = the run's last grid
    * ts, null for single-point runs; the run value rounds once at the
    * end, exactly as the engine's query layer does. */
  private val RleTailSql =
    """
      |, mk AS (SELECT name, usr, ts, dval,
      |  CASE WHEN lag(ts) OVER w = ts - 3600000
      |        AND lag(dval) OVER w = dval THEN 0 ELSE 1 END AS chg
      |  FROM dense WINDOW w AS (PARTITION BY name, usr ORDER BY ts)),
      |r AS (SELECT name, usr, ts, dval,
      |  sum(chg) OVER (PARTITION BY name, usr ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS run FROM mk)
      |SELECT name, usr, min(ts) AS ts,
      | CASE WHEN max(ts) > min(ts) THEN max(ts) END AS end_ts,
      | round(min(dval), 4) AS dval
      |FROM r GROUP BY name, usr, run""".stripMargin

  /** UNROUNDED dense replay of InterpolateOp as a `dense` CTE (see
    * the m_interpolate entry's derivation comment), parameterized by
    * the pts prefix so the quantized-input gate reuses the body. */
  private def interpolateDenseCte(prefix: String): String = prefix +
    """, cons AS (SELECT name, usr, ts, dval,
      |  row_number() OVER (PARTITION BY name, usr, ts // 3600000
      |                     ORDER BY ts) AS rn
      |  FROM pts),
      |pr AS (SELECT name, usr, ts, dval,
      |  lag(ts) OVER w AS lts0, lag(dval) OVER w AS lv,
      |  row_number() OVER w AS rn2
      |  FROM cons WHERE rn = 1
      |  WINDOW w AS (PARTITION BY name, usr ORDER BY ts)),
      |br AS (SELECT name, usr, ts AS ts0, dval, lv, lts0,
      |  CASE WHEN rn2 = 2 THEN lts0 - lts0 % 3600000 ELSE lts0 END AS lts
      |  FROM pr WHERE lts0 IS NOT NULL),
      |g AS (SELECT name, usr, ts0, dval, lv, lts,
      |  3600000 * unnest(range(lts0 // 3600000 + 1, ts0 // 3600000 + 1)) AS gts
      |  FROM br),
      |dense AS (
      | SELECT name, usr, gts AS ts,
      |  lv + (dval - lv) * ((gts - lts) / (ts0 - lts)) AS dval
      | FROM g
      | UNION ALL
      | SELECT name, usr, ts, dval
      | FROM pr WHERE rn2 = 1 AND ts % 3600000 = 0)""".stripMargin

  private val InterpolateDenseCte = interpolateDenseCte(P)

  /** pts with values quantized to 50-wide steps (cast parity note at
    * SparkEntry's rle_encode: Spark floor() is LONG, DuckDB's DOUBLE).
    * Quantized values make consecutive points EQUAL often, so the
    * interpolated grid carries flat runs — the workload shape where
    * the interpolate RLE contract actually compresses (a continuous
    * fixture pins the contract's floor; this pins its win). */
  private val PQuant = "WITH pts AS (SELECT '/events/' || event_type AS name, " +
    "CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, " +
    "floor(value / 50) * 50 AS dval FROM events) "

  def oracleSql: Map[String, String] = Map(
    "api_get" -> (P +
      """, r AS (SELECT name, usr, ts, dval FROM (
        |   SELECT name, usr, ts,
        |    (dval - lag(dval) OVER w) / ((ts - lag(ts) OVER w)/1000.0) AS dval
        |   FROM pts WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
        |  WHERE dval IS NOT NULL AND dval >= 0),
        |m AS (SELECT name, usr, max(ts) AS ts, avg(dval) AS dval
        |  FROM r GROUP BY name, usr, ts - ts % 3600000)
        |SELECT name, ts - ts % 3600000 AS ts,
        | floor((CASE WHEN count(dval) > 0 THEN
        |   CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval)
        |  END) * 10000 + cast(0.5 as double)) / 10000 AS dval
        |FROM m GROUP BY name, ts - ts % 3600000""".stripMargin),
    "api_get_multi" -> (P +
      """SELECT name, CAST(NULL AS VARCHAR) AS usr, ts - ts % 3600000 AS ts,
        | floor(CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE)
        |   * 10000 + cast(0.5 as double)) / 10000 AS dval
        |FROM pts GROUP BY name, ts - ts % 3600000
        |UNION ALL
        |SELECT name, usr, ts - ts % 3600000 AS ts,
        | floor((CASE WHEN count(dval) > 0 THEN
        |   CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE) / count(dval)
        |  END) * 10000 + cast(0.5 as double)) / 10000 AS dval
        |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
    "api_get_autorate" -> (P +
      """, r AS (SELECT name, usr, ts, dval FROM (
        |   SELECT name, usr, ts,
        |    (dval - lag(dval) OVER w) / ((ts - lag(ts) OVER w)/1000.0) AS dval
        |   FROM pts WHERE name = '/events/click'
        |   WINDOW w AS (PARTITION BY name, usr ORDER BY ts))
        |  WHERE dval IS NOT NULL AND dval >= 0)
        |SELECT name, usr, ts, round(dval, 4) AS dval FROM r
        |UNION ALL
        |SELECT name, usr, ts, round(dval, 4) AS dval FROM pts
        |WHERE name <> '/events/click'""".stripMargin),
    "api_get_indep" -> (P +
      """SELECT name, usr, max(ts) AS ts, round(avg(dval),4) AS dval
        |FROM pts GROUP BY name, usr, ts - ts % 3600000
        |UNION ALL
        |SELECT name, usr, max(ts) AS ts, round(max(dval),4) AS dval
        |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
    "api_get_limits" -> (P +
      """, sel AS (SELECT name, usr FROM (SELECT DISTINCT name, usr FROM pts
        |   WHERE name = '/events/click' AND usr IS NOT NULL AND usr <> '')
        |  ORDER BY name || '{user=' || usr || '}' LIMIT 10),
        |f AS (SELECT pts.* FROM pts JOIN sel USING (name, usr))
        |SELECT name, usr, ts, dval FROM (
        | SELECT *, row_number() OVER (PARTITION BY name, usr ORDER BY ts DESC) AS rn
        | FROM f) WHERE rn <= 3""".stripMargin),
    "api_list" -> (P +
      s"""SELECT DISTINCT name, usr FROM pts
         |WHERE ts >= ${NowMs - 86400000L}""".stripMargin),
    // Single-stream greedy cover: anchor_1 = first ts; anchor_{k+1} =
    // first ts > anchor_k + I; bucket k = values in [anchor_k,
    // anchor_{k+1}); the chronologically-last bucket is dropped
    // (the reference's !found exit, lib/protobuf.cc:78-84).
    // Full multi-stream anchor cascade, simulated in DuckDB (see
    // GreedyAvgOracleSql scaladoc).
    "agg_greedy_avg" -> GreedyAvgOracleSql,
    // avg/sum buckets replay greedyExact's exact decimal accumulation
    // (AvgAgg/SumAgg): 12dp-rounded addends, exact sum, one final
    // double division — feed-order independent on both engines.
    "agg_greedy_user" -> greedyUserOracle(
      "CASE WHEN count(p.dval) > 0 THEN " +
        "CAST(sum(CAST(p.dval AS DECIMAL(38,12))) AS DOUBLE) / count(p.dval) END"),
    "agg_greedy_max_user" -> greedyUserOracle("max(p.dval)"),
    // upper median bucket[n/2] (lib/protobuf.cc:135-142)
    "agg_greedy_median_user" -> greedyUserOracle(
      "list_sort(list(p.dval))[CAST(floor(count(*)/2) AS INT) + 1]"),
    "agg_greedy_sum_user" -> greedyUserOracle(
      "CAST(sum(CAST(p.dval AS DECIMAL(38,12))) AS DOUBLE)"),
    "agg_greedy_min_user" -> greedyUserOracle("min(p.dval)"),
    // InterpolateOp consumes a point iff its floor(ts/H) bucket is later
    // than the last consumed point's bucket (skipped points never update
    // state), i.e. consumed = first point per (series, bucket). Brackets
    // run between consecutive consumed points; the FIRST bracket's left
    // endpoint uses the floor-aligned anchor timestamp (mutations.go:97-104)
    // while grid emission always starts at floor(prev_ts/H)*H + H.
    "m_interpolate" -> (InterpolateDenseCte +
      "\nSELECT name, usr, ts, round(dval, 4) AS dval FROM dense"),
    // run-collapsed twins: dense replay unrounded → SQL RunCollapser
    "m_interpolate_rle" -> (InterpolateDenseCte + RleTailSql),
    "m_uniform_rle" -> (UniformDenseCte + RleTailSql),
    "m_interp_rle_q" -> (interpolateDenseCte(PQuant) + RleTailSql),
    "api_get_rle" -> (InterpolateDenseCte + RleTailSql),
    // Recursive replay of EwmaOp: one smoothed value per consumed
    // point, chained by rn. Same float-op order as the state machine.
    "m_ewma" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |n AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM pts),
        |r AS (
        | SELECT name, usr, rn, ts, dval AS v FROM n WHERE rn = 1
        | UNION ALL
        | SELECT c.name, c.usr, c.rn, c.ts,
        |  r.v + (1 - exp(-(c.ts - r.ts)/600000.0)) * (c.dval - r.v) AS v
        | FROM r JOIN n c
        |   ON c.name = r.name AND c.usr = r.usr AND c.rn = r.rn + 1)
        |SELECT name, usr, ts, round(v, 4) AS dval FROM r""".stripMargin,
    // Holt (l, b) chain: f = l + b·Δt; l' = f + α(x − f);
    // b' = b + γ((l' − l)/Δt − b). Δt = 0 carries state unchanged
    // (the events table has no duplicate (series, ts) rows at gate
    // SFs, so the branch is belt-and-suspenders like HoltOp's).
    "m_holt" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |n AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM pts),
        |r AS (
        | SELECT name, usr, rn, ts, dval AS l, CAST(0.0 AS DOUBLE) AS b
        | FROM n WHERE rn = 1
        | UNION ALL
        | SELECT c.name, c.usr, c.rn, c.ts,
        |  CASE WHEN c.ts = r.ts THEN r.l ELSE
        |   (r.l + r.b*(c.ts - r.ts))
        |    + (1 - exp(-(c.ts - r.ts)/600000.0))
        |      * (c.dval - (r.l + r.b*(c.ts - r.ts))) END AS l,
        |  CASE WHEN c.ts = r.ts THEN r.b ELSE
        |   r.b + (1 - exp(-(c.ts - r.ts)/1800000.0))
        |    * ((((r.l + r.b*(c.ts - r.ts))
        |         + (1 - exp(-(c.ts - r.ts)/600000.0))
        |           * (c.dval - (r.l + r.b*(c.ts - r.ts)))) - r.l)
        |        / (c.ts - r.ts) - r.b) END AS b
        | FROM r JOIN n c
        |   ON c.name = r.name AND c.usr = r.usr AND c.rn = r.rn + 1)
        |SELECT name, usr, ts, round(l, 4) AS dval FROM r""".stripMargin,
    // Recursive replay of Anomaly.step: state (m, s2) chained by rn;
    // z uses the previous row's state. Same float-op order as the
    // Scala step (exp() recomputed per use is bit-stable).
    "m_anomaly" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |n AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM pts),
        |r AS (
        | SELECT name, usr, rn, ts, CAST(NULL AS DOUBLE) AS z,
        |  dval AS m, CAST(0.0 AS DOUBLE) AS s2
        | FROM n WHERE rn = 1
        | UNION ALL
        | SELECT c.name, c.usr, c.rn, c.ts,
        |  CASE WHEN r.s2 > 0 THEN (c.dval - r.m) / sqrt(r.s2) END AS z,
        |  r.m + (1 - exp(-(c.ts - r.ts)/600000.0)) * (c.dval - r.m) AS m,
        |  (1 - (1 - exp(-(c.ts - r.ts)/600000.0))) *
        |   (r.s2 + (1 - exp(-(c.ts - r.ts)/600000.0))
        |     * (c.dval - r.m) * (c.dval - r.m)) AS s2
        | FROM r JOIN n c
        |   ON c.name = r.name AND c.usr = r.usr AND c.rn = r.rn + 1)
        |SELECT name, usr, ts, round(z, 4) + 0.0 AS dval FROM r
        |WHERE z IS NOT NULL""".stripMargin,
    // Recursive replay of MeanOp (mutations.go:10-49): state after row
    // rn is (anchor, sum, count); a row arriving > H past the anchor
    // emits the previous row's (ts, sum/count) and restarts, and the
    // last row of each series flushes its open bucket. e_ts/e_v carry
    // the emission that happened WHILE consuming the row (NULL if
    // none). Sum accumulates in the same order as MeanOp.feed.
    "m_mean_exact" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |n AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM pts),
        |mx AS (SELECT name, usr, max(rn) AS mrn FROM n GROUP BY 1, 2),
        |r AS (
        | SELECT name, usr, rn, ts, ts AS anchor, dval AS s,
        |  CAST(1 AS BIGINT) AS c,
        |  CAST(NULL AS BIGINT) AS e_ts, CAST(NULL AS DOUBLE) AS e_v
        | FROM n WHERE rn = 1
        | UNION ALL
        | SELECT c2.name, c2.usr, c2.rn, c2.ts,
        |  CASE WHEN c2.ts - r.anchor > 3600000 THEN c2.ts ELSE r.anchor END,
        |  CASE WHEN c2.ts - r.anchor > 3600000 THEN c2.dval ELSE r.s + c2.dval END,
        |  CASE WHEN c2.ts - r.anchor > 3600000 THEN CAST(1 AS BIGINT) ELSE r.c + 1 END,
        |  CASE WHEN c2.ts - r.anchor > 3600000 THEN r.ts ELSE CAST(NULL AS BIGINT) END,
        |  CASE WHEN c2.ts - r.anchor > 3600000 THEN r.s / r.c ELSE CAST(NULL AS DOUBLE) END
        | FROM r JOIN n c2
        |   ON c2.name = r.name AND c2.usr = r.usr AND c2.rn = r.rn + 1)
        |SELECT name, usr, e_ts AS ts, round(e_v, 4) AS dval FROM r
        |WHERE e_ts IS NOT NULL
        |UNION ALL
        |SELECT r.name, r.usr, r.ts, round(r.s / r.c, 4) AS dval
        |FROM r JOIN mx ON mx.name = r.name AND mx.usr = r.usr
        |  AND r.rn = mx.mrn""".stripMargin,
    // Recursive replay of LttbOp: candidates are every point after the
    // series anchor, bucketed by floor(ts / 7d) and indexed densely;
    // the recursion walks bucket indexes carrying the previously
    // selected point, arg-maxing the same |cross-product| area with a
    // NOT EXISTS (strictly-better) pair test — ties to earliest ts —
    // and the last bucket contributes its last point. Centroid sums
    // replay the op's feed order (list_sum over ts-ordered lists);
    // dval is selection-only so the hash is float-exact.
    "m_lttb" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |anchor AS (SELECT name, usr, ts, dval FROM
        | (SELECT name, usr, ts, dval,
        |   row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        |  FROM pts) WHERE rn = 1),
        |cand AS (SELECT p.name, p.usr, p.ts, p.dval,
        |  p.ts // 604800000 AS bk
        | FROM pts p JOIN anchor a ON a.name = p.name AND a.usr = p.usr
        | WHERE p.ts > a.ts),
        |cb AS (SELECT name, usr, bk,
        |  dense_rank() OVER (PARTITION BY name, usr ORDER BY bk) AS bi
        | FROM (SELECT DISTINCT name, usr, bk FROM cand)),
        |cwb AS (SELECT c.name, c.usr, c.ts, c.dval, cb.bi,
        |  (c.ts = max(c.ts) OVER (PARTITION BY c.name, c.usr, cb.bi))
        |    AS last_in_bucket
        | FROM cand c JOIN cb ON cb.name = c.name AND cb.usr = c.usr
        |   AND cb.bk = c.bk),
        |cent AS (SELECT name, usr, bi,
        |  CAST(list_sum(list(ts ORDER BY ts)) AS DOUBLE) / count(*) AS ax,
        |  list_sum(list(dval ORDER BY ts)) / count(*) AS ay
        | FROM cwb GROUP BY 1, 2, 3),
        |r AS (
        | SELECT a.name, a.usr, CAST(0 AS BIGINT) AS bi,
        |  a.ts AS sel_ts, a.dval AS sel_v
        | FROM anchor a
        | UNION ALL
        | SELECT r.name, r.usr, c.bi, c.ts, c.dval
        | FROM r JOIN cwb c
        |   ON c.name = r.name AND c.usr = r.usr AND c.bi = r.bi + 1
        | LEFT JOIN cent x
        |   ON x.name = c.name AND x.usr = c.usr AND x.bi = c.bi + 1
        | WHERE (x.ax IS NULL AND c.last_in_bucket)
        |    OR (x.ax IS NOT NULL AND NOT EXISTS (
        |      SELECT 1 FROM cwb c2
        |      WHERE c2.name = c.name AND c2.usr = c.usr AND c2.bi = c.bi
        |        AND (abs((r.sel_ts - x.ax) * (c2.dval - r.sel_v)
        |               - (r.sel_ts - c2.ts) * (x.ay - r.sel_v))
        |             > abs((r.sel_ts - x.ax) * (c.dval - r.sel_v)
        |               - (r.sel_ts - c.ts) * (x.ay - r.sel_v))
        |          OR (abs((r.sel_ts - x.ax) * (c2.dval - r.sel_v)
        |               - (r.sel_ts - c2.ts) * (x.ay - r.sel_v))
        |             = abs((r.sel_ts - x.ax) * (c.dval - r.sel_v)
        |               - (r.sel_ts - c.ts) * (x.ay - r.sel_v))
        |             AND c2.ts < c.ts)))))
        |SELECT name, usr, sel_ts AS ts, sel_v AS dval FROM r""".stripMargin,
    // Recursive replay of ExtremumOp (mutations.go:139-191), min and
    // max in one chain: window anchors depend only on timestamps, so
    // both extrema ride the same recursion; a row at-or-past
    // anchor + H emits the previous window's extrema AT ITS OWN ts
    // and restarts both. No flush — the trailing window is discarded,
    // and pure comparisons make the replay bit-exact.
    "m_minmax_exact" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |n AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM pts),
        |r AS (
        | SELECT name, usr, rn, ts, ts AS anchor, dval AS emin, dval AS emax,
        |  CAST(NULL AS DOUBLE) AS o_min, CAST(NULL AS DOUBLE) AS o_max
        | FROM n WHERE rn = 1
        | UNION ALL
        | SELECT c2.name, c2.usr, c2.rn, c2.ts,
        |  CASE WHEN c2.ts >= r.anchor + 3600000 THEN c2.ts ELSE r.anchor END,
        |  CASE WHEN c2.ts >= r.anchor + 3600000 THEN c2.dval
        |       ELSE least(r.emin, c2.dval) END,
        |  CASE WHEN c2.ts >= r.anchor + 3600000 THEN c2.dval
        |       ELSE greatest(r.emax, c2.dval) END,
        |  CASE WHEN c2.ts >= r.anchor + 3600000 THEN r.emin END,
        |  CASE WHEN c2.ts >= r.anchor + 3600000 THEN r.emax END
        | FROM r JOIN n c2
        |   ON c2.name = r.name AND c2.usr = r.usr AND c2.rn = r.rn + 1)
        |SELECT name, usr, 'min' AS op, ts, o_min AS dval FROM r
        |WHERE o_min IS NOT NULL
        |UNION ALL
        |SELECT name, usr, 'max' AS op, ts, o_max AS dval FROM r
        |WHERE o_max IS NOT NULL""".stripMargin,
    // Recursive replay of InterpolateOp's anchor chain with a 4 h max
    // gap. State after consumed point i: prev_state = raw ts (normal
    // bracket) or floor-aligned ts (anchor — first point or gap >
    // maxGap). A bracket interpolates from prev_state; an anchor emits
    // only its own point and only when it lies on the grid.
    "m_interpolate_gap" ->
      """WITH RECURSIVE pts AS (SELECT '/events/' || event_type AS name,
        |  CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, value AS dval
        | FROM events),
        |cons AS (SELECT name, usr, ts, dval,
        |  row_number() OVER (PARTITION BY name, usr ORDER BY ts) AS rn
        | FROM (SELECT name, usr, ts, dval,
        |    row_number() OVER (PARTITION BY name, usr, ts // 3600000
        |                       ORDER BY ts) AS brn
        |   FROM pts) WHERE brn = 1),
        |st AS (
        | SELECT name, usr, rn, ts, dval,
        |  ts - ts % 3600000 AS prev_state, TRUE AS anchored
        | FROM cons WHERE rn = 1
        | UNION ALL
        | SELECT c.name, c.usr, c.rn, c.ts, c.dval,
        |  CASE WHEN c.ts - s.prev_state > 14400000
        |       THEN c.ts - c.ts % 3600000 ELSE c.ts END AS prev_state,
        |  c.ts - s.prev_state > 14400000 AS anchored
        | FROM st s JOIN cons c
        |   ON c.name = s.name AND c.usr = s.usr AND c.rn = s.rn + 1),
        |em AS (SELECT c.name, c.usr, p.ts AS lts0, p.dval AS lv,
        |  p.prev_state AS lts, c.ts AS ts0, c.dval
        | FROM st c JOIN st p
        |   ON c.name = p.name AND c.usr = p.usr AND c.rn = p.rn + 1
        | WHERE NOT c.anchored),
        |g AS (SELECT name, usr, lts0, lv, lts, ts0, dval,
        |  3600000 * unnest(range(lts0 // 3600000 + 1, ts0 // 3600000 + 1)) AS gts
        | FROM em)
        |SELECT name, usr, gts AS ts,
        | round(lv + (dval - lv) * ((gts - lts) / (ts0 - lts)), 4) AS dval
        |FROM g
        |UNION ALL
        |SELECT name, usr, ts, round(dval, 4) AS dval
        |FROM st WHERE anchored AND ts % 3600000 = 0""".stripMargin,
    "m_uniform" -> UniformOracleSql,
    // identity on the complete uniform grid -> same oracle
    "rle_roundtrip" -> UniformOracleSql,
    // lossless roundtrip over raw points: identity select
    "gor_roundtrip" ->
      (P + "SELECT name, usr, ts, dval FROM pts"),
    "agg_preserve" -> (P +
      """SELECT name, usr, substr(name, 9) AS site, ts - ts % 3600000 AS ts,
        | round(CAST(sum(CAST(dval AS DECIMAL(38,12))) AS DOUBLE), 4) AS dval
        |FROM pts GROUP BY name, usr, ts - ts % 3600000""".stripMargin),
    "q_sval_latest" ->
      ("WITH pts AS (SELECT '/events/' || event_type AS name, " +
        "CAST(user_id AS VARCHAR) AS usr, epoch_ms(ts) AS ts, props AS sval FROM events) " +
        """SELECT name, usr, max(ts) AS ts, arg_max(sval, ts) AS sval
          |FROM pts GROUP BY name, usr""".stripMargin),
    "mm_features" ->
      """WITH m AS (SELECT doc_id AS item_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |  text, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        | FROM documents)
        |SELECT item_id, modality,
        | CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        | md5(text) AS content_sha,
        | CASE WHEN modality IN ('image','video') THEN 16 + h % 1024 END AS width,
        | CASE WHEN modality IN ('image','video') THEN 16 + (h // 1024) % 1024 END AS height,
        | CASE modality WHEN 'video' THEN 1 + h % 300
        |  WHEN 'audio' THEN 1 + h % 16000 ELSE 1 END AS n_frames,
        | 'stub' AS decoder
        |FROM m""".stripMargin,
    "mm_frames" ->
      """WITH m AS (SELECT doc_id AS item_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        | FROM documents)
        |SELECT item_id, unnest(range(0, 1 + h % 300, 30)) AS frame_idx,
        | 'stub' AS decoder
        |FROM m WHERE modality = 'video'""".stripMargin,
    "mm_resize" ->
      """WITH m AS (SELECT doc_id AS item_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |  md5(text) AS sha,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        | FROM documents),
        |d AS (SELECT item_id, modality, sha,
        |  16 + h % 1024 AS w, 16 + (h // 1024) % 1024 AS ht
        | FROM m WHERE modality IN ('image','video')),
        |r AS (SELECT item_id, modality, sha, w, ht,
        |  least(64.0/w, 64.0/ht, 1.0) AS s
        | FROM d)
        |SELECT item_id, modality,
        | greatest(1, CAST(floor(w*s) AS BIGINT)) AS out_w,
        | greatest(1, CAST(floor(ht*s) AS BIGINT)) AS out_h,
        | md5(sha || ':' || greatest(1, CAST(floor(w*s) AS BIGINT))
        |     || 'x' || greatest(1, CAST(floor(ht*s) AS BIGINT))) AS resized_sha
        |FROM r""".stripMargin,
    "ret_policy" -> (P +
      s""", tagged AS (SELECT *,
         |  CASE WHEN name = '/events/click' AND usr <> ''
         |        AND ($NowMs - ts) < ${15L * 86400000L} THEN 0
         |   WHEN name = '/events/click' AND usr <> ''
         |        AND ($NowMs - ts) >= ${15L * 86400000L} THEN 1
         |   WHEN name = '/events/view' AND usr <> ''
         |        AND ($NowMs - ts) < ${10L * 86400000L} THEN 2
         |   ELSE -1 END AS pol
         | FROM pts)
         |SELECT name, usr, ts, round(dval, 4) AS dval FROM tagged WHERE pol = 0
         |UNION ALL
         |SELECT name, usr, max(ts) AS ts, round(arg_max(dval, ts), 4) AS dval
         | FROM tagged WHERE pol = 1 GROUP BY name, usr, ts - ts % 3600000
         |UNION ALL
         |SELECT name, usr, ts, round(dval, 4) AS dval FROM tagged WHERE pol = 2""".stripMargin))
}
