package graft.api

import graft.functions.ParseVariable
import graft.model.Point
import graft.operators.{Aggregations, Mutations}
import graft.pattern.VariableMatcher
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The engine's request API — the Spark-native equivalent of the
 * reference's protobuf RPC surface (`GetRequest`/`ListRequest`/
 * `AddRequest`, lib/openinstrument.proto:91-157). Scatter-gather,
 * hash-ring routing and the WAL vanish into the platform (SURVEY.md
 * §3.4): a request compiles to Column predicates (pushed down by
 * Catalyst) + the §2.1/§2.2 operator pipeline.
 */
object Requests {

  /** One per-stream mutation step (StreamMutation,
    * lib/openinstrument.proto:24-52). `freq` in ms. */
  sealed trait MutationSpec { def apply(df: DataFrame): DataFrame }
  case class Rate(perSecond: Boolean = true) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.rate(df, perSecond)
  }
  case class RateSigned(perSecond: Boolean = true) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.rateSigned(df, perSecond)
  }
  case object Delta extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.delta(df)
  }
  case class Mean(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.meanGrid(df, freq)
  }
  case class MinM(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.minGrid(df, freq)
  }
  case class MaxM(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.maxGrid(df, freq)
  }
  case class Latest(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.latestGrid(df, freq)
  }
  case class StdDev(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.stddevGrid(df, freq)
  }
  case class Interpolate(freq: Long, maxGapMs: Long = 0L) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.interpolate(df, freq, maxGapMs)
  }
  case class Uniform(freq: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.resampleUniform(df, freq)
  }
  /** Engine extension (no reference wire field): time-constant EWMA
    * smoothing, `tau` in ms. */
  case class Ewma(tau: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.ewma(df, tau.toDouble)
  }
  /** Engine extension: EWMA-control-chart z-scores (dval becomes the
    * score of each point against the prior EWM mean/variance). */
  case class Anomaly(tau: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.ewmZscore(df, tau.toDouble)
  }
  /** Engine extension: Holt level+trend smoothing (taus in ms). */
  case class Holt(tauLevel: Long, tauTrend: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame =
      Mutations.holt(df, tauLevel.toDouble, tauTrend.toDouble)
  }
  /** Engine extension: time-bucketed LTTB downsample (visually
    * dominant point per `bucket` ms — see [[Mutations.LttbOp]]). */
  case class Lttb(bucket: Long) extends MutationSpec {
    def apply(df: DataFrame): DataFrame = Mutations.lttb(df, bucket)
  }
  /** Engine extension: sliding-window grid (PromQL range-query shape);
    * output keeps the (skey, ts, dval) mutation contract. */
  case class Sliding(width: Long, hop: Long,
                     agg: Aggregations.AggType = Aggregations.Average)
      extends MutationSpec {
    def apply(df: DataFrame): DataFrame =
      Mutations.slidingGrid(df, width, hop, agg).drop("n")
  }

  /** Cross-stream aggregation (StreamAggregation,
    * lib/openinstrument.proto:54-70): one output series per variable
    * name, or per distinct value of each label in `labels`. */
  case class AggregationSpec(agg: Aggregations.AggType,
                             labels: Seq[String] = Nil,
                             sampleIntervalMs: Long = Aggregations.DefaultIntervalMs) {
    /** Reference parity: an unset/zero `sample_interval` falls back to
      * the 30 s default (`if (!sample_interval) sample_interval = 30000`,
      * server/store.cc:165-167; default in lib/openinstrument.proto:68-69).
      * Negative values are treated the same — the wire type is uint32,
      * so they are unrepresentable in a reference request. */
    def resolvedIntervalMs: Long =
      if (sampleIntervalMs <= 0L) Aggregations.DefaultIntervalMs
      else sampleIntervalMs
  }

  /** lib/openinstrument.proto:91-111.
    *
    * `autoRate` is an engine extension (no reference wire field): the
    * reference tags counter variables RATE so CLIENTS know to rate them
    * (lib/variable.h:110-124) but its servers never consult the tag.
    * Opting in applies the RATE mutation server-side to exactly the
    * series tagged RATE, before any requested mutations; GAUGE/UNKNOWN
    * series pass through raw. */
  case class GetRequest(
      variable: String,
      minTimestamp: Option[Long] = None,
      maxTimestamp: Option[Long] = None,
      mutations: Seq[MutationSpec] = Nil,
      aggregations: Seq[AggregationSpec] = Nil,
      maxVariables: Option[Int] = None,
      maxValues: Option[Int] = None,
      autoRate: Boolean = false,
      chainMutations: Boolean = true,
      /** Engine extension: RLE OUTPUT ENCODING — the response carries
        * runs (`ts`, `end_ts`, value) instead of dense rows, the
        * reference's own RLE form (lib/openinstrument.proto:77-80).
        * When the final mutation is a dense-grid emitter
        * (interpolate/uniform) the run-emitting twin replaces it, so
        * the dense rows never exist ([[Mutations.perSeriesRuns]]);
        * any other final shape is run-collapsed by [[graft.operators.Rle.encode]].
        * Dense-render clients reconstruct with `Rle.expand`.
        * Incompatible with aggregations (aggregate outputs are not
        * per-series grids), with C++ independent-mutation mode, and
        * with max_values (which counts VALUES, not run rows). */
      rleOutput: Boolean = false)

  /** lib/openinstrument.proto:137-157; max_age default 24 h
    * (lib/openinstrument.proto:143-145). */
  case class ListRequest(
      prefix: String,
      maxVariables: Option[Int] = None,
      maxAgeMs: Long = 86400000L)
}

object Engine {
  import Requests._

  /**
   * `/get` (§3.1): pattern + time-range filter (plain Column predicates
   * → Parquet pushdown), optional series cap, mutation chain folded in
   * order (go/src/store.go:101-131), then the optional aggregation.
   * Output: per-series points (skey,…) or aggregated series.
   *
   * Series identity: a series IS its key. A mutation that drops
   * `name`/`labels` has them rebuilt from `skey` by the key's exact
   * inverse ([[graft.model.Point.unkeyRow]]), so an aggregation sees
   * the name and the key's own label entries. The key leaves out
   * null-valued label entries, so series whose label maps differ only
   * in null-valued entries are one series, and come back with the
   * non-null entries only — deterministically; a series with an empty
   * or null label map comes back with an empty map.
   */
  def get(points: DataFrame, req: GetRequest): DataFrame = {
    // A caller-supplied series key is honored: adapters can build the
    // key far more cheaply than the generic escape+sort on a domain
    // where the two agree byte for byte — see
    // [[graft.sources.PointSource.eventsKeyed]].
    // PRECONDITION on a pre-keyed input: `skey` must be the bytes
    // Point.seriesKey gives for the CURRENT name/labels columns — a
    // caller that mutates name or labels after keying (the
    // agg_preserve withSite pattern) must re-key (drop the column or
    // call Point.withSeriesKey again), or series silently mis-group on
    // the stale key and come back under its identity. Enforced by
    // convention; SeriesKeyContractSpec pins the one adapter key.
    var df = (if (points.columns.contains("skey")) points
              else Point.withSeriesKey(points))
      .filter(VariableMatcher.compile(req.variable))
    req.minTimestamp.foreach(lo => df = df.filter(col("ts") >= lo))
    req.maxTimestamp.foreach(hi => df = df.filter(col("ts") <= hi))
    // max_variables truncates the series set (server/store.cc:133-135).
    // No broadcast hint: the keep-list is capped at `max_variables`
    // rows so it is USUALLY tiny, but the reference's design point is
    // millions of series — let AQE broadcast the small case at runtime
    // instead of forcing a driver materialization that has no size
    // safety valve at scale.
    req.maxVariables.foreach { cap =>
      val keep = df.select("skey").distinct()
        .orderBy("skey").limit(cap)
      df = df.join(keep, "skey")
    }
    // value_type-aware auto-rating (opt-in; see GetRequest.autoRate):
    // only the RATE-tagged partition pays the window shuffle.
    if (req.autoRate)
      df = Mutations.rate(df.filter(col("value_type") === "RATE"))
        .unionByName(df.filter(
          col("value_type").isNull || col("value_type") =!= "RATE"))
    // The two reference servers disagree on repeated mutations: Go
    // CHAINS them (each consumes the previous output, store.go:101-131);
    // C++ applies each independently to the raw stream and appends one
    // output stream per mutation (store.cc:140-147, matching the proto
    // comment "a separate stream for each change requested"). Default is
    // the Go pipeline; `chainMutations = false` selects C++ semantics.
    // Independent outputs are tagged `mut_idx` so downstream consumers
    // (response grouping, max_values) keep one stream PER MUTATION per
    // series, as the C++ response shape does.
    val independent = !req.chainMutations && req.mutations.size > 1
    if (req.rleOutput) {
      require(req.aggregations.isEmpty,
        "rleOutput applies to per-series grids; aggregated series are " +
          "not per-series output — drop aggregations or rleOutput")
      require(!independent,
        "rleOutput with independent (C++) mutation mode is ambiguous — " +
          "one run stream per mutation; use chained mutations")
      require(req.maxValues.isEmpty,
        "rleOutput with max_values is ambiguous — a run row covers many " +
          "grid values, so trimming the last n ROWS keeps far more than " +
          "n values (go/src/store.go:151-153 counts values); drop " +
          "max_values or request dense output")
    }
    df =
      if (req.rleOutput && req.mutations.nonEmpty) {
        // the run-emitting twin replaces a final dense-grid emitter
        // (dense rows never materialize); other final shapes collapse
        // via Rle.encode — which, over a perSeries-built emitter,
        // plans with zero extra exchange/sort (declared layout)
        val init = req.mutations.init.foldLeft(df)((d, m) => m(d))
        req.mutations.last match {
          case Interpolate(freq, gap) => Mutations.interpolateRle(init, freq, gap)
          case Uniform(freq) => Mutations.resampleUniformRle(init, freq)
          case m => graft.operators.Rle.encode(m(init))
        }
      } else if (req.rleOutput) {
        graft.operators.Rle.encode(df)
      } else if (!independent)
        req.mutations.foldLeft(df)((d, m) => m(d))
      else
        req.mutations.zipWithIndex.map { case (m, i) =>
            m(df).withColumn("mut_idx", lit(i)) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
    // Repeated aggregations append their output streams in request order,
    // each computed over the same post-mutation input — the C++ server's
    // `for (auto &agg : req.aggregation())` loop (server/store.cc:164-252).
    if (req.aggregations.nonEmpty) {
      // Rebuild series identity from the key when a mutation dropped
      // it — or when the independent union half-filled it with nulls
      // (a grid mutation's output lacks name/labels, so the unioned
      // column exists but is null for those rows). The key's exact
      // inverse does it row by row: no second scan, no join.
      if (!df.columns.contains("name") || independent ||
          (req.aggregations.exists(_.labels.nonEmpty) &&
            !df.columns.contains("labels"))) {
        val id = ParseVariable.parseVariable(col("skey"))
        df = df.drop("name", "labels")
          .withColumn("name", id.getField("name"))
          .withColumn("labels", id.getField("labels"))
      }
      val base = df
      df = req.aggregations.map { spec =>
        spec.labels match {
          case Nil => Aggregations.byName(base, spec.agg, spec.resolvedIntervalMs)
          case ls => ls.map(l =>
              Aggregations.byLabel(base, l, spec.agg, spec.resolvedIntervalMs))
            .reduce(_ unionByName _)
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // max_values keeps the LAST n per output series (go/src/store.go:151-153)
    req.maxValues.foreach { n =>
      // MAP columns can't be window-partition keys; serialize them
      val key =
        if (req.aggregations.isEmpty)
          // per OUTPUT stream: (series, mutation) under independent mode
          if (df.columns.contains("mut_idx")) Seq(col("skey"), col("mut_idx"))
          else Seq(col("skey"))
        else df.columns.filter(c => c != "ts" && c != "dval").map { c =>
          df.schema(c).dataType match {
            case _: org.apache.spark.sql.types.MapType => to_json(col(c))
            case _ => col(c)
          }
        }.toSeq
      df = df.withColumn("__rn", row_number().over(
          Window.partitionBy(key: _*).orderBy(col("ts").desc)))
        .filter(col("__rn") <= n).drop("__rn")
    }
    df
  }

  /**
   * `/list` (§3.3): distinct series matching a prefix within the
   * lookback window — a name/labels-only scan (column pruning = the
   * reference's fetch_values=false index-only path,
   * go/.../datastore/datastore.go:298-307).
   */
  def list(points: DataFrame, req: ListRequest, nowMs: Long): DataFrame = {
    var out = listRows(points, req, nowMs)
      .dropDuplicates("skey") // distinct() rejects MAP columns; skey is injective
    req.maxVariables.foreach(cap => out = out.orderBy("skey").limit(cap))
    out.drop("skey")
  }

  /** The rows [[list]] deduplicates: `(name, labels, skey)` of every
    * point that matches the prefix within the lookback window, one row
    * per point. The HTTP `/list` removes duplicates itself, inside each
    * scan task, so it runs no shuffle. */
  def listRows(points: DataFrame, req: ListRequest, nowMs: Long): DataFrame =
    // Same pre-keyed-input PRECONDITION as [[get]]: a caller-supplied
    // skey must match the current name/labels columns.
    (if (points.columns.contains("skey")) points
     else Point.withSeriesKey(points))
      .filter(VariableMatcher.compile(req.prefix))
      .filter(col("ts") >= nowMs - req.maxAgeMs)
      .select(col("name"), col("labels"), col("skey"))

  /**
   * `/add` ingest validation + enrichment (server/store.cc:402-444):
   * forces a `hostname` label when absent, rejects invalid names and
   * future timestamps (> 1 s drift). With a retention `policy`, points
   * the policy would immediately discard are dropped at ingest too
   * (server/store.cc:428-434; the reference drops silently — we route
   * them to the rejected side output with reason "retention drop" for
   * observability, a documented divergence). Returns (accepted,
   * rejected); rejected rows carry a `reject_reason`.
   */
  def add(points: DataFrame, hostname: String, nowMs: Long,
          policy: Option[graft.retention.Retention.Policy] = None):
      (DataFrame, DataFrame) = {
    val enriched = points.withColumn("labels",
      when(map_contains_key(col("labels"), lit("hostname")), col("labels"))
        .otherwise(map_concat(coalesce(col("labels"), map()),
          map(lit("hostname"), lit(hostname)))))
    // Clause order mirrors the reference's evaluation order
    // (server/store.cc:428-444): the retention check runs BEFORE the
    // future-timestamp check, so a future-dated point that retention
    // would discard is labeled a retention drop, not a future timestamp.
    val reason =
      when(col("name").isNull || length(col("name")) < 2 ||
           !col("name").startsWith("/") || col("name").rlike("\\s"),
        "invalid variable name")
      .when(policy.map(graft.retention.Retention.dropsAtIngest(_, nowMs))
        .getOrElse(lit(false)), "retention drop")
      .when(col("ts") > nowMs + 1000L, "future timestamp")
    val tagged = enriched.withColumn("reject_reason", reason)
    (tagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      tagged.filter(col("reject_reason").isNotNull))
  }
}
