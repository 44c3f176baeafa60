package graft

import graft.operators.Sessions
import graft.sources.{PointSource, Tables}
import graft.text.{Pii, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-sequence and curation analytics: sessionization, as-of join,
 * funnel, cohort matrix, rolling windows, exact quantiles, and z-score
 * outliers over the `events` table; repetition quality, PII redaction,
 * stratified sampling, TF-IDF, unigram-LM surprisal, char entropy,
 * per-language heavy hitters, soft-dedup weights, domain-mixture
 * reweighting, and table profiling over `documents`. Each has a
 * bit-identical DuckDB oracle.
 *
 * Scale notes inline per query; the common theme is one hash shuffle
 * on the natural key (user / doc / token) and zero driver-side state.
 */
object AnalyticsEntry {

  private val SessionGapMs = 12L * 3600 * 1000

  /** Fixed column list profiled by p_profile — shared with the oracle. */
  private val ProfileCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Dataset profile (one row per profiled column): row/null/distinct
    * counts + min/max. With `checkApprox`, the same aggregation pass
    * also runs approx_count_distinct (HLL++ partials, the 100 TB
    * shape) and emits a `within_tol` boolean — |approx − exact| within
    * 15% relative (HLL++ default rsd 0.05, 3σ) with an absolute floor
    * of 2 — so the sketch's accuracy contract is machine-checked by an
    * oracle that pins within_tol TRUE. The production profile drops
    * the Expand-based exact distincts and keeps only the sketch; the
    * per-column explosion happens on the one-row aggregate OUTPUT,
    * free at any scale. */
  private def profile(d: DataFrame, checkApprox: Boolean): DataFrame = {
    val cols = ProfileCols
    val agg = d.agg(
      count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c")) ++
        (if (checkApprox) Seq(approx_count_distinct(col(c)).as(s"na_$c"))
         else Nil)): _*)
    val tolCol: String => Seq[org.apache.spark.sql.Column] =
      if (checkApprox) c => Seq(
        (abs(col(s"na_$c") - col(s"nd_$c")) <=
          greatest(col(s"nd_$c") * lit(0.15), lit(2.0))).as("within_tol"))
      else _ => Nil
    agg.select(col("n"), explode(array(cols.map(c =>
        struct(Seq(lit(c).as("col_name"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("n_distinct"), col(s"mn_$c").as("min_val"),
          col(s"mx_$c").as("max_val")) ++ tolCol(c): _*)): _*)).as("p"))
      .select(Seq(col("p.col_name"), col("n"), col("p.n_null"),
        col("p.n_distinct"), col("p.min_val"), col("p.max_val")) ++
        (if (checkApprox) Seq(col("p.within_tol")) else Nil): _*)
  }

  /** Whitespace-token CTE shared by the document oracles (same shape as
    * PipelineEntry's). */
  private val T =
    """WITH toks AS (SELECT doc_id, text,
      | list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
      | FROM documents) """.stripMargin

  /** Unigram-LM surprisal per document (shared by t_unigram_nll and
    * t_ppl_bucket). The t_tfidf shape: ONE tokenize pass materialized
    * through the (doc_id, tok) term-frequency exchange, which every
    * consumer (vocab, corpus total, the join stream side) reads back.
    * The weighted per-doc average (Σ tf·nll / Σ tf) is exact — it just
    * groups equal occurrences first — and unlike a raw-occurrence
    * repartition on tok it keeps hot-token exposure bounded: a
    * stop-word contributes ONE tf row per doc to the tok join, not its
    * whole occurrence stratum, and the join's exchange stays
    * ENSURE_REQUIREMENTS so AQE skew mitigation still applies. */
  private def unigramNll(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull && col("doc_id").isNotNull)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("tok").agg(sum(col("tf")).as("cnt"))
    val tot = vocab.agg(sum("cnt").as("total"))
    tf.join(vocab, "tok").crossJoin(broadcast(tot))
      .withColumn("nll", -log(col("cnt") / col("total")))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tok"),
        round(sum(col("tf") * col("nll")) / sum(col("tf")), 4).as("avg_nll"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -------------------------------------------------- event sequences
    // Gap-based sessionization + per-session stats. One shuffle total:
    // the window hash-partitions on user_id and the groupBy(user_id,
    // session) reuses that partitioning (ClusteredDistribution
    // satisfied by the subset key).
    "ev_sessionize" -> ((s, dir) =>
      Sessions.sessionize(Tables.events(s, dir),
          col("user_id"), col("ts"), SessionGapMs)
        .groupBy(col("user_id"), col("session"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("t_start"), max("ts").as("t_end"),
          round(sum("value"), 4).as("sum_val"))),

    // Top session paths: the event-type sequence of every session (gap
    // sessionization), counted corpus-wide — the "what do users
    // actually do" product-analytics staple. Path assembly is one
    // per-session collect bounded by session length (sort_array over a
    // (ts, event_id) struct keeps the order total), then a count
    // shuffle on the path string and a TakeOrdered head.
    "ev_top_paths" -> ((s, dir) =>
      Sessions.sessionize(Tables.events(s, dir),
          col("user_id"), col("ts"), SessionGapMs)
        .groupBy(col("user_id"), col("session"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), "->").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)),

    // As-of join: each click gets the latest preceding view of the same
    // user (inclusive ties, left semantics) — the general operator
    // (operators/AsOf.scala: multi-key, both directions, tolerance).
    // Views are pre-aggregated per (user, ts) so the as-of match is
    // well-defined under timestamp collisions.
    "ev_asof" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("val"))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.operators.AsOf.asofJoin(clicks, views, Seq("user_id"),
          rightPrefix = "view_")
        .select("event_id", "user_id", "ts", "view_ts", "view_val")
    }),

    // Range join: purchases attributed to the click-session interval
    // they fall inside (inclusive ends). Bucketed containment join
    // (operators/RangeJoin.scala) — intervals explode to 24 h buckets,
    // purchases equi-join on (user, bucket), exact between-filter
    // inside the joined stream; never a nested-loop range predicate.
    "ev_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val sessions = Sessions.sessionize(
          e.filter(col("event_type") === "click"),
          col("user_id"), col("ts"), SessionGapMs)
        .groupBy(col("user_id"), col("session"))
        .agg(min("ts").as("t_start"), max("ts").as("t_end"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.RangeJoin.pointsInIntervals(
          purchases, sessions, Seq("user_id"), bucketMs = 24L * 3600 * 1000)
        .groupBy(col("user_id"),
          col("iv_t_start").as("t_start"), col("iv_t_end").as("t_end"))
        .agg(count(lit(1)).as("n_purch"),
          round(sum("value"), 4).as("sum_val"))
    }),

    // Linear multi-touch attribution: every distinct view instant in
    // the 24 h before a purchase shares that purchase's amount
    // equally — RangeJoin (purchase lookback windows as intervals)
    // composed with a per-purchase count window. One bucketed
    // equi-join + one window, both on the user/purchase keys.
    "ev_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val intervals = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("pts"))
        .agg(max("value").as("amount"))
        .select(col("user_id"), col("pts"), col("amount"),
          (col("pts") - 24L * 3600 * 1000).as("t_start"),
          col("pts").as("t_end"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts")).distinct()
      val touched = graft.operators.RangeJoin.pointsInIntervals(
        views, intervals, Seq("user_id"), bucketMs = 24L * 3600 * 1000,
        tsCol = "vts")
      val w = Window.partitionBy("user_id", "iv_pts")
      touched
        .withColumn("credit",
          round(col("iv_amount") / count(lit(1)).over(w), 4))
        .select(col("user_id"), col("vts"), col("iv_pts").as("pts"),
          col("credit"))
    }),

    // Interval overlap join: click-session spans × view-session spans
    // of the same user that intersect, with the overlap length. Each
    // pair emits exactly once (kept only in the first bucket both
    // spans cover); the exact overlap predicate filters the bucket
    // over-approximation (operators/RangeJoin.intervalOverlapJoin).
    "ev_overlap_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def spans(t: String) = Sessions.sessionize(
          e.filter(col("event_type") === t),
          col("user_id"), col("ts"), SessionGapMs)
        .groupBy(col("user_id"), col("session"))
        .agg(min("ts").as("t_start"), max("ts").as("t_end"))
        .drop("session")
      graft.operators.RangeJoin.intervalOverlapJoin(
          spans("click"), spans("view"), Seq("user_id"),
          bucketMs = 24L * 3600 * 1000)
        .withColumn("overlap_ms",
          least(col("t_end"), col("b_t_end")) -
            greatest(col("t_start"), col("b_t_start")))
    }),

    // Ordered funnel (view -> click -> purchase) per user: stage
    // timestamps via three stacked full-frame windows on the same key —
    // the partitioning survives all three, so ONE shuffle total and no
    // self-joins (the naive per-stage join would be three).
    // RFM segmentation — recency / frequency / monetary quintiles per
    // purchasing user, the classic CRM slice: one purchase-filtered
    // aggregation to one row per user, then quintile CUT POINTS from a
    // single exact-percentile aggregation broadcast back (the
    // agg_winsor shape) — NOT a global ntile window, which would
    // serialize every purchasing user through one total-sort task.
    // Scores are 1 + #cuts strictly below the value, so ties share a
    // score and both engines bucket identically (Spark `percentile` ==
    // DuckDB `quantile_cont`, same interpolation arithmetic). A user
    // with an all-null monetary lands in m_score 1 (no cut exceeded —
    // the null comparison is pinned false on both sides). At 100 TB
    // the production swap is approx_percentile (mergeable GK partials)
    // for the cut row; the plan shape is identical.
    "ev_rfm" -> ((s, dir) => {
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max("ts").as("last_ts"), count(lit(1)).as("frequency"),
          round(sum("value"), 4).as("monetary"))
      val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
      val cuts = p.agg(
        expr(s"percentile(last_ts, $qs)").as("rc"),
        expr(s"percentile(frequency, $qs)").as("fc"),
        expr(s"percentile(monetary, $qs)").as("mc"))
      // coalesce(size(...), 0): when a METRIC is all-null (percentile
      // → null cut array) every user scores 1, matching the oracle's
      // coalesce(len(...), 0) — instead of Spark size(null)/DuckDB
      // len(NULL) diverging
      def score(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        lit(1) + coalesce(size(filter(c, x => coalesce(v > x, lit(false)))),
          lit(0))
      p.crossJoin(broadcast(cuts))
        .select(col("user_id"), col("last_ts"), col("frequency"),
          col("monetary"),
          concat(score(col("last_ts"), col("rc")),
            score(col("frequency"), col("fc")),
            score(col("monetary"), col("mc"))).as("rfm_segment"))
    }),
    // Two-proportion A/B test — the product-analytics staple: variant
    // assignment from the user's FIRST view payload (k mod 2),
    // conversion = any purchase after that first view, pooled z-score
    // on the rate difference. One user-window pass, a 2-row variant
    // aggregate, and a broadcast-tiny z row crossed back on. The float
    // sequence (rates → pooled p → se → z) is written identically in
    // the oracle so the rounded z hashes exactly.
    "ev_ab_test" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val perUser = Tables.events(s, dir)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        // k coalesced to 0 BEFORE the struct-min: a null payload would
        // otherwise order differently between engines (Spark struct-min
        // sorts null fields first, SQL ORDER BY puts them last)
        .withColumn("kf", min(when(col("event_type") === "view",
          struct(col("ts"),
            coalesce(get_json_object(col("props"), "$.k").cast("long"),
              lit(0L)).as("k"))))
          .over(w))
        .withColumn("cv", max(when(col("event_type") === "purchase" &&
          col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + 3600000L, 1L).otherwise(0L)).over(w))
        .groupBy("user_id")
        .agg(min("t_view").as("t_view"), min("kf").as("kf"),
          max("cv").as("conv"))
        .filter(col("t_view").isNotNull)
        .select(col("user_id"), pmod(col("kf.k"), lit(2L)).as("variant"),
          col("conv"))
      val agg = perUser.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      val zRow = agg.filter(col("variant") === 0)
        .select(col("n_users").as("n0"), col("n_conv").as("c0"))
        .crossJoin(agg.filter(col("variant") === 1)
          .select(col("n_users").as("n1"), col("n_conv").as("c1")))
        .withColumn("se", sqrt(
          ((col("c0") + col("c1")) / (col("n0") + col("n1"))) *
            (lit(1.0) - (col("c0") + col("c1")) / (col("n0") + col("n1"))) *
            (lit(1.0) / col("n0") + lit(1.0) / col("n1"))))
        // all-convert / none-convert batches have se = 0: no detectable
        // difference, z pinned to 0 (ANSI would raise on the 0/0)
        .select(when(col("se") === 0.0, lit(0.0)).otherwise(round(
          ((col("c0") / col("n0")) - (col("c1") / col("n1"))) / col("se"),
          4)).as("z_pooled"))
      agg.crossJoin(broadcast(zRow))
        .select(col("variant"), col("n_users"), col("n_conv"),
          round(col("n_conv") / col("n_users"), 4).as("conv_rate"),
          col("z_pooled"))
    }),
    "ev_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
            col("ts"))).over(w))
        .groupBy("user_id")
        .agg(min("t_view").as("t_view"), min("t_click").as("t_click"),
          min("t_purchase").as("t_purchase"))
        .withColumn("stage",
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1).otherwise(0).cast("long"))
    }),

    // Semi-structured payload extraction: the JSON `props` column
    // parsed IN the engine (codegen'd JSON path, no UDF), typed, and
    // aggregated per event type — the schema-on-read shape every event
    // pipeline needs for payloads that never got promoted to columns.
    // One map-side parse + one bounded groupBy; at scale the parse
    // rides the scan and shuffles only (type, partial-agg) rows.
    "ev_props_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), round(avg("k"), 4).as("avg_k"))),

    // First-order Markov transition matrix over event types: each
    // user's journey orders by (ts, event_id) — event_id breaks
    // duplicate-ts ties deterministically — and every adjacent pair
    // counts toward (prev -> next). Probabilities normalize per
    // prev_type over the matrix ITSELF (O(#types²) rows), never the
    // event stream: one user-key window shuffle, one tiny agg, one
    // bounded window.
    "ev_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum("n").over(Window.partitionBy("prev_type")), 4))
    }),

    // Next-event prediction accuracy of the argmax Markov model: for
    // each state, predict the most-frequent successor and score the
    // hit rate — the evaluation twin of ev_transitions (is the flow
    // graph predictive, or near-uniform?). One corpus shuffle for the
    // lag, then everything runs on the bounded transition-count table;
    // the argmax window ranks that aggregate, never raw events, with a
    // deterministic (n desc, dst asc) tie-break on both engines.
    "ev_markov_acc" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = Tables.events(s, dir)
        .withColumn("src", lag("event_type", 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val top = Window.partitionBy("src")
        .orderBy(col("n").desc, col("dst"))
      edges
        .withColumn("rn", row_number().over(top))
        .withColumn("n_total", sum("n").over(Window.partitionBy("src")))
        .filter(col("rn") === 1)
        .select(col("src").as("prev_type"), col("dst").as("top_next"),
          col("n_total"), col("n").as("n_hit"),
          round(col("n") / col("n_total"), 4).as("acc"))
    }),

    // PageRank / stationary distribution over the event-transition
    // graph ("which state dominates user flows" — the link-analysis
    // quality-weighting shape). Edge extraction is the corpus-scale
    // part (one user_id shuffle, then the transition-count aggregate);
    // the power iteration then runs over the bounded type-alphabet
    // frames (nodes/edges are O(|alphabet|²)) — ten lazy join+agg
    // rounds with dangling-mass redistribution, all contribution sums
    // through decimal(38,12) so the trajectory is partition-order-free
    // and bit-identical to the oracle's ten unrolled CTE stages.
    "ev_pagerank" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, dir)
      val edges = ev
        .withColumn("src", lag("event_type", 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val nodes = ev.select(col("event_type").as("node")).distinct()
      // The graph is bounded by the event-type alphabet (nodes O(A),
      // edges O(A²)) — only edge EXTRACTION is corpus-scale. So the two
      // distributed actions are the alphabet²-sized edge collect and
      // the node collect; all ten power-iteration rounds then run on
      // the driver over that tiny graph (the k-means centroid precedent
      // taken to its endpoint: the old shape re-scanned events ~3× per
      // round through the nodes/edges/outdeg subtrees — 10 corpus-
      // touching jobs for an O(A²) computation). The arithmetic
      // replicates the previous Catalyst plan EXACTLY — IEEE double
      // products, decimal(38,12) HALF_UP casts (valueOf + setScale is
      // bit-for-bit Spark's Cast(Double→Decimal(38,12)) path), exact
      // decimal sums — so the trajectory, and the hash vs the oracle's
      // ten unrolled CTE stages, is unchanged.
      val edgeArr = edges.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nodeArr = nodes.collect().map(_.getString(0)).sorted
      val nd = nodeArr.length.toDouble
      import java.math.{BigDecimal => JBD, RoundingMode}
      def dec12(x: Double): JBD =
        JBD.valueOf(x).setScale(12, RoundingMode.HALF_UP)
      val wout = edgeArr.groupBy(_._1).map { case (src, es) =>
        src -> es.map(_._3).sum }
      val fracs = edgeArr.map { case (src, dst, n) =>
        (src, dst, n.toDouble / wout(src).toDouble) }
      var prV: Map[String, Double] = nodeArr.map(_ -> 1.0 / nd).toMap
      for (_ <- 0 until 10) {
        val dg = nodeArr.filterNot(wout.contains)
          .foldLeft(JBD.ZERO.setScale(12)) { (a, n) => a.add(dec12(prV(n))) }
          .doubleValue()
        val contrib = fracs.groupBy(_._2).map { case (dst, es) =>
          dst -> es.foldLeft(JBD.ZERO.setScale(12)) { (a, e) =>
            a.add(dec12(prV(e._1) * e._3)) }.doubleValue()
        }
        prV = nodeArr.map { n =>
          n -> (0.15 / nd + 0.85 * (contrib.getOrElse(n, 0.0) + dg / nd))
        }.toMap
      }
      s.createDataFrame(nodeArr.toSeq.map(n => (n, prV(n)))).toDF("node", "pr")
        .select(col("node").as("event_type"), round(col("pr"), 4).as("pr"),
          row_number().over(
            Window.orderBy(col("pr").desc, col("node"))).as("rank"))
    }),

    // Rolling 24h activity per event: RANGE-frame window (value-based
    // bounds, not row counts) on the user_id shuffle — the per-entity
    // rate-limit / burst-detection shape.
    "ev_rolling" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
        .rangeBetween(-86400000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum("value").over(w), 4).as("sum_24h"))
    }),

    // Cohort retention matrix: users bucketed by first-seen day, then
    // (cohort_day, days_since) distinct-user counts. The cohort day
    // rides a full-frame window on user_id; the matrix agg reuses no
    // partitioning (different key) but its cardinality is days² —
    // trivially small at any corpus scale.
    "ev_cohort" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day", expr("ts div 86400000"))
        .withColumn("cohort_day",
          min("day").over(Window.partitionBy("user_id")))
      e.groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("days_since"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
    }),

    // Exact interpolated quantiles per event type (Spark `percentile`
    // == DuckDB `quantile_cont`): map-side partial collection is not
    // possible for exact quantiles, but group cardinality is the event
    // type count — a safe full-agg at any scale.
    "ev_quantiles" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))),

    // ------------------------------------------------ curation additions
    // Gopher-style repetition stats: duplicate-token fraction + top-
    // bigram mass fraction, both MAP-SIDE. A doc's tokens live in one
    // row, so the max bigram count equals the longest equal-run in the
    // SORTED bigram array: sort_array (O(n log n) per row) + one linear
    // `aggregate` HOF run-length scan — zero shuffles, zero joins,
    // where the old explode → (doc_id, bigram) groupBy shuffled a
    // corpus-token-sized stream of near-distinct keys that partial
    // aggregation couldn't compress. (The naive HOF alternative — a
    // per-element frequency rescan — would be O(n²) per doc; the
    // sorted-run scan is not.)
    "t_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          sort_array(TextOps.shingles(col("toks"), 2)).as("bg"))
        // best folds COMPLETED runs only (updated when a run breaks),
        // finish adds the trailing run — so the merge computes the run
        // extension once per element instead of twice
        .withColumn("maxrun", aggregate(col("bg"),
          struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
            lit(0L).as("best")),
          (acc, x) => {
            val same = x === acc.getField("prev")
            struct(x.as("prev"),
              when(same, acc.getField("run") + 1L).otherwise(1L).as("run"),
              when(same, acc.getField("best"))
                .otherwise(greatest(acc.getField("best"), acc.getField("run")))
                .as("best"))
          },
          acc => greatest(acc.getField("best"), acc.getField("run"))))
        .select(col("doc_id"), col("n_tok"),
          round(when(col("n_tok") === 0, 0.0)
            .otherwise(lit(1.0) - col("n_uniq") / col("n_tok").cast("double")), 4)
            .as("dup_tok_frac"),
          round(when(size(col("bg")) === 0, 0.0)
            .otherwise(col("maxrun") / size(col("bg")).cast("double")), 4)
            .as("top2_frac"))
    }),

    // PII detection + placeholder redaction over the string payload —
    // pure codegen'd regexps, zero shuffle at any scale.
    "t_pii" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        Pii.countMatches(col("props"), Pii.EmailPattern).as("n_email"),
        Pii.countMatches(col("props"), Pii.Ipv4Pattern).as("n_ip"),
        Pii.countMatches(col("props"), Pii.PhonePattern).as("n_phone"),
        Pii.countMatches(col("props"), Pii.NumberPattern).as("n_num"),
        Pii.redact(col("props")).as("redacted"))),

    // Deterministic stratified sample: top-20 per source by salted
    // content-independent hash order. Spark's WindowGroupLimit pushes
    // the rank filter below the exchange (per-mapper top-k), so the
    // shuffle carries ≤ 20·mappers rows per stratum — not the stratum.
    "p_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("s#"), col("doc_id"))), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("source", "doc_id", "rk")
    }),

    // Data-profiling pass (the validation step before any training
    // run): one row per column with null count, exact distinct count,
    // and min/max rendered as strings. One parquet scan; note the
    // multiple exact count_distincts make Catalyst Expand the input
    // (one shuffled row per distinct-agg per input row) — the price of
    // exactness, paid so the oracle can hash-match. The 100 TB variant
    // swaps in approx_count_distinct (HLL partials, no Expand) at the
    // cost of the exact gate. The per-column explosion happens on the
    // one-row agg OUTPUT, which is free at any scale.
    "p_profile" -> ((s, dir) => profile(Tables.documents(s, dir), checkApprox = false)),

    // The 100 TB variant: approx_count_distinct (HyperLogLog++
    // partials) — no per-distinct-agg row expansion in production.
    // The gate runs BOTH in one pass and hashes (keys, exact stats,
    // within_tol): the sketch estimate itself stays out of the hashed
    // projection (no DuckDB twin), but its 15%-relative accuracy
    // contract is oracle-checked — an HLL drift flips within_tol and
    // hash-fails the row.
    "p_profile_approx" -> ((s, dir) =>
      profile(Tables.documents(s, dir), checkApprox = true)),

    // Unigram-LM surprisal score: mean -ln p(token) per document under
    // the corpus unigram distribution — the classic cheap LM-quality
    // filter (high = out-of-distribution/noise, low = repetitive).
    // Same natural-key shuffles as t_tfidf; corpus totals ride a 1-row
    // broadcast.
    "t_unigram_nll" -> ((s, dir) => unigramNll(s, dir)),
    // Curriculum schedule: deterministic shard assignment (md5, like
    // p_split — re-crawl-stable) + easy-first rank within each shard by
    // LM surprisal — the data-ordering pass curriculum training wants,
    // reproducible run-to-run. Ranks are per-shard windows over the
    // already-reduced per-doc rows (8 shards ⇒ 8 parallel rank chains,
    // never one global sort).
    "p_curriculum" -> ((s, dir) => {
      val shard = conv(substring(md5(concat(lit("c#"),
        col("doc_id"))), 1, 4), 16, 10).cast("long") % 8
      val w = Window.partitionBy("shard").orderBy(col("avg_nll"), col("doc_id"))
      unigramNll(s, dir)
        .withColumn("shard", shard)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("rank"), col("avg_nll"))
    }),
    // CCNet-style perplexity bucketing (Wenzek et al. 2020): documents
    // split into head/middle/tail TERCILES of LM surprisal WITHIN each
    // language — the language-local cut is the point (a global
    // threshold would dump whole low-resource languages into "tail").
    // Tercile CUT POINTS come from a per-language exact-percentile
    // aggregation (O(#langs) rows) broadcast back — never a
    // per-language ntile window, whose dominant-language partition
    // (en ≈ most of any real corpus) would total-sort nearly the whole
    // corpus on ONE task. Ties at a cut share a bucket (value-based
    // split); Spark `percentile` == DuckDB `quantile_cont` so both
    // engines derive bit-equal cuts. 100 TB swap: approx_percentile.
    "t_ppl_bucket" -> ((s, dir) => {
      val j = unigramNll(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
      val cuts = j.groupBy("lang").agg(expr(
        "percentile(avg_nll, array(cast(1 as double)/3, cast(2 as double)/3))")
        .as("cuts"))
      // null-safe lang key: a NULL-language doc buckets within its own
      // (null) group instead of silently dropping at the join
      j.as("j").join(broadcast(cuts).as("c"),
          col("j.lang") <=> col("c.lang"))
        .select(col("j.doc_id").as("doc_id"), col("j.lang").as("lang"),
          col("j.avg_nll").as("avg_nll"),
          when(col("j.avg_nll") <= col("c.cuts")(0), "head")
            .when(col("j.avg_nll") <= col("c.cuts")(1), "middle")
            .otherwise("tail").as("bucket"))
    }),

    // Bigram-LM surprisal per doc: mean −ln P(b|a) over adjacent token
    // pairs, P = corpus bigram count / prefix count — the next step up
    // from t_unigram_nll's quality filter (catches word-salad text
    // whose unigrams look fine). Bigrams materialize MAP-SIDE from the
    // token array (element_at pairs — no self-join, no posexplode
    // matching); the per-doc tf grouping then bounds hot-bigram
    // exposure in the count joins exactly like t_unigram_nll's tf
    // shape, and both count sides aggregate before joining so AQE
    // keeps the build-side choice.
    "t_bigram_nll" -> ((s, dir) => {
      // lambda-free pair materialization + explicit not-null on both
      // keys: see t_kn_nll — this is what lets the prefix-count branch
      // reuse the tf exchange instead of re-tokenizing the corpus
      val bi = Tables.documents(s, dir)
        .withColumn("__t", split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+"))
        .filter(size(col("__t")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))).as("p"))
        .select(col("doc_id"), col("p.0").as("a"), col("p.1").as("b"))
        .filter(col("doc_id").isNotNull &&
          col("a").isNotNull && col("b").isNotNull)
      val tf = bi.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("tf"))
      val cab = tf.groupBy("a", "b").agg(sum("tf").as("cnt_ab"))
      val ca = cab.groupBy("a").agg(sum("cnt_ab").as("cnt_a"))
      tf.join(cab, Seq("a", "b")).join(ca, Seq("a"))
        .withColumn("nll", -log(col("cnt_ab") / col("cnt_a")))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_big"),
          round(sum(col("tf") * col("nll")) / sum(col("tf")), 4).as("avg_nll"))
    }),

    // Interpolated Kneser-Ney bigram surprisal — the real LM-smoothing
    // step above t_bigram_nll's raw MLE (which assigns −ln 1 = 0 to
    // every once-seen bigram and cannot rank rare-context text):
    //   P(b|a) = (c(ab) − d)/c(a) + d·N1+(a·)/c(a) · N1+(·b)/N1+(··)
    // with d = 0.75. Every statistic is an integer count aggregated
    // from the same (a,b) count table — continuation counts N1+ are
    // one groupBy each over the ALREADY-aggregated bigram types (small
    // table), the type total broadcasts as a 1-row cross join, and the
    // per-doc tf grouping bounds hot-bigram exposure exactly like
    // t_bigram_nll. Same map-side bigram materialization, same
    // aggregate-before-join shape.
    "t_kn_nll" -> ((s, dir) => {
      // Bigram pairs via trim+split and arrays_zip/slice — semantically
      // the same tokens as TextOps.tokens for any text with >= 2 of
      // them (trim removes the boundary empties the filter-lambda
      // would), but LAMBDA-FREE: lambda variables defeat plan
      // canonicalization, and with them gone the four count branches
      // below share one tokenize scan via ReusedExchange instead of
      // re-reading the corpus four times.
      val bi = Tables.documents(s, dir)
        .withColumn("__t", split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+"))
        .filter(size(col("__t")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))).as("p"))
        .select(col("doc_id"), col("p.0").as("a"), col("p.1").as("b"))
        // explicit not-null on BOTH keys (a no-op: split never yields
        // null elements) so every join branch's INFERRED isnotnull is
        // subsumed and the subtrees canonicalize equal — without it
        // each count branch infers a different filter and re-scans
        .filter(col("doc_id").isNotNull &&
          col("a").isNotNull && col("b").isNotNull)
      val tf = bi.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("tf"))
      val cab = tf.groupBy("a", "b").agg(sum("tf").as("cnt_ab"))
      // every continuation-count branch references cnt_ab (count(cnt_ab)
      // == count(*), cnt_ab is never null) so all four consumers of cab
      // prune to the same columns and the cab/tf exchanges canonicalize
      // equal — the corpus tokenizes ONCE (ReusedExchange, asserted in
      // PlanAuditSpec), with only type-table-sized aggregations above
      val ca = cab.groupBy("a").agg(sum("cnt_ab").as("cnt_a"),
        count(col("cnt_ab")).as("n1f"))
      val n1b = cab.groupBy("b").agg(count(col("cnt_ab")).as("n1b"))
      val nbb = cab.agg(count(col("cnt_ab")).as("nbb"))
      val p = (col("cnt_ab") - lit(0.75)) / col("cnt_a") +
        lit(0.75) * col("n1f") / col("cnt_a") * (col("n1b") / col("nbb"))
      tf.join(cab, Seq("a", "b")).join(ca, Seq("a")).join(n1b, Seq("b"))
        .crossJoin(broadcast(nbb))
        .withColumn("nll", -log(p))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_big"),
          round(sum(col("tf") * col("nll")) / sum(col("tf")), 4).as("avg_nll"))
    }),

    // The 100 TB quantile path: approx_percentile (Greenwald-Khanna
    // partials, map-side combinable) — the mergeable twin of
    // ev_quantiles' exact interpolation, which cannot partial-
    // aggregate. The GK estimates themselves have no bit-exact DuckDB
    // twin, so the gate hashes what an oracle CAN verify: the exact
    // quantiles (same query, same group pass) plus a `within_tol`
    // boolean asserting the sketch landed within 5% relative (1e-6
    // absolute floor) of each exact value — the raw estimates stay out
    // of the hashed projection, but a drifting sketch flips within_tol
    // to false and hash-fails the gate. Production drops the exact
    // columns and keeps only the mergeable sketch aggregate.
    "ev_quantiles_approx" -> ((s, dir) => {
      def ok(a: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
        abs(a - e) <= greatest(abs(e) * lit(0.05), lit(1e-6))
      // tolerance compares against the UNROUNDED exact value — the
      // hashed p* columns round to 4dp, and near-zero quantiles would
      // otherwise fail on rounding error alone
      Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("percentile(value, 0.5)").as("e50"),
          expr("percentile(value, 0.9)").as("e90"),
          expr("percentile(value, 0.99)").as("e99"),
          expr("approx_percentile(value, 0.5, 1000)").as("a50"),
          expr("approx_percentile(value, 0.9, 1000)").as("a90"),
          expr("approx_percentile(value, 0.99, 1000)").as("a99"))
        .select(col("event_type"), col("n"),
          round(col("e50"), 4).as("p50"),
          round(col("e90"), 4).as("p90"),
          round(col("e99"), 4).as("p99"),
          (ok(col("a50"), col("e50")) && ok(col("a90"), col("e90")) &&
            ok(col("a99"), col("e99"))).as("within_tol"))
    }),

    // Mergeable distinct-count sketch tier: per-(type, day) HLL
    // sketches — the shape a store materializes at rest — re-MERGED
    // across days with hll_union_agg to answer "distinct users over
    // any day range" without ever rescanning raw events. The 100 TB
    // point is the re-aggregation: daily sketch rows are tiny and the
    // union is associative, so arbitrary ranges cost O(days), not
    // O(events). Gated on the within_tol contract (ev_quantiles_approx
    // shape): the exact distinct count is oracle-verifiable, the
    // merged estimate must land within 5% of it, and the raw estimate
    // stays out of the hashed projection.
    "ev_hll_daily" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day", PointSource.dayOf(col("ts")))
      val daily = e.groupBy("event_type", "day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          count(lit(1)).as("n_days"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(broadcast(merged), "event_type")
        .select(col("event_type"), col("n_exact"), col("n_days"),
          (abs(col("est") - col("n_exact")) <=
            greatest(col("n_exact") * lit(0.05), lit(1.0))).as("within_tol"))
    }),

    // Per-event-type z-score outliers. The moment stats are O(#event
    // types) rows — a genuinely broadcast-safe build side at any corpus
    // size (contrast with the corpus-sized keep-lists this engine
    // deliberately avoids broadcasting). Both sides round z to 4dp so
    // partial-agg summation order can't flip the hash.
    "ev_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val stats = e.groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_pop("value").as("sigma"))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 4).as("z"))
    }),

    // Heavy hitters: top-10 tokens per language. Spark's
    // WindowGroupLimit rule pushes the rank<=10 filter below the
    // exchange, so each mapper ships at most 10 rows per language —
    // the shuffle is O(k·mappers·langs) regardless of vocabulary size
    // (asserted in PlanAuditSpec).
    "t_topk_lang" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      val counts = tok.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
    }),

    // Character-level Shannon entropy per document (low entropy =
    // repetitive/degenerate text; a standard cheap quality signal).
    // Histogram via explode→(doc,ch) agg — the map-side-combinable
    // shape; the HOF per-row frequency scan would be O(alphabet·len)
    // re-evaluated per element (TextOps.scala:126-133 trap).
    // entropy = ln n − Σ c·ln c / n over the per-char counts c.
    "t_entropy" -> ((s, dir) => {
      val ch = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]"), lit(0))).as("ch"))
      ch.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_ch"),
          round(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"), 4)
            .as("entropy"))
    }),

    // Soft dedup: duplicate-aware sampling weight 1/|cluster| per
    // exact-content cluster — keeps one expected copy per duplicate
    // set without dropping rows. Window keeper-count on the content
    // hash: ONE shuffle, no corpus-sized join side anywhere.
    "d_softdedup" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("csz",
          count(lit(1)).over(Window.partitionBy(md5(col("text")))).cast("long"))
        .select(col("doc_id"), col("csz").as("cluster_size"),
          round(lit(1.0) / col("csz"), 6).as("weight"))),

    // Domain-mixture reweighting toward a uniform source mix: per-doc
    // sampling weight n_tot / (n_sources · n_src). The per-source
    // stats table is O(#sources) — tiny at any corpus scale — so the
    // totals ride full-frame windows over it and the enriched stats
    // broadcast back to the corpus. Integer arithmetic until the final
    // division keeps the oracle bit-exact.
    "p_mix" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val full = Window.partitionBy(lit(0))
      val stats = d.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("n_tot", sum("n_src").over(full))
        .withColumn("n_sources", count(lit(1)).over(full))
        .select(col("source"),
          round(col("n_tot") / (col("n_sources") * col("n_src")), 6).as("mix_w"))
      d.join(broadcast(stats), "source")
        .select("doc_id", "source", "mix_w")
    }),

    // TF-IDF top-3 terms per document: tf via (doc, tok) agg, df via
    // tok agg, doc length via window over the tf rows, corpus size via
    // a 1-row broadcast. Shuffles on (doc,tok) → tok → doc, each on a
    // bounded natural key; no driver loops.
    "t_tfidf" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tot = d.agg(count(lit(1)).as("nd"))
      // One tokenize pass: the exploded rows repartition on (doc_id,
      // tok) — the clustering BOTH aggregates need, so the tf agg adds
      // no further exchange — and the df branch reads the same exchange
      // back (ReusedExchange). The aggregates above the shared exchange
      // differ (Catalyst rewrites the df branch's count into a
      // distinct), which is fine: only the cheap post-shuffle
      // HashAggregates duplicate, never the tokenize. Explicit
      // not-null guards keep inferred join constraints from
      // specializing either branch's subtree copy below the exchange
      // (the Dedup shared-exchange idiom).
      val tok = d.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("doc_id").isNotNull)
        .repartition(col("doc_id"), col("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfc, "tok").crossJoin(broadcast(tot))
        .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
        .withColumn("tfidf", (col("tf") / col("dl")) * log(col("nd") / col("df")))
      val rw = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rank", row_number().over(rw).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok"),
          round(col("tfidf"), 4).as("tfidf"), col("rank"))
    }))

  def oracleSql: Map[String, String] = Map(
    "ev_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, value FROM events),
         |g AS (SELECT user_id, ts, value,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > $SessionGapMs
         |   THEN 1 ELSE 0 END AS nb
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sess AS (SELECT user_id, ts, value,
         |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
         | FROM g)
         |SELECT user_id, session, count(*) AS n_events,
         | min(ts) AS t_start, max(ts) AS t_end, round(sum(value), 4) AS sum_val
         |FROM sess GROUP BY user_id, session""".stripMargin,
    "ev_top_paths" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts
         |  FROM events),
         |g AS (SELECT user_id, event_id, event_type, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > $SessionGapMs
         |   THEN 1 ELSE 0 END AS nb
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (SELECT user_id, event_id, event_type, ts,
         |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
         | FROM g),
         |paths AS (SELECT user_id, session,
         |  string_agg(event_type, '->' ORDER BY ts, event_id) AS path
         | FROM sess GROUP BY user_id, session)
         |SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths
         |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "ev_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts, event_type,
        |  value FROM events),
        |v AS (SELECT user_id, ts, max(value) AS view_val FROM e
        |      WHERE event_type = 'view' GROUP BY user_id, ts),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, v.ts AS view_ts, v.view_val AS view_val
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin,
    "ev_range_join" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type, value
         |  FROM events),
         |g AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > $SessionGapMs
         |   THEN 1 ELSE 0 END AS nb
         | FROM e WHERE event_type = 'click'
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sess AS (SELECT user_id, ts,
         |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
         | FROM g),
         |iv AS (SELECT user_id, session, min(ts) AS t_start, max(ts) AS t_end
         |       FROM sess GROUP BY user_id, session),
         |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
         |SELECT p.user_id, iv.t_start, iv.t_end, count(*) AS n_purch,
         | round(sum(p.value), 4) AS sum_val
         |FROM p JOIN iv ON p.user_id = iv.user_id
         |  AND p.ts BETWEEN iv.t_start AND iv.t_end
         |GROUP BY p.user_id, iv.t_start, iv.t_end""".stripMargin,
    "ev_attribution" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type, value
        |  FROM events),
        |p AS (SELECT user_id, ts AS pts, max(value) AS amount FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |v AS (SELECT DISTINCT user_id, ts AS vts FROM e
        |      WHERE event_type = 'view'),
        |t AS (SELECT v.user_id, v.vts, p.pts, p.amount
        |      FROM v JOIN p ON v.user_id = p.user_id
        |       AND v.vts BETWEEN p.pts - 86400000 AND p.pts)
        |SELECT user_id, vts, pts,
        | round(amount / count(*) OVER (PARTITION BY user_id, pts), 4) AS credit
        |FROM t""".stripMargin,
    "ev_overlap_join" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events),
         |gc AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > $SessionGapMs
         |   THEN 1 ELSE 0 END AS nb
         | FROM e WHERE event_type = 'click'
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sc AS (SELECT user_id, ts,
         |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session FROM gc),
         |ivc AS (SELECT user_id, session, min(ts) AS t_start, max(ts) AS t_end
         |        FROM sc GROUP BY user_id, session),
         |gv AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > $SessionGapMs
         |   THEN 1 ELSE 0 END AS nb
         | FROM e WHERE event_type = 'view'
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sv AS (SELECT user_id, ts,
         |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session FROM gv),
         |ivv AS (SELECT user_id, session, min(ts) AS t_start, max(ts) AS t_end
         |        FROM sv GROUP BY user_id, session)
         |SELECT ivc.user_id, ivc.t_start, ivc.t_end,
         | ivv.t_start AS b_t_start, ivv.t_end AS b_t_end,
         | least(ivc.t_end, ivv.t_end) - greatest(ivc.t_start, ivv.t_start)
         |   AS overlap_ms
         |FROM ivc JOIN ivv ON ivc.user_id = ivv.user_id
         | AND ivc.t_start <= ivv.t_end AND ivv.t_start <= ivc.t_end""".stripMargin,
    "ev_rfm" ->
      """WITH p AS (SELECT user_id, max(epoch_ms(ts)) AS last_ts,
        |  count(*) AS frequency, round(sum(value), 4) AS monetary
        | FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (SELECT quantile_cont(last_ts, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |  quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |  quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc FROM p)
        |SELECT user_id, last_ts, frequency, monetary,
        | CAST(1 + coalesce(len(list_filter(rc,
        |     x -> coalesce(last_ts > x, false))), 0) AS VARCHAR)
        | || CAST(1 + coalesce(len(list_filter(fc,
        |     x -> coalesce(frequency > x, false))), 0) AS VARCHAR)
        | || CAST(1 + coalesce(len(list_filter(mc,
        |     x -> coalesce(monetary > x, false))), 0) AS VARCHAR) AS rfm_segment
        |FROM p, c""".stripMargin,
    "ev_ab_test" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type,
        |  coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
        |    AS k FROM events),
        |v AS (SELECT user_id, ts, k, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, k) AS rn
        |      FROM e WHERE event_type = 'view'),
        |fv AS (SELECT user_id, ts AS t_view, k FROM v WHERE rn = 1),
        |cv AS (SELECT fv.user_id, fv.k,
        |        max(CASE WHEN p.event_type = 'purchase' AND p.ts > fv.t_view
        |            AND p.ts <= fv.t_view + 3600000
        |            THEN 1 ELSE 0 END) AS conv
        |       FROM fv LEFT JOIN e p ON p.user_id = fv.user_id
        |       GROUP BY fv.user_id, fv.k),
        |pu AS (SELECT user_id, ((k % 2) + 2) % 2 AS variant,
        |        CAST(conv AS BIGINT) AS conv FROM cv),
        |agg AS (SELECT variant, count(*) AS n_users,
        |          CAST(sum(conv) AS BIGINT) AS n_conv
        |        FROM pu GROUP BY variant),
        |z0 AS (SELECT a.n_users AS n0, a.n_conv AS c0,
        |         b.n_users AS n1, b.n_conv AS c1,
        |         sqrt(((a.n_conv + b.n_conv) * 1.0 / (a.n_users + b.n_users))
        |           * (1.0 - (a.n_conv + b.n_conv) * 1.0
        |              / (a.n_users + b.n_users))
        |           * (1.0 / a.n_users + 1.0 / b.n_users)) AS se
        |       FROM agg a, agg b WHERE a.variant = 0 AND b.variant = 1),
        |z AS (SELECT CASE WHEN se = 0.0 THEN 0.0 ELSE round(
        |        ((c0 * 1.0 / n0) - (c1 * 1.0 / n1)) / se, 4) END AS z_pooled
        |      FROM z0)
        |SELECT variant, n_users, n_conv,
        | round(n_conv * 1.0 / n_users, 4) AS conv_rate, z.z_pooled
        |FROM agg, z""".stripMargin,
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id) AS t_view FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
        |         THEN ts END) OVER (PARTITION BY user_id) AS t_click FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
        |         THEN ts END) OVER (PARTITION BY user_id) AS t_purchase FROM s2)
        |SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
        | min(t_purchase) AS t_purchase,
        | CAST(CASE WHEN min(t_purchase) IS NOT NULL THEN 3
        |      WHEN min(t_click) IS NOT NULL THEN 2
        |      WHEN min(t_view) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM s3 GROUP BY user_id""".stripMargin,
    "t_bigram_nll" -> (T +
      """, x AS (SELECT doc_id, t[CAST(r.i AS INT)] AS a,
        |    t[CAST(r.i AS INT) + 1] AS b
        |  FROM toks, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |tf AS (SELECT doc_id, a, b, count(*) AS tf FROM x GROUP BY 1, 2, 3),
        |cab AS (SELECT a, b, sum(tf) AS cnt_ab FROM tf GROUP BY 1, 2),
        |ca AS (SELECT a, sum(cnt_ab) AS cnt_a FROM cab GROUP BY 1)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_big,
        | round(sum(tf * -ln(cnt_ab * 1.0 / cnt_a)) / sum(tf), 4) AS avg_nll
        |FROM tf JOIN cab USING (a, b) JOIN ca USING (a)
        |GROUP BY doc_id""".stripMargin),
    "t_kn_nll" -> (T +
      """, x AS (SELECT doc_id, t[CAST(r.i AS INT)] AS a,
        |    t[CAST(r.i AS INT) + 1] AS b
        |  FROM toks, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |tf AS (SELECT doc_id, a, b, count(*) AS tf FROM x GROUP BY 1, 2, 3),
        |cab AS (SELECT a, b, sum(tf) AS cnt_ab FROM tf GROUP BY 1, 2),
        |ca AS (SELECT a, sum(cnt_ab) AS cnt_a, count(*) AS n1f
        |  FROM cab GROUP BY 1),
        |nb AS (SELECT b, count(*) AS n1b FROM cab GROUP BY 1),
        |nt AS (SELECT count(*) AS nbb FROM cab)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_big,
        | round(sum(tf * -ln(
        |   (cnt_ab - cast(0.75 as double)) / cnt_a +
        |   cast(0.75 as double) * n1f / cnt_a * (n1b * cast(1 as double) / nbb)
        | )) / sum(tf), 4) AS avg_nll
        |FROM tf JOIN cab USING (a, b) JOIN ca USING (a) JOIN nb USING (b), nt
        |GROUP BY doc_id""".stripMargin),
    "ev_props_agg" ->
      """WITH k AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k,
        | CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 4) AS avg_k
        |FROM k GROUP BY event_type""".stripMargin,
    "ev_markov_acc" ->
      """WITH o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS prev
        | FROM events),
        |edges AS (SELECT prev AS src, event_type AS dst, count(*) AS n
        |  FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT src, dst, n,
        |    row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rn,
        |    sum(n) OVER (PARTITION BY src) AS n_total
        |  FROM edges)
        |SELECT src AS prev_type, dst AS top_next,
        |  CAST(n_total AS BIGINT) AS n_total, CAST(n AS BIGINT) AS n_hit,
        |  round(n * CAST(1 AS double) / n_total, 4) AS acc
        |FROM r WHERE rn = 1""".stripMargin,
    "ev_pagerank" -> {
      val stages = (1 to 10).map { t =>
        val p = s"p${t - 1}"
        s"""d$t AS (SELECT coalesce(sum(CAST(p.pr AS decimal(38,12))),
           |    CAST(0 AS decimal(38,12))) AS dg
           |  FROM $p p LEFT JOIN outdeg o ON p.node = o.src WHERE o.src IS NULL),
           |c$t AS (SELECT en.dst, sum(CAST(p.pr * en.frac AS decimal(38,12))) AS c
           |  FROM en JOIN $p p ON en.src = p.node GROUP BY 1),
           |p$t AS (SELECT n.node,
           |    CAST(0.15 AS double)/nn.nd + CAST(0.85 AS double) *
           |      (coalesce(CAST(c.c AS double), CAST(0 AS double)) +
           |       CAST(d.dg AS double)/nn.nd) AS pr
           |  FROM nodes n LEFT JOIN c$t c ON n.node = c.dst, d$t d, nn)""".stripMargin
      }.mkString(",\n")
      // AS MATERIALIZED on every corpus-derived base CTE: DuckDB 1.0
      // INLINES multiply-referenced CTEs, so the 10 unrolled power
      // iterations each re-expand the 1M-row lag window through en/
      // outdeg — the query tree grows ~3^10 copies of the corpus scan
      // and the sf1 oracle ran 600 s before interrupting. Materialized
      // (a pure optimization hint — byte-identical output), the chain
      // iterates over the 5-node alphabet only: < 1 s at sf1.
      s"""WITH o AS MATERIALIZED (SELECT user_id, event_type,
         |  lag(event_type) OVER (PARTITION BY user_id
         |    ORDER BY epoch_ms(ts), event_id) AS prev
         | FROM events),
         |edges AS MATERIALIZED (SELECT prev AS src, event_type AS dst, count(*) AS n
         |  FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT DISTINCT event_type AS node FROM events),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS double) AS nd FROM nodes),
         |outdeg AS MATERIALIZED (SELECT src, sum(n) AS wout FROM edges GROUP BY 1),
         |en AS MATERIALIZED (SELECT e.src, e.dst,
         |    CAST(e.n AS double) / CAST(o.wout AS double) AS frac
         |  FROM edges e JOIN outdeg o USING (src)),
         |p0 AS (SELECT node, CAST(1 AS double)/nn.nd AS pr FROM nodes, nn),
         |$stages
         |SELECT node AS event_type, round(pr, 4) AS pr,
         |  CAST(row_number() OVER (ORDER BY pr DESC, node) AS INT) AS rank
         |FROM p10""".stripMargin
    },
    "ev_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS prev_type
        | FROM events),
        |m AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        | FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        | round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 4) AS p
        |FROM m""".stripMargin,
    "ev_rolling" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts, value FROM events)
        |SELECT event_id, user_id, ts,
        | count(*) OVER w AS n_24h,
        | round(sum(value) OVER w, 4) AS sum_24h
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ev_cohort" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |c AS (SELECT user_id, day,
        |  min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e)
        |SELECT cohort_day, day - cohort_day AS days_since,
        | count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM c GROUP BY cohort_day, day - cohort_day""".stripMargin,
    "ev_quantiles" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    // the sketch gate hashes (keys, exact stats, within_tol) — the
    // oracle re-derives the exact side and pins within_tol TRUE, so a
    // sketch drifting past tolerance hash-fails the gate
    "ev_quantiles_approx" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | true AS within_tol
        |FROM events GROUP BY event_type""".stripMargin,
    "ev_hll_daily" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        | CAST(count(DISTINCT epoch_ms(ts) // 86400000) AS BIGINT)
        |   AS n_days,
        | true AS within_tol
        |FROM events GROUP BY event_type""".stripMargin,
    "t_repetition" -> (T +
      """, base AS (SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq
        |  FROM toks),
        |bg AS (SELECT doc_id,
        |  unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS b
        | FROM toks WHERE len(t) >= 2),
        |c AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |tp AS (SELECT doc_id, max(c)*1.0/sum(c) AS r FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        | round(CASE WHEN n_tok = 0 THEN 0.0
        |   ELSE 1.0 - n_uniq*1.0/n_tok END, 4) AS dup_tok_frac,
        | round(coalesce(r, 0.0), 4) AS top2_frac
        |FROM base LEFT JOIN tp USING (doc_id)""".stripMargin),
    "t_pii" -> {
      val redacted = Pii.Rules.foldLeft("props") { case (acc, (p, repl)) =>
        s"regexp_replace($acc, '$p', '$repl', 'g')"
      }
      s"""SELECT event_id,
         | len(regexp_extract_all(props, '${Pii.EmailPattern}')) AS n_email,
         | len(regexp_extract_all(props, '${Pii.Ipv4Pattern}')) AS n_ip,
         | len(regexp_extract_all(props, '${Pii.PhonePattern}')) AS n_phone,
         | len(regexp_extract_all(props, '${Pii.NumberPattern}')) AS n_num,
         | $redacted AS redacted
         |FROM events""".stripMargin
    },
    "p_profile" -> ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS VARCHAR) AS min_val,
         | CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // sketch gate: exact columns re-derived, within_tol pinned TRUE —
    // the HLL++ estimate is checked against tolerance, not hashed raw
    "p_profile_approx" -> ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS VARCHAR) AS min_val,
         | CAST(max($c) AS VARCHAR) AS max_val,
         | true AS within_tol
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "p_sample" ->
      """SELECT source, doc_id, rk FROM (
        | SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5('s#' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        | FROM documents) WHERE rk <= 20""".stripMargin,
    "t_unigram_nll" -> (T +
      """, tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY doc_id, tok),
        |vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
        |  FROM tf GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
        | round(sum(tf * -ln(cnt / (SELECT total FROM tot))) / sum(tf), 4)
        |  AS avg_nll
        |FROM tf JOIN vocab USING (tok) GROUP BY doc_id""".stripMargin),
    // curriculum: md5 shard + easy-first per-shard rank over the nll CTEs
    "p_curriculum" -> (T +
      """, tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY doc_id, tok),
        |vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
        |  FROM tf GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        |nll AS (SELECT doc_id,
        |  round(sum(tf * -ln(cnt / (SELECT total FROM tot))) / sum(tf), 4)
        |   AS avg_nll
        | FROM tf JOIN vocab USING (tok) GROUP BY doc_id),
        |sh AS (SELECT doc_id, avg_nll,
        |  CAST(CAST('0x' || substr(md5('c#' || CAST(doc_id AS VARCHAR)), 1, 4)
        |       AS BIGINT) % 8 AS BIGINT) AS shard
        | FROM nll)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard
        |   ORDER BY avg_nll, doc_id) AS BIGINT) AS rank,
        | avg_nll
        |FROM sh""".stripMargin),
    // CCNet terciles: same nll CTEs, per-language quantile_cont cut
    // points (== Spark percentile), value-based bucket split
    "t_ppl_bucket" -> (T +
      """, tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY doc_id, tok),
        |vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
        |  FROM tf GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        |nll AS (SELECT doc_id,
        |  round(sum(tf * -ln(cnt / (SELECT total FROM tot))) / sum(tf), 4)
        |   AS avg_nll
        | FROM tf JOIN vocab USING (tok) GROUP BY doc_id),
        |j AS (SELECT n.doc_id, d.lang, n.avg_nll
        | FROM nll n JOIN documents d USING (doc_id)),
        |c AS (SELECT lang, quantile_cont(avg_nll,
        |   [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]) AS cuts
        | FROM j GROUP BY lang)
        |SELECT j.doc_id, j.lang, j.avg_nll,
        | CASE WHEN j.avg_nll <= cuts[1] THEN 'head'
        |      WHEN j.avg_nll <= cuts[2] THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM j JOIN c ON j.lang IS NOT DISTINCT FROM c.lang""".stripMargin),
    "ev_outliers" ->
      """WITH s AS (SELECT event_type, avg(value) AS mu,
        |  stddev_pop(value) AS sigma FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value, round((value-mu)/sigma, 4) AS z
        |FROM events JOIN s USING (event_type)
        |WHERE abs((value-mu)/sigma) > 3""".stripMargin,
    "t_topk_lang" ->
      """WITH tk AS (SELECT lang,
        |  unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> len(x) > 0)) AS tok FROM documents),
        |c AS (SELECT lang, tok, count(*) AS cnt FROM tk GROUP BY lang, tok),
        |r AS (SELECT lang, tok, cnt, CAST(row_number() OVER (PARTITION BY lang
        |  ORDER BY cnt DESC, tok) AS BIGINT) AS rank FROM c)
        |SELECT lang, tok, cnt, rank FROM r WHERE rank <= 10""".stripMargin,
    "t_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS ch
        | FROM documents),
        |h AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ch,
        | round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |FROM h GROUP BY doc_id""".stripMargin,
    "d_softdedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h, count(*) AS csz FROM h GROUP BY h)
        |SELECT doc_id, csz AS cluster_size, round(1.0/csz, 6) AS weight
        |FROM h JOIN c USING (h)""".stripMargin,
    "p_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_src FROM documents
        |  GROUP BY source),
        |e AS (SELECT source, round(sum(n_src) OVER () * 1.0 /
        |  (count(*) OVER () * n_src), 6) AS mix_w FROM s)
        |SELECT doc_id, source, mix_w FROM documents JOIN e USING (source)""".stripMargin,
    "t_tfidf" -> (T +
      """, tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tfc AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, count(*) AS df FROM tfc GROUP BY tok),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT doc_id, tok, tf, df,
        |  sum(tf) OVER (PARTITION BY doc_id) AS dl
        | FROM tfc JOIN dfc USING (tok)),
        |r AS (SELECT doc_id, tok,
        |  (tf/dl) * ln((SELECT nd FROM nd)/df) AS tfidf FROM sc),
        |rk AS (SELECT doc_id, tok, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, tok) AS BIGINT) AS rank
        | FROM r)
        |SELECT doc_id, tok, round(tfidf, 4) AS tfidf, rank
        |FROM rk WHERE rank <= 3""".stripMargin))
}
