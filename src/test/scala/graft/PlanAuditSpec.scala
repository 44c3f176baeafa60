package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan regression tests: the 100 TB posture, locked in.
 *
 * Correctness gates prove the operators right at small scale; these
 * assert the *plan shapes* that make them survive large scale — no
 * accidental cartesian in any blocked-join dedup path, no shuffle in
 * map-side ops, broadcast where a small side is guaranteed. A change
 * that silently turns a bucket join into an all-pairs join fails here,
 * not in a 1000-executor postmortem.
 */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Queries whose semantics are intentionally all-pairs (exact
    * verification baselines, documented quadratic). */
  private val intentionallyQuadratic = Set("e_cos_pairs", "e_knn_brute")

  test("no blocked dedup/similarity path degenerates to all-pairs") {
    val blocked = Seq("d_ngram_jaccard", "d_minhash_lsh", "d_minhash_lookup",
      "d_simhash_pairs", "d_simhash_lookup", "d_cdc_pairs", "d_cdc_lookup",
      "d_dup_spans", "d_lev_pairs", "e_lsh_pairs", "t_winnow_pairs",
      "t_winnow_lookup", "p_decontam")
    blocked.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plan contains CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains BroadcastNestedLoopJoin")
    }
  }

  test("the exact baselines really are the only quadratic plans") {
    intentionallyQuadratic.foreach { q =>
      val p = plan(q)
      assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
        s"$q is documented as the exact all-pairs baseline; if it stopped " +
          "being quadratic, move it out of intentionallyQuadratic")
    }
  }

  test("p_split is pure map-side: zero exchanges") {
    val p = plan("p_split")
    assert(!p.contains("Exchange"), s"p_split must not shuffle:\n$p")
  }

  test("p_pack shuffles exactly once (per-shard window)") {
    val p = plan("p_pack")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1, s"p_pack expected exactly 1 shuffle exchange, got $n")
  }

  test("p_decontam broadcasts the benchmark shingle set") {
    val p = plan("p_decontam")
    assert(p.contains("BroadcastExchange"),
      "benchmark side must broadcast (it is small by construction)")
  }

  test("as-of gates plan join-free (union + one ordered window, no range join)") {
    Seq("ts_asof", "ts_asof_fwd", "ts_asof_near", "ev_asof").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"),
        s"$q must not plan any join — the as-of shape is a window scan:\n$p")
    }
  }

  test("range/overlap join gates stay bucketed equi-joins, never nested loops") {
    Seq("ev_range_join", "ev_overlap_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q range predicate must ride the bucket equi-join:\n$p")
    }
  }

  test("sliding grids aggregate partials before the window (no raw-point window scan)") {
    Seq("m_sliding_avg", "m_sliding_max").foreach { q =>
      val p = plan(q)
      // partial aggregation (map-side combine) must appear BELOW the
      // window: the window operates on bucket partials, not points
      assert(p.contains("HashAggregate") && p.contains("Window"),
        s"$q expected bucket partial agg + window:\n$p")
      val winIdx = p.indexOf("Window")
      assert(p.indexOf("HashAggregate", winIdx) > 0,
        s"$q window must sit above the bucket aggregation:\n$p")
    }
  }

  test("time-range scan pushes the ts filter into parquet") {
    val p = plan("q_pattern_filter")
    assert(p.contains("PushedFilters:") &&
      p.replaceAll("\\s", "").matches("(?s).*PushedFilters:\\[[^]]*ts[^]]*\\].*"),
      s"ts predicate must reach the parquet scan:\n${p.take(2000)}")
  }

  test("no corpus-sized broadcast hints on curation/dedup/api paths") {
    // A broadcast() hint on an O(corpus) or O(#series) side is a
    // scale-killer: the driver materializes and ships it with no size
    // safety valve. These paths must stay un-hinted (AQE broadcasts
    // genuinely-small sides at runtime on its own).
    // agg_preserve / agg_sum_bylabel / api_get_multi cover byLabel's
    // constLabels side: one row per OUTPUT series group —
    // series-cardinality, not schema-bounded, so it must stay un-hinted.
    Seq("p_curate", "d_ngram_jaccard", "d_minhash_lsh", "d_dup_groups",
        "api_get_limits", "agg_preserve", "agg_sum_bylabel",
        "api_get_multi").foreach { q =>
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.analyzed.toString.contains("ResolvedHint"),
        s"$q carries a broadcast/join hint on a corpus-sized side")
    }
  }

  test("p_curate keeper flag is a window, not a join") {
    val p = plan("p_curate")
    assert(!p.contains("Join"),
      s"p_curate must not join a keep-list back in:\n${p.take(1500)}")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1,
      s"p_curate expected exactly 1 shuffle (window over content hash), got $n")
  }

  test("d_ngram_jaccard: one blocking self-join + bounded hot-df guards") {
    val p = plan("d_ngram_jaccard")
    // Exactly one INNER join — the blocking self-join; per-doc set
    // sizes ride the banded rows (the old shape re-attached them with
    // two hinted corpus-sized broadcast joins). The DefaultShingleMaxDf
    // guard adds one LeftOuter join per self-join side (dropHotKeys —
    // build side bounded by distinct-keys/maxDf, never the corpus).
    // The planner may still freely broadcast the self-join's small
    // side at this SF — that's AQE/stats deciding, which is the point:
    // no hint forces it when the side is huge.
    val inner =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\\n]*Inner".r
        .findAllIn(p).length
    val outer =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\\n]*LeftOuter".r
        .findAllIn(p).length
    assert(inner == 1,
      s"d_ngram_jaccard expected exactly the blocking self-join, got $inner inner joins")
    assert(outer <= 2,
      s"d_ngram_jaccard expected at most 2 hot-df guard joins, got $outer")
    // The tokenize+shingle pass must still compile/run ONCE: the guard
    // joins and both self-join sides read the one repartition exchange
    // back (AQE stage reuse). Executed-plan evidence: a ReusedExchange
    // replaces the second side's subtree at runtime (verified via
    // SPARK_GRAFT_EXECUTE=true graft.Explain — 1 parquet scan).
  }

  test("ev_sessionize shuffles exactly once (window + stats share the key)") {
    val p = plan("ev_sessionize")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1, s"ev_sessionize expected exactly 1 shuffle, got $n:\n${p.take(1500)}")
  }

  test("ev_asof is a union + ordered scan, never a join") {
    val p = plan("ev_asof")
    assert(!p.contains("Join"),
      s"as-of must be the merge shape, not an inequality join:\n${p.take(1500)}")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 2, s"ev_asof expected <=2 shuffles (view pre-agg + window), got $n")
  }

  test("ev_funnel stacks its stage windows on one shuffle") {
    val p = plan("ev_funnel")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1, s"ev_funnel expected exactly 1 shuffle (3 windows + agg " +
      s"share the user_id partitioning), got $n:\n${p.take(1500)}")
    assert(!p.contains("Join"), "funnel must not self-join per stage")
  }

  test("t_pii is pure map-side: zero exchanges") {
    val p = plan("t_pii")
    assert(!p.contains("Exchange"), s"t_pii must not shuffle:\n${p.take(1500)}")
  }

  test("p_sample rank filter is pushed below the shuffle (WindowGroupLimit)") {
    Seq("p_sample", "p_wsample_k").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q per-stratum top-k must prune map-side, not carry whole strata:\n${p.take(1500)}")
    }
  }

  test("t_tfidf never goes quadratic; t_repetition is pure map-side") {
    // t_tfidf's corpus-count crossJoin(broadcast(1-row agg)) is the one
    // sanctioned nested-loop: its build side is a single row by
    // construction, so only CartesianProduct is a regression there.
    assert(!plan("t_tfidf").contains("CartesianProduct"),
      "t_tfidf plan degenerated to a cartesian")
    // top-bigram mass is a sorted-run scan per row: a doc's tokens live
    // in one row, so the whole statistic must compile with ZERO
    // exchanges — the old (doc_id, bigram) explode shuffled a
    // corpus-token-sized stream of near-distinct keys.
    val p = plan("t_repetition")
    assert(!p.contains("Exchange"),
      s"t_repetition must not shuffle:\n${p.take(1500)}")
  }

  test("de-skewed rank gates: no per-row rank windows anywhere") {
    // ev_rfm / t_ppl_bucket bucket by broadcast percentile cut points —
    // a Window in these plans means the global/per-lang ntile total
    // sort is back (one task sorts every purchasing user / the dominant
    // language's whole corpus at 100×).
    Seq("ev_rfm", "t_ppl_bucket").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must bucket by broadcast cut points, not rank windows:\n${p.take(1500)}")
    }
    // t_quality_norm: its percent_rank is computed over the bounded
    // (source, quality) counts AGGREGATE (window sits above a
    // HashAggregate, never orders by doc_id) and joins back via
    // broadcast — the raw corpus never shuffles.
    val p = plan("t_quality_norm")
    assert(p.contains("BroadcastHashJoin"),
      s"t_quality_norm counts side must broadcast:\n${p.take(1500)}")
    assert("windowspecdefinition\\([^)]*doc_id".r.findFirstIn(p).isEmpty,
      s"t_quality_norm window must rank the counts table, not raw docs:\n${p.take(1500)}")
    val winIdx = p.indexOf("Window")
    assert(winIdx > 0 && p.indexOf("HashAggregate", winIdx) > 0,
      s"t_quality_norm window must sit above the counts aggregation:\n${p.take(1500)}")
  }

  test("classifier gates: scoring never shuffles, AUC windows only the counts table") {
    // t_classifier's output stage is a pure projection (training runs
    // driver-side as separate aggregates; the plan the gate RETURNS
    // must carry the weights as literals, no window, and no KEYED
    // exchange — Tables.fanOut may add one round-robin repartition on
    // a narrow scan, which moves no rows to any particular key and is
    // the deliberate small-input parallelism remedy, not a shuffle the
    // scoring computation needs)
    val p = plan("t_classifier")
    val keyedExchanges = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).length
    assert(keyedExchanges == 0 && !p.contains("Window"),
      s"t_classifier scoring must be a keyed-shuffle-free projection:\n${p.take(1500)}")
    // t_classifier_auc: the only window runs above the score-distribution
    // aggregate (bounded ≤10001 rows), never over raw docs
    val pa = plan("t_classifier_auc")
    assert("windowspecdefinition\\([^)]*doc_id".r.findFirstIn(pa).isEmpty,
      s"t_classifier_auc window must rank the score table, not docs:\n${pa.take(1500)}")
    val wIdx = pa.indexOf("Window")
    assert(wIdx > 0 && pa.indexOf("HashAggregate", wIdx) > 0,
      s"t_classifier_auc window must sit above the counts aggregation:\n${pa.take(1500)}")
  }

  test("t_kn_nll tokenizes once; all count branches reuse the tf exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("t_kn_nll")
      assert(!p.contains("CartesianProduct"),
        s"t_kn_nll must not cartesian:\n${p.take(1500)}")
      // the 1-row type-total cross join must be the broadcast variant
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"t_kn_nll type total must broadcast:\n${p.take(1500)}")
      // lambda-free bigrams + explicit isnotnull on BOTH keys keep the
      // four count branches canonically equal: ONE corpus scan, the
      // rest read the tf exchange back
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"t_kn_nll expected 1 documents scan, got $scans")
      assert("ReusedExchange".r.findAllIn(p).length >= 4,
        s"t_kn_nll count branches must reuse the tf exchange:\n${p.take(2000)}")
      // same contract for the MLE variant (prefix-count branch)
      val pb = plan("t_bigram_nll")
      val scansB = "FileScan parquet".r.findAllIn(pb).length
      assert(scansB == 1, s"t_bigram_nll expected 1 documents scan, got $scansB")
      assert(pb.contains("ReusedExchange"),
        s"t_bigram_nll count branches must reuse the tf exchange:\n${pb.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("m_irate prunes to the bucket tail below its single shuffle") {
    // rn <= 2 over (skey, bucket) must become a WindowGroupLimit (only
    // each bucket's last two samples survive the map side), and the
    // follow-on grid aggregation must reuse the window's clustering —
    // one hash exchange total.
    val p = plan("m_irate")
    assert(p.contains("WindowGroupLimit"),
      s"m_irate must prune buckets to their top-2 map-side:\n${p.take(1500)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"m_irate expected exactly 1 shuffle, got $shuffles:\n${p.take(1500)}")
  }

  test("t_topk_lang rank filter is pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("t_topk_lang")
    assert(p.contains("WindowGroupLimit"),
      s"per-language top-k must prune map-side, not shuffle the vocabulary:\n${p.take(1500)}")
  }

  test("ev_outliers and p_mix broadcast their tiny stats side") {
    // The build sides are O(#event_types) / O(#sources) rows — bounded
    // by schema, not corpus, so the explicit hint is safe and saves the
    // corpus-side shuffle a SortMergeJoin would add.
    Seq("ev_outliers", "p_mix").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q stats join must broadcast its bounded stats side:\n${p.take(1500)}")
      val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(n <= 2, s"$q expected <=2 shuffles (stats agg (+tiny window)), got $n")
    }
  }

  test("d_softdedup is one shuffle, no join") {
    val p = plan("d_softdedup")
    assert(!p.contains("Join"),
      s"soft-dedup weight must be a window on the content hash, not a join:\n${p.take(1500)}")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1, s"d_softdedup expected exactly 1 shuffle, got $n")
  }

  test("p_wsample: window keeper-count + tiny-stats broadcast, no corpus join") {
    val p = plan("p_wsample")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(#sources) mix-weight side must broadcast:\n${p.take(1500)}")
    val joins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length
    assert(joins == 0,
      s"p_wsample must not shuffle-join a corpus-sized side, got $joins:\n${p.take(1500)}")
  }

  test("p_budget cumsum is two-phase: per-bucket windows + broadcast offsets") {
    val p = plan("p_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(#sources × 256) bucket-offset side must broadcast:\n${p.take(1500)}")
    assert("windowspecdefinition\\(source#\\d+, bkt#\\d+".r.findFirstIn(p).isDefined,
      "the corpus-side cumsum window must partition by (source, bucket) — " +
        s"a source-only window serializes each stratum:\n${p.take(1500)}")
    val joins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length
    assert(joins == 0,
      s"offsets must broadcast, not shuffle-join the corpus, got $joins")
  }

  test("lsh band joins carry ids only — no vector payload in the candidate shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("e_lsh_pairs", "e_knn_lsh").foreach { q =>
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val bandJoins = opt.collect {
        case j: Join if j.condition.exists(_.references.exists(_.name == "bucket")) => j
      }
      assert(bandJoins.nonEmpty, s"$q should contain a band join on bucket")
      val vecNames = Set("embedding", "va", "vb", "nvec", "qvec", "v")
      bandJoins.foreach { j =>
        val names = j.output.map(_.name).toSet
        assert(names.intersect(vecNames).isEmpty,
          s"$q band join output carries vector payload: $names — " +
            "candidate shuffle volume must be O(candidates), not O(candidates × dim)")
      }
    }
  }

  test("agg_corr's requested-name scope reaches the parquet scan") {
    val p = plan("agg_corr")
    assert(p.replaceAll("\\s", "")
        .matches("(?s).*PushedFilters:\\[[^]]*event_type[^]]*\\].*"),
      s"the metric-set restriction must push to the event_type scan " +
        s"(a post-concat name filter cannot):\n${p.take(2000)}")
  }

  test("t_cms broadcasts its depth×width grid; probe side never shuffles it") {
    val p = plan("t_cms")
    assert(p.contains("BroadcastHashJoin"),
      s"the sketch grid is depth×width rows by construction — broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "t_cms estimate degenerated to all-pairs")
  }

  test("q_top_series plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_top_series")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be per-partition top-k + driver merge:\n${p.take(1500)}")
  }

  test("agg_winsor broadcasts its O(#names) clip bounds") {
    val p = plan("agg_winsor")
    assert(p.contains("BroadcastHashJoin"),
      s"clip-bounds join must broadcast the bounded stats side:\n${p.take(1500)}")
  }

  test("per-series mutations shuffle at most once") {
    Seq("m_rate", "m_delta", "m_mean_grid").foreach { q =>
      val p = plan(q)
      val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(n <= 1, s"$q expected <=1 shuffle exchange, got $n:\n${p.take(1500)}")
    }
  }

  test("perSeries declares its layout: downstream windows add no exchange and no sort") {
    // perSeries output IS hash(skey)-partitioned and (skey, ts)-sorted
    // (the repartition+sortWithinPartitions that feeds it, preserved by
    // the monotone StreamOp emission contract); declaring it via
    // LogicalRDD(outputPartitioning, outputOrdering) lets Rle.encode's
    // windows run directly on the emitter's output. Before r14 the
    // encode re-shuffled and re-sorted the DENSE GRID (4.6B rows at
    // sf100 — two external sorts past the box's scratch); now
    // rle_roundtrip's only exchange is the input repartition inside
    // the perSeries leaf, which the downstream plan sees as an RDD
    // scan. So the audited plan must be Window* over Scan ExistingRDD:
    // zero Exchange, zero Sort.
    val p = plan("rle_roundtrip")
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    val nSort = "\\bSort\\b".r.findAllIn(p).length
    assert(nEx == 0 && nSort == 0,
      s"rle_roundtrip expected 0 exchanges/0 sorts above the perSeries " +
        s"leaf, got $nEx/$nSort:\n${p.take(1500)}")
  }

  test("the generic series key is derived inside a codegen stage, never through a lambda") {
    import graft.api.{Engine, Requests}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, map}
    /** The executed final plan's lines that derive or read the key. */
    def keyLines(df: DataFrame): Seq[String] = {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.split("\n").toSeq
      p.filter(l => l.contains("series_key(") || l.contains(" AS skey#"))
    }
    val store = java.nio.file.Files.createTempDirectory("graft_plan_key").toString + "/s"
    graft.sources.PointSource.write(series(Seq(0L -> 1.0, 60000L -> 3.0),
      name = "/plan/key", labels = Map("host" -> "a", "rack" -> "r")), store)
    val pts = graft.sources.PointSource.read(spark, store)
    // agg_preserve keys its points with Point.withSeriesKey; byLabel
    // reads no key, so column pruning may drop it, but where it stays
    // it obeys the same rule
    val preserve = keyLines(SparkEntry.queries("agg_preserve")(spark, sf))
    assert(preserve.forall(l => !l.contains("lambdafunction") && !l.contains("regexp_replace(")),
      preserve.mkString("\n"))
    val cases = Seq(
      "Engine.get raw" -> Engine.get(pts, Requests.GetRequest("/plan/*{host=a}")),
      "Engine.get rate/mean/by-host" -> Engine.get(pts, Requests.GetRequest("/plan/*",
        mutations = Seq(Requests.Rate(), Requests.Mean(300000L)),
        aggregations = Seq(Requests.AggregationSpec(graft.operators.Aggregations.Average,
          Seq("host"))))),
      "Engine.list" -> Engine.list(pts, Requests.ListRequest("/plan/*"), 60000L))
    cases.foreach { case (what, df) =>
      val lines = keyLines(df)
      assert(lines.exists(_.contains("series_key(")), s"$what derives no generic key:\n${lines.mkString("\n")}")
      lines.filter(_.contains("series_key(")).foreach { l =>
        assert(!l.contains("lambdafunction"), s"$what: $l")
        assert("^[\\s+:|-]*\\*\\(\\d+\\) ".r.findFirstIn(l).nonEmpty,
          s"$what derives the key outside whole-stage codegen: $l")
      }
    }
  }

  test("no query plan pins an InMemoryRelation (library-level .cache() leak)") {
    // A .cache() inside a queries() builder pins partitions for the
    // session's lifetime with no unpersist hook, and quietly flatters
    // min-of-two bench passes. The sanctioned shape is a repartition
    // whose exchange all consumers share (exchange/stage reuse).
    // (d_dup_groups et al. may cache INTERNALLY around their own
    // actions — that is fine as long as they unpersist, which leaves
    // nothing in the returned plan.)
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      assert(!opt.toString.contains("InMemoryRelation"),
        s"$q plan contains an InMemoryRelation — un-unpersisted cache")
    }
  }

  test("agg_xcorr: the hourly grid aggregates once — one raw-events scan") {
    // Only the tiny (names × hours) grid may explode across lags and
    // join; the raw scan must compile once (ReusedExchange) with the
    // name scope pushed to parquet.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("agg_xcorr")
      assert(p.contains("ReusedExchange"),
        s"agg_xcorr grid is scanning raw events twice:\n$p")
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"agg_xcorr expected 1 events scan, got $scans")
      assert(p.contains("PushedFilters: [In(event_type"),
        "agg_xcorr name scope must reach the parquet scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("gor_roundtrip runs in the one-shuffle per-series shape") {
    // (m_lttb shares perSeries' InternalRow RDD bridge, whose shuffle
    // sits below the ExistingRDD scan — not visible to this audit; the
    // bridge shape itself is asserted for the family via m_mean_exact's
    // runtime behavior and the perSeries implementation.)
    val p = plan("gor_roundtrip")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n == 1, s"gor_roundtrip expected exactly 1 shuffle exchange, got $n:\n$p")
  }

  test("q5_local_supplier: dimensions broadcast, dates pushed, no nested loop") {
    val p = plan("q5_local_supplier")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 4, s"q5 expected >=4 broadcast dim joins, got $bhj:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q5 has an all-pairs join:\n${p.take(1500)}")
    // the FileScan metadata string truncates at ~100 chars, so only
    // the first pushed predicate is reliably visible in the plan dump
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "q5 order-date range must reach the orders parquet scan")
  }

  test("d_keep_best: argmax is an aggregate, not a window") {
    val p = plan("d_keep_best")
    assert(!p.contains("Window"),
      s"d_keep_best winner must be a max(struct) aggregate, not a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"d_keep_best has an all-pairs join:\n$p")
  }

  test("t_memorization: one tokenize pass through a reused spread-key exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("t_memorization")
      assert(p.contains("ReusedExchange"),
        s"t_memorization shingle pass is compiling twice:\n$p")
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"t_memorization expected 1 documents scan, got $scans")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("e_semdedup: one corpus scan, list_id exchange reused by both join sides") {
    // The assignment pass (nearest-centroid map) materializes through
    // ONE repartition(list_id) exchange; the within-cluster self-join
    // reads it twice via reuse, and no cross-cluster all-pairs shape
    // may appear. AQE off for a deterministic static-reuse verdict.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("e_semdedup")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"e_semdedup pairwise work must stay within clusters:\n$p")
      assert(p.contains("ReusedExchange"),
        s"e_semdedup assignment pass is compiling more than once:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shared-subtree dedup paths compute their tokenize pass once (ReusedExchange)") {
    // The expensive text pass (tokenize/shingle/winnow/chunk+md5) must
    // materialize through ONE exchange that the hot-df branch and both
    // self-join sides read back — not once per branch. Asserted with
    // AQE off so the static planner's ReuseExchangeAndSubquery verdict
    // is visible and deterministic; AQE's runtime stage reuse keys on
    // the same canonicalized-subtree equality.
    val reusePaths = Seq("t_winnow_pairs", "d_ngram_jaccard",
      "d_minhash_lsh", "d_simhash_pairs", "d_cdc_pairs", "d_dup_spans",
      // composed detect+cut: BOTH ops off one tokenArrays exchange
      "d_cut_spans",
      // dup-n-gram fraction: df aggregate + join probe read one
      // spread-key exchange; the shingle pass compiles once
      "d_dupgram_frac",
      // boilerplate strip: segment-df branch + rebuild join off one
      // spread-key segment exchange
      "d_boiler_strip",
      // decontam cut: bench-hash, occurrence, and rebuild branches all
      // off one id-keyed tokenArrays exchange (bench/train routing is
      // when-projected, never a Filter)
      "p_decontam_cut")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def check(q: String, p: String): Unit = {
        assert(p.contains("ReusedExchange"),
          s"$q plan has no ReusedExchange — a shared subtree is compiling twice")
        val scans = "FileScan parquet".r.findAllIn(p).length
        assert(scans == 1,
          s"$q expected exactly 1 documents scan (single tokenize pass), got $scans")
      }
      reusePaths.foreach(q => check(q, plan(q)))
      // the hot-guarded ngram branch is not behind any gate query
      // (d_ngram_jaccard uses the default maxDf) — audit it directly
      check("ngramJaccardPairs(maxDf)",
        graft.dedup.Dedup.ngramJaccardPairs(
            spark.read.parquet(s"$sf/documents.parquet"), maxDf = 50L)
          .queryExecution.executedPlan.toString)
      // text-stats siblings: unigram NLL shares one tokenize exchange
      // across the vocab/total/join branches; tf-idf shares one across
      // tf/df (its second scan is the zero-column corpus count, which
      // reads no data)
      check("t_unigram_nll", plan("t_unigram_nll"))
      // embedding LSH: the hyperplane-signature explode (the expensive
      // per-vector pass) compiles once — the hot-bucket count and both
      // self-join sides read one exchange back. e_lsh_pairs: 1 sig
      // Generate; e_knn_lsh: 1 for the corpus + 1 for the (separately
      // filtered) query side.
      val lshP = plan("e_lsh_pairs")
      assert(lshP.contains("ReusedExchange") &&
        "Generate explode".r.findAllIn(lshP).length == 1,
        "e_lsh_pairs expected a single shared signature pass")
      val lshK = plan("e_knn_lsh")
      assert(lshK.contains("ReusedExchange") &&
        "Generate explode".r.findAllIn(lshK).length == 2,
        "e_knn_lsh expected one corpus + one query signature pass")
      // t_cms: the grid rebuilds from the probe side's (tok, cnt)
      // aggregation (cellsFromCounts) — one corpus scan, one tokenize
      val cms = plan("t_cms")
      assert(cms.contains("ReusedExchange") &&
        "FileScan parquet".r.findAllIn(cms).length == 1,
        "t_cms expected a single tokenize pass shared via the vocab exchange")
      val tfidf = plan("t_tfidf")
      assert(tfidf.contains("ReusedExchange"),
        "t_tfidf plan has no ReusedExchange — the tokenize compiles twice")
      assert("FileScan parquet".r.findAllIn(tfidf).length == 2 &&
        tfidf.contains("ReadSchema: struct<>"),
        "t_tfidf expected 1 tokenize scan + 1 zero-column count scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the exact streaming state machines are one repartition + one pass") {
    // resample/interpolate: repartition(skey) -> spillable sort ->
    // InternalRow scan. The mapPartitions pass crosses an RDD boundary,
    // so the SQL plan alone hides the upstream exchange — count shuffle
    // dependencies in the full RDD lineage instead; more than one would
    // mean the state machine stopped riding its own partitioning.
    Seq("m_uniform", "m_interpolate").foreach { q =>
      val lineage = SparkEntry.queries(q)(spark, sf)
        .queryExecution.toRdd.toDebugString
      val n = "ShuffledRowRDD".r.findAllIn(lineage).length
      assert(n == 1, s"$q expected exactly 1 shuffle in the lineage, got $n:\n$lineage")
    }
  }

  test("lsh auto-sizing counts a stored corpus once per session, not per call") {
    // lshPairsAuto/lshTopKAuto size their plane count from count(*).
    // At 100 TB that count is a full scan before any useful work, so
    // repeated *Auto calls on the same stored corpus (the
    // e_dup_groups / e_lsh_pairs / e_knn_lsh triple, streaming lookups
    // per micro-batch) must hit the (plan, files)-keyed session memo —
    // job-count audited like the z-order salt audit.
    import graft.sources.Tables
    import graft.similarity.Ann
    val sc = spark.sparkContext
    def jobsDuring(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, "count-memo audit")
      try body finally sc.clearJobGroup()
      // status store is fed asynchronously: poll until stable
      def n = sc.statusTracker.getJobIdsForGroup(group).length
      var last = -1; var cur = n; var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur; cur = n; spins += 1
      }
      cur
    }
    // fresh reads of the same files: the second corpusCount must
    // launch ZERO jobs. (The DataFrames are built OUTSIDE the measured
    // windows — spark.read.parquet runs its own schema-inference job
    // at creation, which is the read path, not the sizing scan.)
    val dfA = Tables.embeddings(spark, sf)
    val dfB = Tables.embeddings(spark, sf)
    val first = jobsDuring(s"memo-a-${System.nanoTime()}") {
      Ann.corpusCount(dfA)
    }
    val second = jobsDuring(s"memo-b-${System.nanoTime()}") {
      Ann.corpusCount(dfB)
    }
    assert(second == 0,
      s"second corpusCount on the same stored corpus launched $second jobs")
    // a different filter over the same files must NOT share the entry
    val filtered = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    assert(Ann.corpusCount(filtered) == 10)
    assert(Ann.corpusCount(Tables.embeddings(spark, sf)) > 10)
    // and the caller-supplied exact count skips the scan entirely
    val hinted = jobsDuring(s"memo-c-${System.nanoTime()}") {
      Ann.lshAutoPlanes(12345L)
    }
    assert(first >= 0 && hinted == 0)
  }
}
