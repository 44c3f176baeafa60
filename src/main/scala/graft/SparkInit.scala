package graft

import org.apache.spark.sql.SparkSession

/**
 * The SparkSession settings every driver main shares — ONE place, so
 * the configuration that Verify verifies is byte-for-byte the one
 * Bench times (they drifted as copy-pasted blocks before; an engine
 * setting added to one main but not another would silently unpin the
 * oracle from the timed plans).
 *
 * Every main builds its session through [[session]]. Each main still
 * owns its master and shuffle-partition count, the per-surface
 * contract rather than shared engine semantics: Bench, Verify and
 * StreamBench run `local[$SPARK_GRAFT_CPUS]` (default 32, 4 and 32;
 * Bench's partitions may differ by $SPARK_GRAFT_SHUFFLE); Explain and
 * Smoke pin `local[4]` with 4; Curate, Cli and StoreHttpServer run
 * `$GRAFT_MASTER` (default `local[4]`) with $SPARK_GRAFT_CPUS
 * (default 4) partitions. Explain alone sets a runtime conf
 * (`spark.sql.adaptive.enabled`) and the ERROR log level on the
 * session it gets.
 *
 * Why each shared setting exists:
 *  - session.timeZone=UTC — the oracle (DuckDB) computes in UTC;
 *    epoch arithmetic must agree.
 *  - legacy.parquet.nanosAsLong — driver testdata generations have
 *    shipped TIMESTAMP(NANOS); reading them as raw longs keeps
 *    Tables.tsToMillis exact (see its scaladoc).
 *  - parquet.inferTimestampNTZ=false — testdata may flag timestamps
 *    isAdjustedToUTC=false; reading them as plain TIMESTAMP under the
 *    UTC session keeps unix_millis & friends resolvable.
 *  - excludedRules=InferFiltersFromGenerate — the rule re-adds
 *    `size(e) > 0 AND isnotnull(e)` below every explode-of-attribute;
 *    predicate pushdown then substitutes the attribute's defining
 *    expression into the scan filter, re-evaluating the expensive
 *    tokenize+md5 shingle chains once per inferred predicate per row
 *    (plan-audited on d_ngram_jaccard). Generate already emits
 *    nothing for null/empty arrays, so excluding the rule never
 *    changes results — it only removes the duplicated evaluation
 *    (a loss at ANY scale when the generator child is a computed
 *    expression).
 *  - ui.enabled=false — headless runs.
 *  - codegen.cache.maxEntries=[[CodegenCacheEntries]] — Spark keeps
 *    compiled generated classes in one JVM-wide cache, sized once
 *    when the first class compiles. Its default of 100 entries is
 *    smaller than graft's working set, so each request kind evicted
 *    the classes the next one needed and every warm request
 *    recompiled (a warm Curate increment compiled 267 classes, a
 *    warm rate-aggregate /get about 50). Distinct classes one
 *    benchmark run compiles with a cache that never evicts
 *    (`perfbench/run.py`, seed 1, 15 s window, these settings):
 *    serve_read 143, curate_incr 219 (157 and 341 with stage ids in
 *    class names, below). The cache evicts per segment, four segments
 *    of 250 entries here, so 1000 gives each segment about 4.5x its
 *    expected share of the larger working set. Retained classes
 *    raised peak old-gen use by about 50-80 MB on those runs; resident
 *    memory (VmHWM) held.
 *  - codegen.useIdInClassName=false — by default a whole-stage class
 *    is named after its codegen stage id, and AQE renumbers stages by
 *    the order in which earlier stages finish, so the same warm
 *    request compiled identical code under a new name and missed the
 *    cache (32 classes per warm curate_incr increment even with a
 *    cache that never evicts; 0-2 without the id). Without the id the
 *    name is fixed. Spark compiles every
 *    generated class into its own class loader, so equal names cannot
 *    clash, and plans and results do not change.
 */
object SparkInit {
  /** Entries of Spark's generated-class cache (see the scaladoc above). */
  val CodegenCacheEntries = 1000

  /** A session with the [[common]] settings on `master` with
    * `shufflePartitions` shuffle partitions, logging at WARN. */
  def session(master: String, shufflePartitions: Int): SparkSession = {
    val spark = common(SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toLong))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def common(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Generated classes compiled in this JVM so far and the total ms
    * spent compiling them. The compile-time histogram keeps every
    * sample up to its reservoir size (1028), so the sum is exact
    * below that and count x mean past it. */
  def codegenStats: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= 1028) snap.getValues.map(_.toDouble).sum
             else h.getCount * snap.getMean
    (h.getCount, ms)
  }
}
