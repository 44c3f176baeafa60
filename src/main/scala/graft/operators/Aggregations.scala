package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Cross-stream aggregations (reference: StreamAggregation,
 * lib/openinstrument.proto:54-70; math in lib/protobuf.cc:49-142;
 * grouping semantics in server/store.cc:154-252).
 *
 * The scalable path buckets time on a floor-aligned grid
 * (`sample_interval`, default 30 000 ms per lib/openinstrument.proto:68-69)
 * and aggregates with built-ins — one shuffle, map-side partials. The
 * reference's greedy ±interval bucketing (lib/protobuf.cc:49-85) depends
 * on stream arrival order and is provided separately as [[greedyExact]]
 * for API parity.
 *
 * Known reference bug NOT replicated: `_DoMax` initializes max to 0
 * (lib/protobuf.cc:109-116), which is wrong for all-negative buckets.
 */
object Aggregations {

  val DefaultIntervalMs = 30000L

  sealed trait AggType { def fn: Column => Column }

  /** Non-finite propagation for the decimal-exact Average/Sum paths.
    * `cast(double AS decimal)` maps NaN/±Inf to NULL, so a bare decimal
    * sum would silently DROP non-finite inputs (while `count` still
    * counts them) — the opposite of IEEE double aggregation, which
    * poisons the result. These flags restore IEEE semantics
    * deliberately: any NaN (or +Inf together with −Inf) ⇒ NaN; +Inf
    * alone ⇒ +Inf; −Inf alone ⇒ −Inf; otherwise the exact decimal
    * result. All three are map-side-combinable `max` aggregates, so the
    * order-independence guarantee is unchanged. The same cascade is
    * mirrored in the greedy-exact [[BucketAgg]]s below so the SQL and
    * single-pass paths agree bit-for-bit on every input. */
  private def hasNan(c: Column) = max(when(isnan(c), true).otherwise(false))
  private def hasPosInf(c: Column) =
    max(when(c === Double.PositiveInfinity, true).otherwise(false))
  private def hasNegInf(c: Column) =
    max(when(c === Double.NegativeInfinity, true).otherwise(false))
  /** decimal(38,12) holds 26 integer digits: a FINITE value with
    * |v| ≥ 1e26 casts to NULL in non-ANSI mode and would be silently
    * dropped from the sum whenever other values keep it non-NULL (the
    * whole-sum-NULL guard in [[sumOrFail]] can't see a per-value drop).
    * Refuse such values per-row instead — the greedy path throws the
    * same message in [[DecSumAgg.add]], keeping the two paths in
    * bit-for-bit agreement on every input. */
  private[operators] val OverflowMsg =
    "graft.Aggregations: |value| >= 1e26 exceeds decimal(38,12) range — " +
      "exact-sum aggregation refuses rather than silently dropping the value"
  private def finiteDec(c: Column) = {
    val finite = !isnan(c) && abs(c) =!= Double.PositiveInfinity
    when(finite && abs(c) >= 1e26,
        raise_error(lit(OverflowMsg)).cast("decimal(38,12)"))
      .when(finite, c.cast("decimal(38,12)"))
  }
  /** Backstop for the aggregate itself overflowing 38 digits (many
    * values each < 1e26 summing past it): NULL-with-rows ⇒ fail loudly
    * rather than read as "bucket of NULLs". */
  private def sumOrFail(c: Column): Column = {
    val s = sum(finiteDec(c))
    when(s.isNull && count(c) > 0,
      raise_error(lit("graft.Aggregations: decimal(38,12) sum overflow — " +
        "bucket magnitude exceeded 1e26"))).otherwise(s.cast("double"))
  }
  private def withNonFinite(c: Column, finite: Column): Column =
    when(hasNan(c) || (hasPosInf(c) && hasNegInf(c)), Double.NaN)
      .when(hasPosInf(c), Double.PositiveInfinity)
      .when(hasNegInf(c), Double.NegativeInfinity)
      .otherwise(finite)

  /** Mean and sum ride an exact `decimal(38,12)` sum, divided/cast back
    * to double only at the end. A plain double `sum`/`avg` is
    * partial-aggregation-order dependent: with finite-decimal inputs
    * (metric values are typically 1-2dp decimals) the true mean often
    * sits within one ulp of a `round(.,4)` half-way boundary, and the
    * shuffle order then decides the 4th decimal (observed: 1/3600 rows
    * flipped at 10× the bench scale). The decimal sum is exact (every
    * double is a finite decimal), map-side combinable, and
    * order-independent — the same answer on 1 core or 1000 executors.
    * Non-finite inputs propagate IEEE-style (see [[withNonFinite]]). */
  case object Average extends AggType {
    def fn = c => when(count(c) > 0,
      withNonFinite(c, sumOrFail(c) / count(c)))
  }
  case object Sum extends AggType {
    def fn = c => when(count(c) > 0, withNonFinite(c, sumOrFail(c)))
  }
  case object Min extends AggType { def fn = min }
  case object Max extends AggType { def fn = max }
  /** Upper median `bucket[n/2]` (lib/protobuf.cc:135-142), exact.
    * `fn` (array-buffering) is only used on small-bucket paths;
    * [[byName]]/[[byLabel]] route Median through the distributed
    * [[medianSeries]] instead — no per-bucket arrays at any fan-in. */
  case object Median extends AggType {
    def fn = c => element_at(array_sort(collect_list(c)),
      (floor(size(collect_list(c)) / 2) + 1).cast("int"))
  }

  /**
   * Exact distributed upper median per (keyNames..., bucket_ts):
   * value-frequency counts + running count locate the element at
   * 1-indexed position ⌊n/2⌋+1 without materializing any group as an
   * array. State per group is O(#distinct values) spread across the
   * sort, not O(#points) in one reducer — the giant-bucket-safe shape.
   * Output columns: keyNames..., `bucket_ts`, `dval`.
   */
  private def medianSeries(df: DataFrame, keyNames: Seq[String],
                           intervalMs: Long): DataFrame = {
    val keys = keyNames :+ "bucket_ts"
    val bucketed = df
      .withColumn("bucket_ts", col("ts") - pmod(col("ts"), lit(intervalMs)))
    // Null dvals stay IN the value-frequency aggregate (one null group
    // row per bucket) rather than splitting an all-null-bucket branch
    // off the raw input: buckets whose dvals are ALL null must still
    // emit a null-dval row — matching every other aggregator — and the
    // null group row doubles as that emission, so the whole median is
    // one scan and one windowed pass. Null rows sort first (asc nulls
    // first) and contribute 0 to the running count, so the non-null
    // rank arithmetic is untouched.
    val byVal = bucketed
      .groupBy((keys :+ "dval").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val nn = when(col("dval").isNotNull, col("cnt")).otherwise(lit(0L))
    val ordered = Window.partitionBy(keys.map(col): _*).orderBy(col("dval"))
    val whole = Window.partitionBy(keys.map(col): _*)
    byVal
      .withColumn("cum", sum(nn).over(ordered))
      .withColumn("tot", sum(nn).over(whole))
      .withColumn("pos", floor(col("tot") / 2) + 1)
      .filter(
        (col("dval").isNotNull && col("cum") >= col("pos") &&
          col("cum") - col("cnt") < col("pos")) ||
        (col("dval").isNull && col("tot") === 0))
      .select(keys.map(col) :+ col("dval"): _*)
  }

  /**
   * Aggregate all streams sharing a variable name, one output series per
   * name, labels dropped (server/store.cc:173-188). Output columns:
   * `name, ts, dval`.
   */
  def byName(df: DataFrame, agg: AggType,
             intervalMs: Long = DefaultIntervalMs): DataFrame = {
    val series = agg match {
      case Median => medianSeries(df, Seq("name"), intervalMs)
      case _ =>
        df.groupBy(col("name"),
            (col("ts") - pmod(col("ts"), lit(intervalMs))).as("bucket_ts"))
          .agg(agg.fn(col("dval")).as("dval"))
    }
    series.select(col("name"), col("bucket_ts").as("ts"), col("dval"))
  }

  /**
   * Aggregate grouped by one label's distinct values
   * (server/store.cc:190-248). Output: one series per (name, label value);
   * other labels that are constant within the group are preserved, varying
   * ones dropped (server/store.cc:204-226).
   *
   * Constant-label preservation is one more aggregation per (name,
   * groupLabel) group: the set of its distinct label-entry arrays,
   * reduced by [[constantLabels]].
   */
  def byLabel(df: DataFrame, label: String, agg: AggType,
              intervalMs: Long = DefaultIntervalMs,
              preserveConstantLabels: Boolean = true): DataFrame = {
    val grouped = df
      .filter(map_contains_key(col("labels"), lit(label)))
      .withColumn("gval", element_at(col("labels"), label))
    val series = agg match {
      case Median => medianSeries(grouped, Seq("name", "gval"), intervalMs)
      case _ => grouped
        .groupBy(col("name"), col("gval"),
          (col("ts") - pmod(col("ts"), lit(intervalMs))).as("bucket_ts"))
        .agg(agg.fn(col("dval")).as("dval"))
    }

    if (!preserveConstantLabels) {
      series.select(col("name"),
        map(lit(label), col("gval")).as("labels"),
        col("bucket_ts").as("ts"), col("dval"))
    } else {
      // labels constant across every stream of the (name, gval) group
      val constLabels = grouped
        .groupBy(col("name"), col("gval"))
        .agg(constantLabels(collect_set(map_entries(col("labels"))), label).as("extra"))
      // un-hinted: constLabels is one row per OUTPUT (name, gval)
      // group — series-cardinality, not schema-bounded. At fleet label
      // cardinality (millions of series) a forced broadcast would be a
      // driver/executor hazard; AQE broadcasts it at runtime when it
      // is actually small.
      series.join(constLabels, Seq("name", "gval"), "left")
        .select(col("name"),
          map_concat(
            coalesce(col("extra"), map()),
            map(lit(label), col("gval"))).as("labels"),
          col("bucket_ts").as("ts"), col("dval"))
    }
  }

  /**
   * The constant-label rule of batch [[byLabel]] and of the streaming
   * [[graft.streaming.StreamIngest.windowedAggByLabel]]: from a group's
   * collected label-entry arrays (`collect_set(map_entries(labels))`),
   * the map of entries whose key has exactly one distinct value in the
   * group (null counts as a value; absence from some streams does not
   * count), the grouping `label` left out. Closed form, linear in the
   * group's distinct entries: sorted, an entry is constant when neither
   * sorted neighbour has its key.
   */
  def constantLabels(entrySets: Column, label: String): Column = {
    val entries = sort_array(array_distinct(flatten(entrySets)))
    val keys = entries.getField("key")
    val none = array(lit(null).cast("string"))
    // field "0" is entry i, "1" the key before it, "2" the key after
    // it (null past either end; the padding row's entry is null)
    val beside = arrays_zip(entries, concat(none, keys),
      slice(concat(keys, none), lit(2), size(keys)))
    map_from_entries(filter(beside, z => {
      val key = z.getField("0").getField("key")
      key =!= lit(label) && !(z.getField("1") <=> key) && !(z.getField("2") <=> key)
    }).getField("0"))
  }

  /** Incremental per-bucket aggregate state for [[greedyExact]]. */
  private sealed trait BucketAgg extends Serializable {
    def add(v: Double): Unit; def result: Double
  }
  /** Exact decimal accumulation mirroring [[Average]]/[[Sum]]: each
    * addend is rounded to 12dp (the `decimal(38,12)` cast), summed
    * exactly, and converted back to double once — so a bucket's value
    * is independent of feed order and bit-matches a SQL
    * `cast(sum(cast(v as decimal(38,12))) as double)` replay. */
  private def dec12(v: Double): java.math.BigDecimal =
    new java.math.BigDecimal(v).setScale(12, java.math.RoundingMode.HALF_UP)
  /** Non-finite tracking mirroring [[withNonFinite]] exactly, so the
    * greedy single-pass path and the SQL path agree on every input:
    * `new BigDecimal(NaN)` would otherwise throw NumberFormatException
    * mid-job — a crash on the same data the SQL path handles. */
  private sealed trait DecSumAgg extends BucketAgg {
    protected var s = java.math.BigDecimal.ZERO
    protected var n = 0L
    private var nan, posInf, negInf = false
    final def add(v: Double): Unit = {
      n += 1
      if (v.isNaN) nan = true
      else if (v == Double.PositiveInfinity) posInf = true
      else if (v == Double.NegativeInfinity) negInf = true
      else if (math.abs(v) >= 1e26)
        throw new IllegalArgumentException(OverflowMsg) // mirrors finiteDec
      else s = s.add(dec12(v))
    }
    protected def finiteResult: Double
    final def result: Double =
      if (nan || (posInf && negInf)) Double.NaN
      else if (posInf) Double.PositiveInfinity
      else if (negInf) Double.NegativeInfinity
      else finiteResult
  }
  private final class AvgAgg extends DecSumAgg {
    protected def finiteResult: Double = s.doubleValue() / n
  }
  private final class SumAgg extends DecSumAgg {
    protected def finiteResult: Double = s.doubleValue()
  }
  private final class ExtAgg(isMin: Boolean) extends BucketAgg {
    private var e = 0.0; private var first = true
    def add(v: Double): Unit =
      if (first) { e = v; first = false }
      else if (if (isMin) v < e else v > e) e = v
    def result: Double = e
  }
  private final class MedianAgg extends BucketAgg {
    private val b = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(v: Double): Unit = b += v
    def result: Double = b.sorted.apply(b.size / 2) // upper median, protobuf.cc:135-142
  }

  /**
   * Per-group state for the greedy merge: the anchor cascade.
   *
   * Equivalent single-pass form of the reference's pass-based loop
   * (`ValueStreamCalculation`, lib/protobuf.cc:49-85), derived from two
   * facts about that loop: (a) a bucket at anchor `a` consumes exactly
   * each stream's maximal FRONT run of values within `[a−I, a+I]`
   * (consumption is head-only, one per stream per pass, until no head is
   * in bracket), so bucket content is order-independent; (b) the anchor
   * source is always the first alive stream in series-key order, so the
   * anchor sequence is: greedy interval cover of stream 1's values,
   * then of stream 2's residual (values no earlier anchor consumed),
   * then stream 3's residual, ... — each stream's residual values only
   * surface after every earlier-skey stream has exhausted.
   *
   * Each stream therefore drains against the anchor list with a
   * monotone cursor (a value stuck behind an out-of-bracket anchor can
   * never revisit earlier anchors — front-run semantics), appending new
   * anchors from its residual. State is O(#buckets), not O(#points)
   * (except median, which buffers its bucket as the reference does).
   * The trailing bucket — the last anchor ever created — is dropped,
   * exactly as the reference's `!found` exit does.
   */
  private final class GreedyMerge(intervalMs: Long, mkAgg: () => BucketAgg) {
    private val anchors = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val aggs = scala.collection.mutable.ArrayBuffer.empty[BucketAgg]
    private var cursor = 0
    def newStream(): Unit = cursor = 0
    def feed(ts: Long, v: Double): Unit = {
      while (cursor < anchors.length &&
          (ts < anchors(cursor) - intervalMs || ts > anchors(cursor) + intervalMs))
        cursor += 1
      if (cursor == anchors.length) { anchors += ts; aggs += mkAgg() }
      aggs(cursor).add(v)
    }
    /** All buckets except the chronologically-last anchor's. */
    def finish(): Iterator[(Long, Double)] =
      anchors.iterator.zip(aggs.iterator)
        .take(math.max(0, anchors.length - 1))
        .map { case (ts, a) => (ts, a.result) }
  }

  /**
   * Bit-faithful equivalent of the reference's greedy bucketing
   * (`ValueStreamCalculation`, lib/protobuf.cc:49-85): anchor = first
   * unconsumed timestamp of the first alive stream (series-key order —
   * the reference depends on arrival order; skey order makes it
   * deterministic); each stream's front values within ±interval of the
   * anchor join the bucket; a bucket closes when no stream head is in
   * bracket; the trailing bucket is dropped.
   *
   * One shuffle on the group key, Spark's (spillable) secondary sort on
   * `(gkey, skey, ts)`, then a single streaming pass per partition via
   * [[GreedyMerge]] — no group materialization; heap is O(#buckets) per
   * group. Equivalence to the pass-based loop is property-tested against
   * a direct transcription of it (AggregationsSpec).
   */
  def greedyExact(df: DataFrame, intervalMs: Long, aggName: String,
                  label: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val keyed = label match {
      case Some(l) =>
        df.filter(map_contains_key(col("labels"), lit(l)))
          .withColumn("gkey", concat(col("name"), lit(" "),
            element_at(col("labels"), l)))
      case None => df.withColumn("gkey", col("name"))
    }
    val mkAgg: () => BucketAgg = aggName match {
      case "avg"    => () => new AvgAgg
      case "sum"    => () => new SumAgg
      case "min"    => () => new ExtAgg(isMin = true)
      case "max"    => () => new ExtAgg(isMin = false)
      case "median" => () => new MedianAgg
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = keyed
      .select(col("gkey"), col("skey"), col("ts"), col("dval"))
      .filter(col("dval").isNotNull) // string-valued points skipped
      .repartition(parts, col("gkey"))
      .sortWithinPartitions(col("gkey"), col("skey"), col("ts"))
    val outSchema = StructType(Seq(
      StructField("gkey", StringType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("dval", DoubleType, nullable = false)))
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private var curG: org.apache.spark.unsafe.types.UTF8String = null
        private var curS: org.apache.spark.unsafe.types.UTF8String = null
        private var merge: GreedyMerge = null
        private var out: Iterator[InternalRow] = Iterator.empty
        private def finishGroup(): Unit = if (merge != null) {
          val g = curG
          out = merge.finish().map { case (ts, v) =>
            new GenericInternalRow(Array[Any](g, ts, v)): InternalRow }
          merge = null
        }
        private def advance(): Unit = {
          while (!out.hasNext && (it.hasNext || merge != null)) {
            if (it.hasNext) {
              val r = it.next() // unsafe row buffer is reused: copy keys
              val g = r.getUTF8String(0)
              val s = r.getUTF8String(1)
              if (merge == null || !g.equals(curG)) {
                finishGroup()
                merge = new GreedyMerge(intervalMs, mkAgg)
                curG = g.clone(); curS = s.clone()
              } else if (!s.equals(curS)) {
                merge.newStream(); curS = s.clone()
              }
              merge.feed(r.getLong(2), r.getDouble(3))
            } else finishGroup() // input exhausted: flush the last group
          }
        }
        override def hasNext: Boolean = { advance(); out.hasNext }
        override def next(): InternalRow = { advance(); out.next() }
      }
    }
    // groups are emitted contiguously in gkey order within each
    // hash(gkey) partition (input secondary-sorted, one group flushed
    // before the next opens), so declare that much — anchor rows
    // WITHIN a group are in cascade-creation order, not ts order, so
    // no ts ordering is claimed
    GraftBridge.internalCreateDataFrameClustered(spark, rdd, outSchema,
      clusterCols = Seq("gkey"), sortCols = Seq("gkey"))
  }
}
