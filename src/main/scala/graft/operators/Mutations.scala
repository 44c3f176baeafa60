package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Per-stream mutations (reference: StreamMutation,
 * lib/openinstrument.proto:24-52).
 *
 * Two tiers:
 *
 *  - '''Grid fast path''' (`meanGrid`, `minGrid`, ...): floor-aligned
 *    tumbling buckets expressed with built-in functions only — whole-stage
 *    codegen, map-side partial aggregation, one shuffle on
 *    `(skey, bucket)`. This is the 100 TB path and the oracle-checked one.
 *
 *  - '''Exact path''' (`meanExact`, `interpolate`, `resampleUniform`, ...):
 *    bit-exact ports of the reference's nonstandard bucket anchoring
 *    (buckets anchored at the first input timestamp, emission at input
 *    timestamps — go/.../mutations/mutations.go; lib/counter.cc:18-64),
 *    implemented as single-pass streaming state machines over
 *    `repartition(skey) + sortWithinPartitions(skey, ts) + mapPartitions`.
 *    O(1) memory per series regardless of series length, so it scales to
 *    arbitrarily long series (no per-group materialization).
 *
 * All operate on the canonical point schema plus a precomputed `skey`
 * series-key column (see [[graft.model.Point.withSeriesKey]]).
 */
object Mutations {

  // ---------------------------------------------------------------- windows

  private def seriesWindow = Window.partitionBy("skey").orderBy("ts")

  /**
   * First derivative between consecutive points of a series; negative
   * results dropped (counter-reset protection). Reference:
   * go/.../mutations/mutations.go:76-85, server/store.cc:301-318.
   *
   * @param perSecond C++/display convention divides by seconds
   *                  (server/store.cc:308, go/src/get.go:226-228); the Go
   *                  server divides by ms (mutations.go:65).
   */
  def rate(df: DataFrame, perSecond: Boolean = true): DataFrame =
    rateSigned(df, perSecond).filter(col("dval") >= 0)

  /** Same as [[rate]] but negatives kept (mutations.go:51-74). */
  def rateSigned(df: DataFrame, perSecond: Boolean = true): DataFrame = {
    val dt0 = col("ts") - lag("ts", 1).over(seriesWindow)
    val dt = if (perSecond) dt0 / 1000.0 else dt0.cast("double")
    df.withColumn("dval",
        (col("dval") - lag("dval", 1).over(seriesWindow)) / dt)
      .filter(col("dval").isNotNull)
  }

  /**
   * Difference between consecutive points, negatives dropped
   * (C++-only; server/store.cc:319-333).
   */
  def delta(df: DataFrame): DataFrame =
    df.withColumn("dval", col("dval") - lag("dval", 1).over(seriesWindow))
      .filter(col("dval").isNotNull && col("dval") >= 0)

  // ------------------------------------------------------- grid fast path

  /** Floor-aligned bucket id; emission timestamp = last input ts in bucket. */
  private def bucketed(df: DataFrame, durationMs: Long, aggs: Column*): DataFrame =
    df.groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(durationMs))).as("bucket_ts"))
      .agg(max("ts").as("out_ts"), aggs: _*)
      .select(col("skey"), col("out_ts").as("ts"), col("dval"), col("bucket_ts"))

  def meanGrid(df: DataFrame, durationMs: Long): DataFrame =
    bucketed(df, durationMs, avg("dval").as("dval"))

  def minGrid(df: DataFrame, durationMs: Long): DataFrame =
    bucketed(df, durationMs, min("dval").as("dval"))

  def maxGrid(df: DataFrame, durationMs: Long): DataFrame =
    bucketed(df, durationMs, max("dval").as("dval"))

  /** LATEST downsample (lib/openinstrument.proto:40-41): last value per bucket. */
  def latestGrid(df: DataFrame, durationMs: Long): DataFrame =
    bucketed(df, durationMs, max_by(col("dval"), col("ts")).as("dval"))

  /** Population stddev per bucket (vestigial reference op, mutations.go:193-216). */
  def stddevGrid(df: DataFrame, durationMs: Long): DataFrame =
    bucketed(df, durationMs, coalesce(stddev_pop("dval"), lit(0.0)).as("dval"))

  /**
   * Sliding-window aggregation on the hop grid (the PromQL range-query
   * shape, `avg_over_time(m[6h])` evaluated every hour) — beyond the
   * reference, whose grids are tumbling only. One output row per
   * (series, OBSERVED hop bucket — a bucket emits iff it has points of
   * its own); the row at bucket start `b` aggregates points with
   * `b − width + hop ≤ ts < b + hop` — the width-long window ENDING
   * where bucket `b` ends. (The streaming twin
   * [[graft.streaming.StreamIngest.windowedSlidingMeanByName]] emits
   * every covering window instead — the PromQL-complete grid; on
   * data dense at hop granularity the two emission sets coincide.)
   *
   * Two-level plan, the only shape that survives wide windows at
   * scale: points partial-aggregate into hop buckets first (map-side
   * combine; shuffled volume = observed buckets, not points), then a
   * per-series RANGE-frame window rolls `width/hop` bucket partials
   * into each emission. Raw points are never window-scanned, so a
   * 24×-overlap window costs 24 bucket-partial additions per output
   * row — not 24 passes over the data. Sparse series stay correct:
   * the RANGE frame bounds on the bucket VALUE, so missing buckets
   * simply contribute nothing.
   *
   * `widthMs` must be a multiple of `hopMs` (windows align to whole
   * buckets — the standard hopping-window restriction). MEDIAN is
   * refused: exact medians cannot partial-aggregate into buckets.
   */
  def slidingGrid(df: DataFrame, widthMs: Long, hopMs: Long,
                  agg: Aggregations.AggType): DataFrame = {
    require(widthMs > 0 && hopMs > 0 && widthMs % hopMs == 0,
      s"width $widthMs must be a positive multiple of hop $hopMs")
    require(agg != Aggregations.Median,
      "exact median cannot partial-aggregate into hop buckets — " +
        "use meanGrid-style tumbling buckets or the batch median")
    val partials = df
      .groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(hopMs))).as("b"))
      .agg(sum("dval").as("__s"), count(lit(1)).as("__c"),
        min("dval").as("__mn"), max("dval").as("__mx"))
    val w = Window.partitionBy("skey").orderBy("b")
      .rangeBetween(-(widthMs - hopMs), 0)
    val dval = agg match {
      case Aggregations.Average => sum("__s").over(w) / sum("__c").over(w)
      case Aggregations.Sum     => sum("__s").over(w)
      case Aggregations.Min     => min("__mn").over(w)
      case Aggregations.Max     => max("__mx").over(w)
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
    partials
      .select(col("skey"), col("b").as("ts"), dval.as("dval"),
        sum("__c").over(w).as("n"))
  }

  // ------------------------------------------------- exact streaming path

  /**
   * A single-pass per-series state machine: `feed` consumes points in
   * timestamp order, `flush` is called at end of series. Implementations
   * must be cheap to allocate (one instance per series per task).
   *
   * EMISSION-ORDER CONTRACT: within a series, emitted timestamps must
   * be non-strictly ascending across the whole feed+flush sequence.
   * Every op here satisfies it by construction (grid emitters emit
   * monotone grid slots; per-point ops emit at the input ts; bucket
   * ops emit a closed bucket before opening the next), and
   * [[perSeries]] RELIES on it: the output DataFrame declares
   * sorted-by-(skey, ts) within hash(skey) partitions, which is what
   * lets a downstream window/groupBy on the series key run with zero
   * extra exchange or sort. A non-monotone op would silently corrupt
   * those downstream results — so the contract is ENFORCED, not just
   * documented: [[EmissionOrderGuard]] checks every emitted row inside
   * [[perSeries]]/[[perSeriesRuns]] and fails the task on the first
   * out-of-order emission (PropertySpec additionally asserts the
   * declared order empirically for every shipped op, and proves the
   * guard trips on a deliberately-broken op).
   */
  trait StreamOp extends Serializable {
    def feed(ts: Long, v: Double): Seq[(Long, Double)]
    def flush(): Seq[(Long, Double)]
  }

  /**
   * A [[StreamOp]] that a stream resumes across micro-batches: its whole
   * state is one record `S`, so the streaming step
   * ([[graft.streaming.StreamIngest.resumeStep]]) runs the LITERAL batch
   * state machine and the two paths agree by construction. `lastFed` is
   * the timestamp of the last point fed (`Long.MinValue` before the
   * first); the step drops points strictly behind it, which keeps the
   * op's input sorted. A record's field names, types and order are the
   * state schema of existing checkpoints: keep them.
   */
  trait ResumableOp[S] extends StreamOp {
    def snapshot: S
    def restore(s: S): this.type
    def lastFed: Long
  }

  /** Shared secondary-sort input shape for the exact streaming ops:
    * one shuffle on `skey`, sort within partitions. String-valued
    * points (null dval) are skipped, as in the reference
    * (mutations.go:56-57). */
  private def sortedPoints(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col("skey"), col("ts"), col("dval"))
      .filter(col("dval").isNotNull)
      .repartition(parts, col("skey"))
      .sortWithinPartitions(col("skey"), col("ts"))
  }

  /**
   * Always-on enforcement of the [[StreamOp]] EMISSION-ORDER CONTRACT:
   * every row emitted by [[perSeries]]/[[perSeriesRuns]] passes through
   * `check` before leaving the task, and any (skey, ts) that sorts
   * BEFORE the previously-emitted row raises immediately. The declared
   * output layout ([[org.apache.spark.sql.GraftBridge
   * .internalCreateDataFrameClustered]]) is trusted by Catalyst without
   * verification, so a contract-breaking op would otherwise silently
   * corrupt every downstream window/groupBy — this turns that failure
   * mode into a loud task failure naming the op and the offending rows.
   *
   * Cost: rows of one series all share the SAME cloned UTF8String key
   * object, so the hot path is one reference compare + one long compare
   * per emitted row; the byte-level `compareTo` runs only on series
   * change (once per series). Bench-verified noise (see SCALING_r15).
   */
  private final class EmissionOrderGuard(opName: String) {
    private var lastKey: org.apache.spark.unsafe.types.UTF8String = null
    private var lastTs = 0L
    def check(key: org.apache.spark.unsafe.types.UTF8String, ts: Long): Unit = {
      if (key eq lastKey) {
        if (ts < lastTs) fail(key, ts)
      } else if (lastKey != null && {
        val c = key.compareTo(lastKey)
        c < 0 || (c == 0 && ts < lastTs)
      }) fail(key, ts)
      lastKey = key; lastTs = ts
    }
    private def fail(key: org.apache.spark.unsafe.types.UTF8String, ts: Long): Nothing =
      throw new IllegalStateException(
        s"StreamOp emission-order contract violated by $opName: emitted " +
          s"($key, $ts) after ($lastKey, $lastTs). perSeries output declares " +
          "(skey, ts)-sorted hash(skey) partitions (GraftBridge CONTRACT); " +
          "a non-monotone emitter would silently corrupt downstream windows.")
  }

  /**
   * Runs a [[StreamOp]] over every series of `df` (columns `skey`, `ts`,
   * `dval`). Secondary-sort pattern: one shuffle on `skey`, sort within
   * partitions, then a streaming pass that resets the state machine on
   * series change — never materializes a series in memory. Emission
   * order is enforced by [[EmissionOrderGuard]] (a violating op fails
   * the task rather than corrupting the declared layout).
   */
  def perSeries(df: DataFrame)(mk: () => StreamOp): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val sorted = sortedPoints(df)
    val outSchema = StructType(Seq(
      StructField("skey", StringType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("dval", DoubleType, nullable = false)))
    // InternalRow level: the skey UTF8String is compared/emitted
    // without a JVM-String round-trip — at millions of output rows
    // the encoder conversions dominated this operator
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private val guard = new EmissionOrderGuard(mk().getClass.getSimpleName)
        private var curKey: org.apache.spark.unsafe.types.UTF8String = null
        private var op: StreamOp = null
        private var pending: Iterator[(Long, Double)] = Iterator.empty
        private def row(ts: Long, v: Double): InternalRow = {
          guard.check(curKey, ts)
          new GenericInternalRow(Array[Any](curKey, ts, v))
        }
        private var flushedKey: org.apache.spark.unsafe.types.UTF8String = null
        private var flushed: Iterator[(Long, Double)] = Iterator.empty
        private def advance(): Unit = {
          while (!pending.hasNext && !flushed.hasNext &&
              (it.hasNext || op != null)) {
            if (it.hasNext) {
              val r = it.next() // unsafe row buffer is reused: copy key
              val k = r.getUTF8String(0)
              val ts = r.getLong(1)
              val v = r.getDouble(2)
              if (curKey == null || !k.equals(curKey)) {
                if (op != null) { flushedKey = curKey; flushed = op.flush().iterator }
                op = mk()
                curKey = k.clone()
                pending = op.feed(ts, v).iterator
              } else {
                pending = op.feed(ts, v).iterator
              }
            } else { // input exhausted: flush the last series once
              flushedKey = curKey
              flushed = op.flush().iterator
              op = null
            }
          }
        }
        override def hasNext: Boolean = {
          advance(); pending.hasNext || flushed.hasNext
        }
        override def next(): InternalRow = {
          advance()
          if (flushed.hasNext) {
            val (ts, v) = flushed.next()
            guard.check(flushedKey, ts)
            new GenericInternalRow(Array[Any](flushedKey, ts, v))
          } else {
            val (ts, v) = pending.next()
            row(ts, v)
          }
        }
      }
    }
    GraftBridge.internalCreateDataFrameClustered(spark, rdd, outSchema,
      clusterCols = Seq("skey"), sortCols = Seq("skey", "ts"))
  }

  /** Streaming run-collapse over a grid emitter's output: consecutive
    * grid emissions (spaced exactly `gridMs`) carrying an equal value
    * merge into one run. Value equality follows SQL semantics on
    * non-null doubles (NaN = NaN, −0.0 = 0.0) so the engine and a SQL
    * replay collapse identically. */
  private final class RunCollapser(gridMs: Long) {
    private var active = false
    private var start = 0L; private var last = 0L; private var v = 0.0
    private def sameVal(a: Double, b: Double) =
      a == b || (a.isNaN && b.isNaN)
    /** Returns the COMPLETED run `(startTs, lastTs, value)` this
      * emission closed, if any. */
    def feed(ts: Long, x: Double): Option[(Long, Long, Double)] =
      if (active && ts == last + gridMs && sameVal(x, v)) {
        last = ts; None
      } else {
        val out = if (active) Some((start, last, v)) else None
        start = ts; last = ts; v = x; active = true
        out
      }
    def flush(): Option[(Long, Long, Double)] = {
      val out = if (active) Some((start, last, v)) else None
      active = false
      out
    }
  }

  /**
   * [[perSeries]] with a run-length-encoded OUTPUT CONTRACT: the dense
   * grid rows never materialize. Each run of consecutive equal-valued
   * grid emissions becomes one row `(skey, ts, end_ts, dval)` with
   * `end_ts` = the run's last grid timestamp (null for single-point
   * runs — [[Rle.encode]]'s unset-`end_timestamp` convention,
   * go/.../openinstrument.go:83-105, lib/openinstrument.proto:77-80).
   *
   * Invariant (PropertySpec): `Rle.expand(perSeriesRuns(df, g)(mk), g)`
   * row-equals the dense `perSeries(df)(mk)`. Runs never span grid
   * holes (a `max_gap_interpolate` re-anchor breaks the run even if the
   * value repeats), so the invariant holds for gapped grids too —
   * where [[Rle.encode]] over the dense output would merge across the
   * hole and expand would then invent rows inside it.
   *
   * This is the 100 TB output path for the dense-grid emitters: their
   * cost at scale is output volume (grid points × series — SCALING_r13's
   * top ratios), and a run row costs the same regardless of how many
   * grid points it covers, so flat segments decouple the operator from
   * grid density entirely.
   */
  def perSeriesRuns(df: DataFrame, gridMs: Long)(mk: () => StreamOp): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val sorted = sortedPoints(df)
    val outSchema = StructType(Seq(
      StructField("skey", StringType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("end_ts", LongType, nullable = true),
      StructField("dval", DoubleType, nullable = false)))
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private val guard = new EmissionOrderGuard(mk().getClass.getSimpleName)
        private var curKey: org.apache.spark.unsafe.types.UTF8String = null
        private var op: StreamOp = null
        private var coll: RunCollapser = null
        private val outBuf = scala.collection.mutable.Queue.empty[InternalRow]
        private def runRow(key: org.apache.spark.unsafe.types.UTF8String,
                           r: (Long, Long, Double)): InternalRow = {
          guard.check(key, r._1)
          new GenericInternalRow(Array[Any](key, r._1,
            if (r._2 > r._1) java.lang.Long.valueOf(r._2) else null, r._3))
        }
        private def endSeries(): Unit = if (op != null) {
          val key = curKey
          op.flush().foreach { case (ts, v) =>
            coll.feed(ts, v).foreach(r => outBuf += runRow(key, r)) }
          coll.flush().foreach(r => outBuf += runRow(key, r))
          op = null; coll = null
        }
        private def advance(): Unit = {
          while (outBuf.isEmpty && (it.hasNext || op != null)) {
            if (it.hasNext) {
              val r = it.next() // unsafe row buffer is reused: copy key
              val k = r.getUTF8String(0)
              val ts = r.getLong(1)
              val v = r.getDouble(2)
              if (curKey == null || !k.equals(curKey)) {
                endSeries()
                op = mk(); coll = new RunCollapser(gridMs)
                curKey = k.clone()
              }
              val key = curKey
              op.feed(ts, v).foreach { case (t2, v2) =>
                coll.feed(t2, v2).foreach(rr => outBuf += runRow(key, rr)) }
            } else endSeries() // input exhausted: flush the last series
          }
        }
        override def hasNext: Boolean = { advance(); outBuf.nonEmpty }
        override def next(): InternalRow = { advance(); outBuf.dequeue() }
      }
    }
    GraftBridge.internalCreateDataFrameClustered(spark, rdd, outSchema,
      clusterCols = Seq("skey"), sortCols = Seq("skey", "ts"))
  }

  // --------------------------------------------------------- exact ops

  /**
   * Go `Mean` (mutations.go:10-49): bucket anchored at its first input
   * timestamp, closed when a point arrives more than `duration` past the
   * anchor; mean emitted at the bucket's last input timestamp.
   */
  final class MeanOp(duration: Long) extends StreamOp {
    private var sum = 0.0; private var count = 0L
    private var firstTs = 0L; private var lastTs = 0L; private var first = true
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      var out: List[(Long, Double)] = Nil
      if (first) { firstTs = ts; first = false }
      if (ts - firstTs > duration && count > 0) {
        out = List((lastTs, sum / count))
        firstTs = ts; sum = 0.0; count = 0
      }
      sum += v; count += 1; lastTs = ts
      out
    }
    def flush(): Seq[(Long, Double)] =
      if (count > 0) List((lastTs, sum / count)) else Nil
  }

  /**
   * Go `Min`/`Max` (mutations.go:139-191): emits the previous window's
   * extremum at the timestamp of the point that opens the next window;
   * the trailing partial window is discarded (reference behavior).
   */
  final class ExtremumOp(duration: Long, isMin: Boolean) extends StreamOp {
    private var ext = 0.0; private var anchor = 0L; private var first = true
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      if (first) { anchor = ts; ext = v; first = false; return Nil }
      var out: List[(Long, Double)] = Nil
      if (ts >= anchor + duration) {
        out = List((ts, ext)); anchor = ts; ext = v
      } else if (if (isMin) v < ext else v > ext) ext = v
      out
    }
    def flush(): Seq[(Long, Double)] = Nil
  }

  /**
   * Go `Interpolate` (mutations.go:87-137): snaps a series onto a uniform
   * `duration`-ms grid. The first point is floor-aligned; interpolation
   * brackets are (anchor point, first point at-or-past the next grid
   * timestamp) — intermediate points are skipped, exactly as the
   * reference does. Divergence from the reference (documented): a later
   * point landing exactly on the grid is emitted once, not twice, and
   * does not skip the following grid slot (mutations.go:124-129 quirk).
   *
   * @param maxGapMs optional `max_gap_interpolate` bound
   *                 (lib/openinstrument.proto:45-51): when > 0, gaps wider
   *                 than this are not filled; the series re-anchors.
   */
  final class InterpolateOp(duration: Long, maxGapMs: Long = 0L) extends StreamOp {
    private var prevTs = 0L; private var prevVal = 0.0
    private var nextGrid = 0L; private var havePrev = false
    private def anchor(ts: Long, v: Double): Seq[(Long, Double)] = {
      havePrev = true
      if (ts % duration == 0) {
        prevTs = ts; prevVal = v; nextGrid = ts + duration
        List((ts, v))
      } else {
        prevTs = ts / duration * duration; prevVal = v; nextGrid = prevTs + duration
        Nil
      }
    }
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      if (!havePrev) return anchor(ts, v)
      if (ts < nextGrid) return Nil // reference skips points below the grid
      if (maxGapMs > 0 && ts - prevTs > maxGapMs) return anchor(ts, v)
      val rise = v - prevVal
      val out = List.newBuilder[(Long, Double)]
      while (nextGrid <= ts) {
        val pct = (nextGrid - prevTs).toDouble / (ts - prevTs).toDouble
        out += ((nextGrid, prevVal + rise * pct))
        nextGrid += duration
      }
      if (prevTs < ts) { prevTs = ts; prevVal = v }
      out.result()
    }
    def flush(): Seq[(Long, Double)] = Nil
  }

  /**
   * C++ `UniformTimeSeries` (lib/counter.cc:18-64): incremental linear
   * resampler onto a floor-aligned grid; between-sample values projected
   * by the local rate. Golden-tested against lib/counter_test.cc:28-58.
   */
  final class UniformOp(interval: Long) extends ResumableOp[UniformState] {
    private var base = 0L; private var pointsOut = 1L
    private var lastTs = 0L; private var lastVal = 0.0; private var n = 0L
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      n += 1
      if (n == 1) {
        base = ts - ts % interval; lastTs = ts; lastVal = v
        return Nil
      }
      val out = List.newBuilder[(Long, Double)]
      var done = false
      while (!done) {
        var next = base + interval * pointsOut
        if (ts == next) {
          pointsOut += 1; out += ((ts, v)); done = true
        } else if (ts < next) {
          done = true
        } else {
          while (ts > next) {
            val nv = (v - lastVal) / (ts - lastTs) * (next - lastTs) + lastVal
            out += ((next, nv))
            pointsOut += 1
            next = base + interval * pointsOut
          }
        }
      }
      lastTs = ts; lastVal = v
      out.result()
    }
    def flush(): Seq[(Long, Double)] = Nil
    def snapshot: UniformState = UniformState(base, pointsOut, lastTs, lastVal, n)
    def restore(s: UniformState): this.type = {
      base = s.base; pointsOut = s.pointsOut
      lastTs = s.lastTs; lastVal = s.lastVal; n = s.n
      this
    }
    def lastFed: Long = if (n == 0) Long.MinValue else lastTs
  }

  /** [[UniformOp]]'s state — the same state the reference's
    * UniformTimeSeries keeps between samples (lib/counter.cc:18-64 is
    * already written as streaming state). */
  final case class UniformState(
      base: Long, pointsOut: Long, lastTs: Long, lastVal: Double, n: Long)

  /**
   * Per-series counter rate as a state machine: [[rateSigned]]'s
   * `(v − v_prev) / Δt` (per second by convention) between consecutive
   * points, negatives dropped unless `signed` (counter-reset protection,
   * as in [[rate]]). A point at or behind the last one has no defined
   * rate (Δt ≤ 0 gives ±Infinity) and is dropped without moving the
   * state. Serves the stream; the batch [[rate]] keeps its lag window.
   */
  final class RateOp(perSecond: Boolean, signed: Boolean) extends ResumableOp[RateState] {
    private var last = RateState(Long.MinValue, 0.0) // nothing fed yet
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      if (ts <= last.ts) return Nil
      val prev = last
      last = RateState(ts, v)
      if (prev.ts == Long.MinValue) return Nil
      val dt0 = ts - prev.ts
      val r = (v - prev.dval) / (if (perSecond) dt0 / 1000.0 else dt0.toDouble)
      if (signed || r >= 0) List((ts, r)) else Nil
    }
    def flush(): Seq[(Long, Double)] = Nil
    def snapshot: RateState = last
    def restore(s: RateState): this.type = { last = s; this }
    def lastFed: Long = last.ts
  }

  /** Last point of a series — all the state a rate needs. */
  final case class RateState(ts: Long, dval: Double)

  /**
   * Irregular-interval EWMA smoothing: `v += α·(x − v)` with
   * `α = 1 − exp(−Δt/τ)` — the time-constant form, invariant to
   * sampling rate (α→1 across a long gap, so the smoother re-anchors
   * instead of dragging stale state across it). The first point of a
   * series emits itself. Beyond-reference op; the natural companion to
   * [[rate]] for dashboard smoothing.
   */
  final class EwmaOp(tauMs: Double) extends StreamOp {
    private var v = 0.0; private var prevTs = 0L; private var first = true
    def feed(ts: Long, x: Double): Seq[(Long, Double)] = {
      if (first) { v = x; first = false }
      else v += (1.0 - math.exp(-(ts - prevTs) / tauMs)) * (x - v)
      prevTs = ts
      List((ts, v))
    }
    def flush(): Seq[(Long, Double)] = Nil
  }

  /**
   * Time-bucketed LTTB (Largest-Triangle-Three-Buckets, Steinarsson
   * 2013) downsampling — the standard visualization downsampler
   * (Grafana/M3 lineage; beyond-reference, the natural companion to
   * the retention engine's downsample step). Classic LTTB fixes the
   * OUTPUT count; the streaming variant here fixes the BUCKET WIDTH,
   * which is the form that composes with a time-series store's
   * retention tiers ("keep 1 point per week after 90 days" — but the
   * visually dominant point, not a blind mean).
   *
   * Exact rule, replayable by an external oracle:
   *  - the first point of a series is always emitted (the anchor);
   *  - every later point falls in bucket `floor(ts / bucketMs)`; for
   *    each non-empty bucket EXCEPT the last, the selected point
   *    maximizes the triangle area between the PREVIOUSLY SELECTED
   *    point and the NEXT non-empty bucket's centroid
   *    (mean ts, mean value — values summed in ts order); area ties
   *    break to the earliest ts;
   *  - the LAST non-empty bucket emits the series' last point
   *    (classic LTTB keeps the endpoint).
   *
   * O(two buckets) state per series: a bucket is only finalized once
   * the following bucket is complete (one-bucket lookahead for the
   * centroid), which is exactly the `perSeries` sorted-stream shape.
   */
  final class LttbOp(bucketMs: Long) extends ResumableOp[LttbSnap] {
    require(bucketMs > 0, "bucketMs must be positive")
    private var first = true
    private var px = 0.0; private var py = 0.0 // previously selected point
    private val NoBucket = Long.MinValue
    private var curB = NoBucket
    private var cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    private var nxtB = NoBucket
    private var nxt = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    private def select(cand: Seq[(Long, Double)],
                       ax: Double, ay: Double): (Long, Double) = {
      var best = cand.head
      var bestArea = -1.0
      cand.foreach { case (ts, v) =>
        val area = math.abs((px - ax) * (v - py) - (px - ts) * (ay - py))
        if (area > bestArea) { bestArea = area; best = (ts, v) }
      }
      best
    }
    private def finalizeCur(): (Long, Double) = {
      var sumTs = 0L; var sumV = 0.0
      nxt.foreach { case (ts, v) => sumTs += ts; sumV += v }
      val sel = select(cur.toSeq, sumTs.toDouble / nxt.length, sumV / nxt.length)
      px = sel._1.toDouble; py = sel._2
      sel
    }
    def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
      if (first) {
        first = false; px = ts.toDouble; py = v
        return List((ts, v))
      }
      val b = Math.floorDiv(ts, bucketMs)
      if (curB == NoBucket) { curB = b; cur += ((ts, v)); Nil }
      else if (b == curB) { cur += ((ts, v)); Nil }
      else if (nxtB == NoBucket || b == nxtB) { nxtB = b; nxt += ((ts, v)); Nil }
      else {
        val out = finalizeCur()
        cur = nxt; curB = nxtB
        nxt = scala.collection.mutable.ArrayBuffer((ts, v)); nxtB = b
        List(out)
      }
    }
    def flush(): Seq[(Long, Double)] = {
      if (curB == NoBucket) Nil // anchor-only series
      else if (nxtB == NoBucket) List(cur.last) // single trailing bucket
      else List(finalizeCur(), nxt.last)
    }
    /** The [[ResumableOp]] record: lets [[graft.streaming.StreamIngest
      * .lttbStream]] run this state machine across micro-batches. */
    def snapshot: LttbSnap = LttbSnap(first, px, py,
      curB, cur.map(_._1).toSeq, cur.map(_._2).toSeq,
      nxtB, nxt.map(_._1).toSeq, nxt.map(_._2).toSeq)
    def restore(s: LttbSnap): this.type = {
      first = s.first; px = s.px; py = s.py
      curB = s.curB
      cur = scala.collection.mutable.ArrayBuffer(s.curTs.zip(s.curVs): _*)
      nxtB = s.nxtB
      nxt = scala.collection.mutable.ArrayBuffer(s.nxtTs.zip(s.nxtVs): _*)
      this
    }
    // the buffers hold the latest points; with both empty only the
    // anchor has been fed
    def lastFed: Long =
      if (first) Long.MinValue
      else nxt.lastOption.orElse(cur.lastOption).fold(px.toLong)(_._1)
  }

  /** Per-series LTTB state between micro-batches: the anchor/previous
    * selection plus the two in-flight bucket buffers (bounded by
    * points-per-bucket, the op's documented O(two buckets) state). */
  final case class LttbSnap(first: Boolean, px: Double, py: Double,
      curB: Long, curTs: Seq[Long], curVs: Seq[Double],
      nxtB: Long, nxtTs: Seq[Long], nxtVs: Seq[Double])

  def meanExact(df: DataFrame, durationMs: Long): DataFrame =
    perSeries(df)(() => new MeanOp(durationMs))

  def minExact(df: DataFrame, durationMs: Long): DataFrame =
    perSeries(df)(() => new ExtremumOp(durationMs, isMin = true))

  def maxExact(df: DataFrame, durationMs: Long): DataFrame =
    perSeries(df)(() => new ExtremumOp(durationMs, isMin = false))

  def interpolate(df: DataFrame, durationMs: Long, maxGapMs: Long = 0L): DataFrame =
    perSeries(df)(() => new InterpolateOp(durationMs, maxGapMs))

  def resampleUniform(df: DataFrame, intervalMs: Long): DataFrame =
    perSeries(df)(() => new UniformOp(intervalMs))

  /** [[interpolate]] with the RLE output contract (see
    * [[perSeriesRuns]]): flat segments emit one run row, not one row
    * per grid point. `Rle.expand(..., durationMs)` reconstructs the
    * dense output exactly. */
  def interpolateRle(df: DataFrame, durationMs: Long, maxGapMs: Long = 0L): DataFrame =
    perSeriesRuns(df, durationMs)(() => new InterpolateOp(durationMs, maxGapMs))

  /** [[resampleUniform]] with the RLE output contract. */
  def resampleUniformRle(df: DataFrame, intervalMs: Long): DataFrame =
    perSeriesRuns(df, intervalMs)(() => new UniformOp(intervalMs))

  /**
   * LOCF gap fill with the RLE output contract — the run-emitting twin
   * of the dense hour-grid LOCF render (SparkEntry `m_locf_grid`): each
   * maximal stretch of the grid carrying one value becomes a single
   * `(skey, ts, end_ts, dval)` run. Because LOCF fill repeats the last
   * observed bucket value, consecutive observed buckets with an EQUAL
   * value merge even when grid hours separate them (the filled hours in
   * between carry the same value) — so this output equals
   * `Rle.encode(dense LOCF)` and `Rle.expand(..., durationMs)` of it
   * equals the dense render.
   *
   * One shuffle on `skey`; both windows sort-only on the already-
   * partitioned rows; shuffled volume is OBSERVED buckets, never the
   * filled grid.
   */
  def locfGridRle(df: DataFrame, durationMs: Long): DataFrame = {
    val w = Window.partitionBy("skey").orderBy("bts")
    // string-valued points (null dval) are skipped, as in sortedPoints
    // and the reference (mutations.go:56-57) — without this, max_by
    // could select a null for a bucket the SQL arg_max replay skips
    df.filter(col("dval").isNotNull)
      .groupBy(col("skey"),
        (col("ts") - pmod(col("ts"), lit(durationMs))).as("bts"))
      .agg(max_by(col("dval"), col("ts")).as("v"))
      // non-null-safe === matches the SQL-replay collapse (a null
      // bucket value never extends a run)
      .withColumn("chg", when(lag("v", 1).over(w) === col("v"), 0).otherwise(1))
      .withColumn("t1", max("bts").over(Window.partitionBy("skey")))
      .filter(col("chg") === 1)
      .withColumn("run_end",
        coalesce(lead("bts", 1).over(w) - durationMs, col("t1")))
      .select(col("skey"), col("bts").as("ts"),
        when(col("run_end") > col("bts"), col("run_end")).as("end_ts"),
        col("v").as("dval"))
  }

  def ewma(df: DataFrame, tauMs: Double): DataFrame =
    perSeries(df)(() => new EwmaOp(tauMs))

  def lttb(df: DataFrame, bucketMs: Long): DataFrame =
    perSeries(df)(() => new LttbOp(bucketMs))

  /**
   * Holt double-exponential smoothing (level + trend) for
   * irregularly-sampled series — the trend-aware upgrade of [[EwmaOp]]:
   * where EWMA lags a ramp by construction, Holt's forecast term
   * `l + b·Δt` extrapolates the current slope before blending the new
   * observation in. Time-constant gains (`α = 1 − exp(−Δt/τ_level)`,
   * `γ = 1 − exp(−Δt/τ_trend)`) keep it sampling-rate invariant, and a
   * long gap drives both gains to 1: the smoother re-anchors at the
   * new value instead of extrapolating a stale trend across the gap.
   *
   * Per point: `f = l + b·Δt; l' = f + α·(x − f);
   * b' = b + γ·((l' − l)/Δt − b)`; emits the smoothed level `l'`.
   * First point emits itself (l = x, b = 0). A duplicate timestamp
   * (Δt = 0) leaves the state untouched and re-emits the level — the
   * trend update would divide by zero, and α = 0 means the observation
   * contributes nothing anyway. The float-op ORDER mirrors the m_holt
   * recursive-CTE oracle exactly.
   */
  final class HoltOp(tauLevelMs: Double, tauTrendMs: Double) extends StreamOp {
    private var l = 0.0; private var b = 0.0
    private var prevTs = 0L; private var first = true
    def feed(ts: Long, x: Double): Seq[(Long, Double)] = {
      if (first) { l = x; b = 0.0; first = false }
      else {
        val dt = (ts - prevTs).toDouble
        if (dt > 0) {
          val a = 1.0 - math.exp(-dt / tauLevelMs)
          val g = 1.0 - math.exp(-dt / tauTrendMs)
          val f = l + b * dt
          val lNew = f + a * (x - f)
          b = b + g * ((lNew - l) / dt - b)
          l = lNew
        }
      }
      prevTs = ts
      List((ts, l))
    }
    def flush(): Seq[(Long, Double)] = Nil
  }

  def holt(df: DataFrame, tauLevelMs: Double, tauTrendMs: Double): DataFrame =
    perSeries(df)(() => new HoltOp(tauLevelMs, tauTrendMs))

  /** [[Anomaly.step]] as a state machine: emits each point's z-score
    * (as `dval`) against the EWM mean/variance before it. */
  final class EwmZscoreOp(tauMs: Double) extends ResumableOp[Anomaly.S] {
    private var s = Anomaly.init
    def feed(ts: Long, x: Double): Seq[(Long, Double)] = {
      val (next, z) = Anomaly.step(s, ts, x, tauMs)
      s = next
      z.map(ts -> _).toList
    }
    def flush(): Seq[(Long, Double)] = Nil
    def snapshot: Anomaly.S = s
    def restore(x: Anomaly.S): this.type = { s = x; this }
    def lastFed: Long = if (s.n == 0L) Long.MinValue else s.prevTs
  }

  def ewmZscore(df: DataFrame, tauMs: Double): DataFrame =
    perSeries(df)(() => new EwmZscoreOp(tauMs))
}
