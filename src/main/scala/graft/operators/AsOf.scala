package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of (temporal lookup) join — "for every left row, the latest right
 * row at or before its timestamp" (direction-reversible). The lookup
 * the reference serves one series at a time through GetRequest's
 * latest-value path is here a whole-relation operator: enrich a point
 * stream with the most recent reading of ANOTHER stream, align trades
 * to quotes, attach the last config change to every request.
 *
 * Spark has no native as-of join; the naive encodings both collapse at
 * scale — a range-predicate join plans as BroadcastNestedLoop (per-row
 * scan of the right side), and the "max(rts) ≤ ts then re-join" shape
 * runs two shuffles plus an aggregation whose key is the LEFT row id
 * (corpus-sized). This implementation is the merge-join the problem
 * wants, expressed declaratively:
 *
 *   1. union-tag both sides on the join keys (map-side, no shuffle);
 *   2. ONE window over (keys) ordered by (ts, side) computes a running
 *      "last right payload seen" (`last(..., ignoreNulls)` over an
 *      unbounded-preceding frame — codegen'd, single pass);
 *   3. keep left rows, unpack the carried payload, null out matches
 *      older than `toleranceMs`.
 *
 * Total cost: one shuffle on the join keys — identical to the minimum
 * any co-partitioned merge algorithm pays; no row ever fans out.
 * Skew exposure is per-key point volume, the same exposure as every
 * per-series window operator in the engine.
 *
 * At equal timestamps the right row is visible to left rows of the
 * same instant (`ts_left >= ts_right` semantics, DuckDB/pandas
 * convention). If the right side carries several rows with one
 * (keys, ts), which of them wins is tie-broken by the window's stable
 * sort only — pre-aggregate the right side when that matters.
 *
 * STREAMING: for a stream-static enrichment (live points against a
 * held lookup table), run this per micro-batch via `foreachBatch` with
 * the stream as `left` — the unbounded-preceding window is not
 * append-streamable directly.
 */
object AsOf {

  sealed trait Direction
  /** Match the latest right row with `rts <= ts` (the default). */
  case object Backward extends Direction
  /** Match the earliest right row with `rts >= ts`. */
  case object Forward extends Direction
  /** Match whichever of the backward/forward candidates is closer in
    * time (backward wins exact ties — the pandas `merge_asof`
    * convention). Usually paired with a finite `toleranceMs`. */
  case object Nearest extends Direction

  /**
   * @param left        rows to enrich (all columns preserved)
   * @param right       lookup rows
   * @param keys        equality join keys (present on both sides)
   * @param leftTsCol   left timestamp column (epoch ms)
   * @param rightTsCol  right timestamp column (epoch ms)
   * @param toleranceMs max |ts − rts| for a match to count; matches
   *                    further away yield nulls (left join semantics)
   * @param rightPrefix prefix for the attached right columns: the
   *                    right ts arrives as `<prefix><rightTsCol>`,
   *                    every non-key right column as `<prefix><name>`
   */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTsCol: String = "ts", rightTsCol: String = "ts",
               direction: Direction = Backward,
               toleranceMs: Long = Long.MaxValue,
               rightPrefix: String = "ref_"): DataFrame = {
    require(keys.nonEmpty, "asofJoin needs at least one equality key")
    keys.foreach { k =>
      require(left.columns.contains(k) && right.columns.contains(k),
        s"join key $k must exist on both sides")
    }
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    require(payloadCols.contains(rightTsCol),
      s"right side must carry its timestamp column $rightTsCol")
    val internal = Seq("__ts", "__lrow", "__rrow", "__side", "__match",
      "__mb", "__mf", "__ok")
    require(!left.columns.exists(internal.contains),
      s"left side must not carry ${internal.mkString("/")} columns")
    val attached = payloadCols.map(rightPrefix + _)
    require(!left.columns.exists(attached.contains),
      s"left side already has a ${rightPrefix}* column the join would " +
        s"attach: ${left.columns.toSet & attached.toSet}")

    // One struct column carries the whole right payload through the
    // window, so `last(ignoreNulls)` tracks every attached column in a
    // single running value.
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTsCol).as("__ts"),
        struct(left.columns.map(col): _*).as("__lrow"),
        lit(null).cast(right.select(
          struct(payloadCols.map(col): _*)).schema.head.dataType).as("__rrow"),
        lit(0).as("__side")): _*)
    val r = right.select(
      keys.map(col) ++ Seq(
        col(rightTsCol).as("__ts"),
        lit(null).cast(left.select(
          struct(left.columns.map(col): _*)).schema.head.dataType).as("__lrow"),
        struct(payloadCols.map(col): _*).as("__rrow"),
        lit(1).as("__side")): _*)

    // Backward: ascending ts, right-before-left at equal ts, running
    // last. Forward is the mirror image — descending ts, so "last seen"
    // is the earliest right row at-or-after. Nearest evaluates BOTH
    // windows over the one union: same partitioning, so Spark plans a
    // single exchange with two sorts — not two shuffles.
    def spec(ord: Column*) = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = spec(col("__ts").asc, col("__side").desc)
    val wF = spec(col("__ts").desc, col("__side").desc)
    val u = l.unionByName(r)

    def near(m: Column): Column = abs(col("__ts") - m.getField(rightTsCol))
    def inTol(m: Column): Column = m.isNotNull && near(m) <= toleranceMs
    val matched = (direction match {
      case Backward =>
        u.withColumn("__match", last(col("__rrow"), ignoreNulls = true).over(wB))
      case Forward =>
        u.withColumn("__match", last(col("__rrow"), ignoreNulls = true).over(wF))
      case Nearest =>
        val mb = last(col("__rrow"), ignoreNulls = true).over(wB)
        val mf = last(col("__rrow"), ignoreNulls = true).over(wF)
        // backward wins ties; tolerance folds into the choice so a
        // too-far backward candidate cannot mask an in-range forward one
        u.withColumn("__mb", mb).withColumn("__mf", mf)
          .withColumn("__match",
            when(inTol(col("__mb")) &&
                (!inTol(col("__mf")) || near(col("__mb")) <= near(col("__mf"))),
              col("__mb"))
              .when(inTol(col("__mf")), col("__mf")))
    }).filter(col("__side") === 0)

    val gated = matched.withColumn("__ok", inTol(col("__match")))
    val leftOut = left.columns.toSeq.map(c => col("__lrow").getField(c).as(c))
    val rightOut = payloadCols.map(c =>
      when(col("__ok"), col("__match").getField(c)).as(s"$rightPrefix$c"))
    gated.select(leftOut ++ rightOut: _*)
  }
}
