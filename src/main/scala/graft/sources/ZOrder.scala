package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Z-ordered (Morton-interleaved) at-rest layout for multi-dimensional
 * pruning — the layout answer when a table serves MORE THAN ONE
 * selective filter shape and no single sort key can serve both.
 *
 * The point-store layout ([[PointSource.write]]) sorts (date, name, ts):
 * series-scoped time scans prune tightly, but an entity-centric scan —
 * one user's events across months, the sessionize/funnel/as-of input
 * shape — overlaps every file. Sorting by user instead just flips who
 * pays. Interleaving the bits of order-preserving per-dimension bucket
 * ids makes every file cover a small RECTANGLE in (dim1, dim2, ...)
 * space, so parquet footer min/max stats prune scans on EITHER
 * dimension to ~sqrt-of-files instead of all files — the standard
 * lakehouse clustering trade (each dimension prunes somewhat worse
 * than its dedicated sort, every dimension prunes far better than a
 * wrong sort).
 *
 * Bucket ids are order-preserving, which is what keeps the footer
 * stats on the RAW columns tight (a hash would scatter value ranges):
 *  - numeric dimensions: `width_bucket` over the global [min, max]
 *    (one aggregate pass);
 *  - string dimensions: rank against sorted boundary values — exact
 *    distinct for bounded-cardinality dims (variable names / event
 *    types), a deterministic hash-thinned sample above 64k distinct
 *    (entity ids), so driver state stays bounded at any cardinality.
 *
 * Scale shape: one stats pass, one range shuffle on the z-value
 * (`repartitionByRange` gives contiguous z-ranges per file), in-file
 * sort by z. No driver state beyond per-dim boundaries.
 */
object ZOrder {

  private val Bits = 8 // 256 buckets per dimension

  /** Max distinct string values materialized on the driver for
    * boundary derivation; above this the hash-thinned sample kicks
    * in. ~64k strings ≈ a few MB of driver heap, cardinality-proof. */
  private val SampleTarget = 65536L

  /** Order-preserving bucket id in [0, 255] for one dimension. */
  private def bucketCol(df: DataFrame, dim: String): Column = {
    val dt = df.schema(dim).dataType
    dt match {
      case _: org.apache.spark.sql.types.StringType =>
        // Boundary derivation is cardinality-bounded on the DRIVER
        // whatever the dim's cardinality is: below SampleTarget
        // distinct values the exact sorted-distinct path runs (tight
        // boundaries); above it, a DETERMINISTIC hash-thinned sample
        // of distinct values (keep where xxhash64 % rate == 0 — no
        // RNG, stable across runs/retries) collects ~SampleTarget
        // values and the 255 boundaries come from that sorted sample.
        // An entity-id dim with 10^9 distinct values therefore costs
        // one distinct pass + a ~64k-row collect, never a full-distinct
        // driver materialization.
        val vals = df.select(dim).na.drop()
        val nApprox = vals.agg(approx_count_distinct(dim).as("n"))
          .head().getLong(0)
        val sorted: Array[String] =
          if (nApprox <= SampleTarget)
            vals.distinct().orderBy(dim).collect().map(_.getString(0))
          else {
            // approx_count_distinct can overestimate on a skewed dim; a
            // too-aggressive thinning rate would then collect almost
            // nothing and the dimension would silently fold to lit(0)
            // (stop steering the z-curve). Escalate: halve the rate
            // until the sample is boundary-worthy (≥256 values), and
            // fall back to the exact-distinct path at rate 1.
            var rate = math.max(2L, nApprox / SampleTarget)
            var got: Array[String] = Array.empty
            while (got.length < 256 && rate >= 2) {
              got = vals.filter(pmod(xxhash64(col(dim)), lit(rate)) === 0)
                .distinct().orderBy(dim).collect().map(_.getString(0))
              if (got.length < 256) rate = rate / 4
            }
            if (got.length >= 256) got
            else vals.distinct().orderBy(dim).collect().map(_.getString(0))
          }
        val step = math.max(1, math.ceil(sorted.length / 256.0).toInt)
        val boundaries = sorted.grouped(step).map(_.head).drop(1).toSeq
        // rank = number of boundaries <= value (O(B) fold over an
        // array literal; order-preserving by construction), scaled
        // across the full 0..255 range — a rank packed into the low
        // bits would never reach the high interleave positions and the
        // dimension would stop steering the z-curve. Null values fold
        // to rank 0 (the when() otherwise-arm), mirroring the numeric
        // branch's null bucket.
        if (boundaries.isEmpty) lit(0)
        else {
          val rank = aggregate(
            typedLit(boundaries),
            lit(0),
            (acc, b) => acc + when(col(dim) >= b, 1).otherwise(0))
          floor(rank.cast("double") * 255.0 / boundaries.length).cast("int")
        }
      case _ =>
        val r = df.agg(min(col(dim).cast("double")).as("lo"),
          max(col(dim).cast("double")).as("hi")).head()
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"z-order dim '$dim' has no non-null values to derive " +
            "bucket boundaries from")
        val (lo, hi) = (r.getDouble(0), r.getDouble(1))
        if (lo == hi) lit(0)
        else when(col(dim).isNull, lit(0)) // null buckets to 0, like strings
          .otherwise(least(lit(255), greatest(lit(0),
            floor((col(dim).cast("double") - lit(lo)) / lit(hi - lo) * 256)
              .cast("int"))))
    }
  }

  /** Morton z-value column interleaving the dims' bucket bits. */
  def zValue(df: DataFrame, dims: Seq[String]): Column = {
    require(dims.nonEmpty, "z-order needs at least one dimension")
    val buckets = dims.map(d => bucketCol(df, d).cast("long"))
    val terms = for {
      bit <- 0 until Bits
      (b, j) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b, bit).bitwiseAND(lit(1L)),
      bit * dims.length + j)
    terms.reduce(_ + _)
  }

  /**
   * Writes `df` as `nFiles` parquet files, each a contiguous z-range:
   * footer min/max on every z-ordered dimension stays tight per file.
   *
   * Partitioning is DETERMINISTIC: `repartitionByRange` would re-sample
   * boundaries on every run (seeded by RDD id — file splits shifted
   * between suite orderings and flaked pruning-count assertions), so
   * instead the cut points are derived exactly from a bounded coarse-z
   * histogram (≤64k cells collected to the driver, any dim count), and
   * each z-range is routed to its own shuffle partition via a
   * precomputed salt whose murmur3 hash lands on that partition id —
   * same files, same stats, every run.
   */
  def write(df: DataFrame, dims: Seq[String], path: String,
            nFiles: Int = 64): Unit = {
    val z = zValue(df, dims)
    val totalBits = Bits * dims.length
    // coarse z keeps the histogram driver-bounded at 2^16 cells however
    // many dims interleave; cut points on coarse cells are within one
    // cell of exact — irrelevant at nFiles ≪ 65536
    val shift = math.max(0, totalBits - 16)
    val withZ = df.withColumn("__z", z)
      .withColumn("__zc", shiftright(col("__z"), shift))
    val hist = withZ.groupBy("__zc").count().orderBy("__zc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val per = math.max(1L, math.ceil(total.toDouble / nFiles).toLong)
    // boundary b_i = first coarse cell whose cumulative count crosses
    // i*per; pid = number of boundaries <= zc (rows of one cell never
    // split across files, exactly like RangePartitioner ties)
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cum = 0L
    var nextCut = per
    for ((cell, cnt) <- hist) {
      if (cum >= nextCut && bounds.length < nFiles - 1) {
        bounds += cell
        nextCut = (bounds.length + 1L) * per
      }
      cum += cnt
    }
    val nParts = bounds.length + 1
    val pid: Column =
      if (bounds.isEmpty) lit(0)
      else aggregate(typedLit(bounds.toSeq), lit(0),
        (acc, b) => acc + when(col("__zc") >= b, 1).otherwise(0))
    // salt s_i with pmod(hash(s_i), nParts) == i for every pid: routes
    // each contiguous z-range to its own partition through the ordinary
    // hash exchange, no sampling anywhere. The scan runs ON THE DRIVER
    // against Catalyst's own Murmur3HashFunction (IntegerType, seed 42
    // — exactly what HashPartitioning's partitionIdExpression computes
    // for the int __salt column), so the mapping matches the shuffle's
    // murmur3 bit-for-bit with ZERO extra Spark jobs per write
    // (coupon-collector: expected nParts·H(nParts) probes, microseconds
    // at any file count).
    val salts = new Array[Int](nParts)
    val found = new Array[Boolean](nParts)
    var nFound = 0
    var s = 0
    while (nFound < nParts) {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(s, org.apache.spark.sql.types.IntegerType, 42L).toInt
      val p = ((h % nParts) + nParts) % nParts
      if (!found(p)) { found(p) = true; salts(p) = s; nFound += 1 }
      s += 1
    }
    withZ
      .withColumn("__salt", element_at(typedLit(salts.toSeq), pid + 1))
      .repartition(nParts, col("__salt"))
      .sortWithinPartitions("__z")
      .drop("__z", "__zc", "__salt")
      .write.mode("overwrite").parquet(path)
  }
}
