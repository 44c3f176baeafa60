package graft.model

import org.apache.spark.sql.SparkSession

/**
 * At-rest index layout markers, one `path/_format` file per
 * materialized index, shared by every index family (minhash, simhash,
 * cdc, winnow, IVF, IVF-PQ, IVF-SQ8, PQ).
 *
 * Rationale: each index's on-disk layout bakes in parameters (LSH band
 * scheme, CDC chunking window/divisor, IVF quantizer, PQ codebooks)
 * that its probes must reproduce EXACTLY. A mismatch doesn't error —
 * band keys stop colliding (silent zero matches) or ADC distances
 * decode against the wrong codebook (silently wrong neighbors). So the
 * build stamps a one-line `path/_format` marker (Spark's parquet
 * readers ignore `_`-prefixed files, like `_SUCCESS`) and every
 * reader/appender verifies it and fails loudly on mismatch — including
 * the marker-absent case, which means a pre-marker index that cannot
 * be trusted.
 */
object IndexFormat {

  val MarkerFile = "_format"

  /** Session-lifetime memo of markers already verified (or just
    * written) per index path. Streaming probe paths
    * (`minhashFlagStream`, `scoreFollow`) call [[check]] per
    * micro-batch; without the memo every batch pays a driver-side
    * filesystem read against the index store. An index rewritten
    * OUT-OF-BAND mid-session won't be re-read — the same
    * trust-the-session assumption Spark's own file-index caching
    * makes; in-session rewrites go through [[write]]/[[adopt]], which
    * update the memo. Bounded: cleared wholesale past 1024 paths. */
  private val verified =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val memoHits = new java.util.concurrent.atomic.AtomicLong()
  private val memoMisses = new java.util.concurrent.atomic.AtomicLong()

  /** (entries, hits, misses) of the verified-marker memo — surfaced on
    * the HTTP façade's /status page so the per-micro-batch no-read
    * claim is observable, not just documented. */
  def memoStats: (Int, Long, Long) = (verified.size, memoHits.get, memoMisses.get)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write(spark: SparkSession, path: String, marker: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$MarkerFile")
    val out = fs(spark, path).create(p, true)
    try out.write((marker + "\n").getBytes("UTF-8")) finally out.close()
    if (verified.size > 1024) verified.clear()
    verified.put(path, marker)
  }

  /** Drop the session's verified-marker memo for `path` — required
    * after an OUT-OF-BAND change to an index (rewritten by another
    * session/process) so the next [[check]] re-reads the marker from
    * storage. In-session rewrites via [[write]]/[[adopt]] update the
    * memo themselves and don't need this. */
  def forget(path: String): Unit = verified.remove(path)

  /**
   * Migration escape hatch for PRE-MARKER indexes: stamps `marker`
   * onto an existing index directory that has no `_format` yet, on the
   * operator's explicit assertion that the index was built with
   * exactly these parameters. Refuses if ANY marker is already present
   * (an already-marked index is either fine or genuinely mismatched —
   * re-stamping it would just launder the mismatch; rebuild instead).
   * This keeps the fail-loud default (marker-absent = refused
   * everywhere) without making a full rebuild the only recovery path
   * on upgrade. See COVERAGE.md "index format markers" for the
   * migration recipe per index family.
   */
  def adopt(spark: SparkSession, path: String, marker: String): Unit = {
    read(spark, path) match {
      case Some(existing) => throw new IllegalStateException(
        s"index at $path already carries marker '$existing' — adopt() is " +
          "only for pre-marker indexes; if the existing marker mismatches " +
          "your parameters the index must be rebuilt, not re-stamped")
      case None => write(spark, path, marker)
    }
  }

  def read(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/$MarkerFile")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Fail-loud guard for every reader/appender of a marked index.
    * A (path, expected) pair that already verified this session is a
    * pure memo hit — zero filesystem reads (repeated streaming probes
    * pay the marker read once, not per micro-batch). */
  def check(spark: SparkSession, path: String, expected: String,
            rebuildHint: String): Unit = {
    if (verified.get(path) == expected) { memoHits.incrementAndGet(); return }
    memoMisses.incrementAndGet()
    val actual = read(spark, path)
    if (!actual.contains(expected)) throw new IllegalStateException(
      s"index at $path has layout " +
      s"'${actual.getOrElse("<no marker — pre-marker index; see " +
        "IndexFormat.adopt for the migration path>")}' but this " +
      s"call expects '$expected'. A layout/parameter mismatch does not " +
      s"error at query time — lookups silently return zero matches or " +
      s"wrong distances — so it is refused here instead. $rebuildHint")
    if (verified.size > 1024) verified.clear()
    verified.put(path, expected)
  }

  /**
   * Stable content fingerprint of quantizer matrices (IVF centroids,
   * PQ codebooks): 16 hex chars of MD5 over the IEEE-754 bit patterns
   * with row separators. Same doubles ⇒ same fingerprint on any JVM,
   * so "the SAME quantizer the index was built with" becomes a
   * checkable contract rather than a doc comment.
   */
  def fingerprint(matrices: Array[Array[Double]]*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    for (mat <- matrices) {
      for (row <- mat) {
        for (v <- row) {
          buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(v))
          md.update(buf.array(), 0, 8)
        }
        md.update(0x7c.toByte) // row separator
      }
      md.update(0x7d.toByte) // matrix separator
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
