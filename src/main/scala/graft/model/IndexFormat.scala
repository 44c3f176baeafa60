package graft.model

import org.apache.spark.sql.SparkSession

/**
 * At-rest index layout marker: one `path/_format` file per
 * materialized index. The one at-rest index is the minhash near-dup
 * index ([[graft.dedup.Dedup.minhashIndex]]).
 *
 * Rationale: the index's on-disk layout bakes in parameters (shingle
 * size, LSH hash family and band scheme) that its probes must
 * reproduce EXACTLY. A mismatch doesn't error — band keys stop
 * colliding (silent zero matches). So the build stamps a one-line
 * `path/_format` marker (Spark's parquet readers ignore `_`-prefixed
 * files, like `_SUCCESS`) and every reader/appender verifies it and
 * fails loudly on mismatch — including the marker-absent case, which
 * means a pre-marker index that cannot be trusted.
 */
object IndexFormat {

  val MarkerFile = "_format"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write(spark: SparkSession, path: String, marker: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$MarkerFile")
    val out = fs(spark, path).create(p, true)
    try out.write((marker + "\n").getBytes("UTF-8")) finally out.close()
  }

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
   * migration recipe.
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
    * The marker is read through [[graft.SessionCache]], keyed on the
    * `_format` file alone: while that file is unchanged a check costs
    * one file status and no open (streaming probes check per
    * micro-batch), and a marker rewritten or deleted by anyone — this
    * session or another process — is read again on the next check. */
  def check(spark: SparkSession, path: String, expected: String,
            rebuildHint: String): Unit = {
    val actual = graft.SessionCache.get(spark, graft.SessionCache.Marker, path,
      Seq(s"$path/$MarkerFile"))(read(spark, path))
    if (!actual.contains(expected)) throw new IllegalStateException(
      s"index at $path has layout " +
      s"'${actual.getOrElse("<no marker — pre-marker index; see " +
        "IndexFormat.adopt for the migration path>")}' but this " +
      s"call expects '$expected'. A layout/parameter mismatch does not " +
      s"error at query time — lookups silently return zero matches or " +
      s"wrong distances — so it is refused here instead. $rebuildHint")
  }
}
