package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain loaders for the driver's non-point tables. */
object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
  import org.apache.spark.sql.Column

  /** Epoch-ms conversion tolerant of every `ts` physical type the driver
    * has shipped: parquet TIMESTAMP(NANOS) (read as LongType ns under
    * nanosAsLong), TIMESTAMP_NTZ (plain `timestamp[us]`, no UTC flag —
    * Spark 4 infers NTZ), and tz-adjusted TIMESTAMP. `div` keeps ns→ms
    * truncation exact (ns magnitudes exceed double's 2^53); the NTZ→LTZ
    * cast is a micros-identity because every graft session pins
    * spark.sql.session.timeZone=UTC, matching DuckDB's epoch_ms on
    * naive timestamps. */
  def tsToMillis(df: org.apache.spark.sql.DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case LongType         => expr(s"$name div 1000000")
      case TimestampNTZType => unix_millis(col(name).cast(TimestampType))
      case _                => unix_millis(col(name))
    }
  /** Fans a too-narrow scan out to cluster parallelism before per-row
    * work — the optimization-guide §2.5 remedy for tiny/unsplittable
    * inputs ("one huge unsplittable file … repartition immediately
    * after the read"). The bench corpora are single parquet row
    * groups, so every expression below the first exchange (tokenize +
    * per-shingle md5, winnowing, vector math, media decode) otherwise
    * runs in ONE task however many cores the session has; a
    * production-scale scan carries ≥ parallelism splits, where this is
    * the identity — the condition reads the ACTUAL scan split count,
    * not a constant, so no exchange is ever added at scale. Row-set
    * unchanged; consumers are order-insensitive (hash gates sort
    * outputs, aggregates ride exact decimal sums, limits are ordered,
    * per-group first() picks are functionally determined), and
    * round-robin repartition is deterministic under retries
    * (sort-before-repartition is on by default). */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.analyzed match {
      // already an explicit shuffle repartition to enough partitions
      // (e.g. a caller that fanned out before handing the frame to a
      // trainer that fans its own input): the probe below forces
      // physical planning + an RDD conversion per call — skip it, the
      // fan-out is already there. A narrow one (`repartition(1)`) is
      // probed and widened like any other input.
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
        if r.shuffle && r.numPartitions * 2 >= cores => df
      case _ =>
        if (df.rdd.getNumPartitions * 2 < cores) df.repartition(cores) else df
    }
  }
  /** Session-scoped RELATION (metadata) cache for repeated reads of
    * the same parquet path. `spark.read.parquet` re-lists the
    * directory and re-reads footers for schema inference on EVERY
    * call — ~65 ms of pure driver wall per call (measured,
    * OPTIMIZATION_r18.md `read-parquet-*`), paid by every gate build twice
    * per bench pass and once per verify dump. Production engines
    * never pay this per query: a catalog table / manifest-backed
    * format (guide §6) persists the file index and schema. This cache
    * is the session-local equivalent: it holds the ANALYZED BASE
    * RELATION only — never row data, nothing survives the JVM, and
    * every query still computes from the parquet bytes. Staleness,
    * bound and eviction are [[graft.SessionCache]]'s: an entry lives
    * while the files under `path` are unchanged. */
  def parquetCached(spark: SparkSession, path: String): DataFrame =
    graft.SessionCache.get(spark, graft.SessionCache.Relation, path, Seq(path))(
      spark.read.parquet(path)) // missing path: not cached, the read throws

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    parquetCached(spark, s"$sfDir/documents.parquet")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    parquetCached(spark, s"$sfDir/embeddings.parquet")

  /** Raw events with `ts` normalized to epoch ms (same NANOS handling
    * as [[PointSource.events]]; `div` keeps sub-ms truncation exact and
    * bit-identical to DuckDB's epoch_ms). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = parquetCached(spark, s"$sfDir/events.parquet")
    raw.withColumn("ts", tsToMillis(raw, "ts"))
  }
}
