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
  def fanOut(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    // already an explicit shuffle repartition (e.g. a caller that
    // fanned out before handing the frame to a trainer that fans its
    // own input): the probe below forces physical planning + an RDD
    // conversion per call — skip it, the fan-out is already there
    case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
      if r.shuffle => df
    case _ =>
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 < cores) df.repartition(cores) else df
  }
  /** Session-scoped RELATION (metadata) cache for repeated reads of
    * the same parquet path. `spark.read.parquet` re-lists the
    * directory and re-reads footers for schema inference on EVERY
    * call — ~65 ms of pure driver wall per call (measured,
    * MicroProfile `read-parquet-*`), paid by every gate build twice
    * per bench pass and once per verify dump. Production engines
    * never pay this per query: a catalog table / manifest-backed
    * format (guide §6) persists the file index and schema. This cache
    * is the session-local equivalent: it holds the ANALYZED BASE
    * RELATION only — never row data, nothing survives the JVM, and
    * every query still computes from the parquet bytes.
    *
    * Staleness guard: entries are validated against a fingerprint of
    * the path's leaf files — file count, total length and newest
    * mtime (one recursive listing). A directory swap (the
    * compaction/aging jobs), an added or removed part file, and a
    * part file rewritten in place under the same name all change it;
    * the directory's own mtime catches only the first two.
    *
    * Entries of a session are dropped when its SparkContext stops (a
    * listener registered with the first entry per context), so a JVM
    * that runs session after session does not keep every stopped
    * session's analyzed relations. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      ((Int, Long, Long), DataFrame)]()
  private val watched =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  private def evictOnStop(sc: org.apache.spark.SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
        relCache.keySet.removeIf(_._1.sparkContext eq sc)
        watched.remove(sc)
      }
    })

  /** Paths cached for `spark` (for specs). */
  private[graft] def cachedPaths(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    relCache.keySet.asScala.collect { case (s, p) if s eq spark => p }.toSet
  }

  /** (leaf file count, total bytes, newest mtime) under `path`, or
    * None when it cannot be listed. */
  private def fingerprint(spark: SparkSession, path: String): Option[(Int, Long, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var (n, bytes, newest) = (0, 0L, 0L)
      while (it.hasNext) {
        val f = it.next()
        n += 1; bytes += f.getLen; newest = math.max(newest, f.getModificationTime)
      }
      Some((n, bytes, newest))
    } catch { case scala.util.control.NonFatal(_) => None }

  def parquetCached(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path) // missing path: let the read throw
      case Some(fp) =>
        evictOnStop(spark.sparkContext)
        relCache.compute((spark, path), (_, prev) =>
          if (prev != null && prev._1 == fp) prev
          else (fp, spark.read.parquet(path)))._2
    }

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
