package graft.sources

import graft.model.Point
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.DateType

/**
 * Readers producing the canonical point schema ([[graft.model.Point]]),
 * and the one owner of the at-rest point layout.
 *
 * The hot layout is Parquet partitioned by `date` (the day of `ts` in
 * the session time zone, [[dayOf]]), sorted by (date, name, ts) within
 * each file — the Spark-native replacement for the reference's indexed
 * store files (header index → footer stats; per-file time pruning →
 * row-group min/max; see reference
 * go/.../store_manager/indexed_store_file.go:110-146). `date` leads the
 * sort because a partitioned write needs its input ordered by `date`:
 * the planner replaces any sort not starting with it, and the files
 * come out unsorted. Series lookups prune on the sorted row groups'
 * min/max; no column carries a bloom filter.
 */
object PointSource {

  /**
   * Adapts the driver's `events` table onto the canonical schema:
   * one series per (event_type, user) pair, GAUGE-typed, ms timestamps.
   */
  /** `eventTypes` non-empty restricts the scan to those types — the
    * filter lands on the RAW `event_type` column, before the
    * name-mapping select, so it reaches the parquet scan as a pushed
    * filter. (A filter on the derived `name` — a concat over
    * event_type — can never push; a 5-metric query would scan every
    * event at 100 TB.) */
  def events(spark: SparkSession, sfDir: String,
             eventTypes: Seq[String] = Nil): DataFrame = {
    val raw0 = Tables.parquetCached(spark, s"$sfDir/events.parquet")
    val raw = if (eventTypes.isEmpty) raw0
      else raw0.filter(col("event_type").isin(eventTypes: _*))
    // ts physical type has varied across driver testdata generations
    // (TIMESTAMP(NANOS)→LongType ns, timestamp[us]→TIMESTAMP_NTZ, or
    // tz-adjusted TIMESTAMP); Tables.tsToMillis handles all three.
    val tsMs = Tables.tsToMillis(raw, "ts")
    raw.select(
        concat(lit("/events/"), col("event_type")).as("name"),
        map(lit("user"), col("user_id").cast("string")).as("labels"),
        lit("GAUGE").as("value_type"),
        tsMs.as("ts"),
        col("value").as("dval"),
        col("props").as("sval"), // string payload column (proto:75-76)
        lit(null).cast("long").as("end_ts"))
  }

  /**
   * [[events]] with the series key pre-built by the adapter.
   *
   * The adapter's label set is statically `{user → user_id}` and its
   * names/values contain none of the characters the generic
   * [[graft.model.Point.seriesKey]] escapes (`\,={}`): `name` is
   * `"/events/" + event_type` where the driver's oracle CTE already
   * relies on `'/events/' || event_type` round-tripping unescaped, and
   * `user_id` casts from a number. On that domain the generic key —
   * escape-regexes over name/key/value plus a map-entry sort per row —
   * collapses to one concat, bit-identically. This matters because the
   * events scan is a single parquet row group at bench scale factors,
   * so everything below the first exchange runs in ONE task: the
   * generic key costs ~0.2 s of serial wall per events gate (measured
   * in commit f7a6e9f: keyed events 0.402 s generic vs 0.138 s concat,
   * over a 0.232 s bare decode) and the concat is free.
   */
  def eventsKeyed(spark: SparkSession, sfDir: String,
                  eventTypes: Seq[String] = Nil): DataFrame =
    events(spark, sfDir, eventTypes).withColumn("skey",
      concat(col("name"), lit("{user="),
        element_at(col("labels"), "user"), lit("}")))

  /** The at-rest schema of a point store: [[Point.schema]] plus its
    * `date` partition column. */
  private val storeSchema = Point.schema.add("date", DateType)

  /** A point store's relation, with `date`: its file listing is held in
    * [[graft.SessionCache]] while no file under `path` changes and the
    * schema is fixed, so a warm call runs no Spark job and no listing
    * beyond the cache's fingerprint walk. Every sink commit (its log
    * lies under `path`) and every append invalidates the entry. */
  private def relation(spark: SparkSession, path: String): DataFrame =
    // a path never holds a NUL, so this key is never an
    // inferred-schema Tables.parquetCached(path) entry
    graft.SessionCache.get(spark, graft.SessionCache.Relation,
        s"$path\u0000points", Seq(path))(
      spark.read.schema(storeSchema).parquet(path)) // missing path: the read throws

  /** Reads a point store written by [[write]], [[append]] or [[sink]].
    * `minTs`/`maxTs` (ms, inclusive) prune `date` partitions outside
    * their days; the caller keeps its exact `ts` filters. */
  def read(spark: SparkSession, path: String,
           minTs: Option[Long] = None, maxTs: Option[Long] = None): DataFrame =
    pruneDays(spark, relation(spark, path), minTs, maxTs)
      .select(Point.columns.map(col): _*)

  /** The day rule of both tiers: the `date` partition of ms timestamp
    * column `ts` is its calendar day in the session time zone. */
  def dayOf(ts: Column): Column = to_date(timestamp_millis(ts))

  /** [[dayOf]] of one ms timestamp, worked out on the driver. */
  private def day(spark: SparkSession, t: Long): java.time.LocalDate =
    java.time.Instant.ofEpochMilli(t)
      .atZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"),
        java.time.ZoneId.SHORT_IDS))
      .toLocalDate

  /** Keeps the `date` partitions holding ms bounds `minTs`/`maxTs`
    * (inclusive days). A bound whose day is outside `DateType`'s years
    * 1-9999 prunes nothing. */
  private def pruneDays(spark: SparkSession, df: DataFrame,
                        minTs: Option[Long], maxTs: Option[Long]): DataFrame = {
    def bound(t: Option[Long]) =
      t.map(day(spark, _)).filter(d => d.getYear >= 1 && d.getYear <= 9999)
    val lo = bound(minTs).fold(df)(d => df.filter(col("date") >= d))
    bound(maxTs).fold(lo)(d => lo.filter(col("date") <= d))
  }

  /** The distinct `date` partitions of `df`, as `yyyy-MM-dd` strings —
    * O(#days) driver rows. */
  private def days(df: DataFrame): Seq[String] =
    df.select(col("date").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** Refuses a batch write (`who` names the writer) to a store the
    * streaming sink wrote: its reads list only the files in the sink
    * log, so an appended point would be acknowledged and never read
    * back, and a rewrite would leave the log naming files it moved. */
  private def refuseSinkStore(spark: SparkSession, path: String, who: String): Unit = {
    val sinkLog = new Path(path, "_spark_metadata")
    require(!sinkLog.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sinkLog),
      s"$who refuses a store written by a streaming sink: its reads list " +
        s"only the files in its sink log $sinkLog, and $who would write behind that log")
  }

  /** The one writer of the hot layout: exactly [[Point.columns]] (a
    * caller's helper column such as `skey` never reaches the at-rest
    * schema), the `date` column by [[dayOf]], one write task per
    * (date, name) hash range, rows sorted by (date, name, ts) in each,
    * and `date=` partition directories. */
  private def writeLayout(df: DataFrame, path: String, mode: String): Unit =
    df.select(Point.columns.map(col): _*)
      .withColumn("date", dayOf(col("ts")))
      .repartition(col("date"), col("name"))
      .sortWithinPartitions("date", "name", "ts")
      .write
      .partitionBy("date")
      .mode(mode)
      .parquet(path)

  /** Writes `df` as the store at `path`, replacing whatever is there. */
  def write(df: DataFrame, path: String): Unit = writeLayout(df, path, "overwrite")

  /** Appends `df` to the store at `path` (created when missing); `who`
    * names the writer in the refusal of a sink-written store. */
  def append(spark: SparkSession, df: DataFrame, path: String, who: String): Unit = {
    refuseSinkStore(spark, path, who)
    writeLayout(df, path, "append")
  }

  /** The streaming sink's cut of the layout: `date` partitions only (a
    * streaming plan cannot sort). The batch rewrites refuse the store
    * it writes, whose reads list only the sink log's files. */
  def sink(stream: DataFrame): DataStreamWriter[Row] =
    stream.withColumn("date", dayOf(col("ts")))
      .writeStream
      .format("parquet")
      .partitionBy("date")

  /**
   * Gorilla value-block tier — the cold-storage layout for NUMERIC
   * series (the reference's encoded value stream analog,
   * lib/protobuf.cc EncodeValueStream; here the VLDB'15 XOR format via
   * [[graft.codec.Gorilla]]). Each (series, UTC day) collapses to one
   * (skey, block_ts, n, blob) row, date-partitioned with a bloom
   * filter on `skey`: a time-range scan prunes whole days BEFORE any
   * decompression, and an exact-series lookup skips files on the
   * bloom. String payloads (`sval`) and typed metadata do not ride
   * this tier — it is the ~10× smaller numeric mirror the hot Parquet
   * tier ages into, not a replacement for it.
   *
   * Input must carry (skey, ts, dval) — [[graft.model.Point
   * .withSeriesKey]] upstream keeps the key injective.
   */
  def writeGorilla(df: DataFrame, path: String,
                   blockMs: Long = 86400000L): Unit =
    writeBlocks(df, path, blockMs, "static")

  /** The one writer of the cold block layout: `points` encoded into
    * blocks, `date` partitions by [[dayOf]] `block_ts`, bloom on
    * `skey`. `overwriteMode` "static" replaces the tier, "dynamic" only
    * the dates the blocks land on. */
  private def writeBlocks(points: DataFrame, path: String, blockMs: Long,
                          overwriteMode: String): Unit =
    graft.codec.Gorilla.encode(points, blockMs)
      .withColumn("date", dayOf(col("block_ts")))
      .write
      .option("partitionOverwriteMode", overwriteMode)
      .option("parquet.bloom.filter.enabled#skey", "true")
      .partitionBy("date")
      .mode("overwrite")
      .parquet(path)

  /**
   * Reads a [[writeGorilla]] tier back to (skey, ts, dval) points.
   * `minTs`/`maxTs` (ms, half-open) drive DATE PARTITION pruning on
   * the block grain before decode — only surviving blobs decompress —
   * then the exact per-point bound applies post-decode (a block
   * straddling the range boundary decodes and trims).
   */
  def readGorilla(spark: SparkSession, path: String,
                  minTs: Option[Long] = None,
                  maxTs: Option[Long] = None): DataFrame = {
    val blocks = pruneDays(spark, spark.read.parquet(path), minTs, maxTs)
    val pts0 = graft.codec.Gorilla.decode(blocks)
    val pts1 = minTs.fold(pts0)(t => pts0.filter(col("ts") >= t))
    maxTs.fold(pts1)(t => pts1.filter(col("ts") < t))
  }

  /**
   * Reconstructs CANONICAL points from a [[writeGorilla]] tier, so the
   * whole Engine/HTTP query surface runs unchanged against the cold
   * tier: `skey` is [[graft.model.Point.seriesKey]]'s form
   * (`/name{k=v,…}`) and parses back exactly through its inverse
   * ([[graft.functions.ParseVariable]]);
   * `sval`/`end_ts` are null by tier contract (numeric blocks only)
   * and `value_type` reports GAUGE.
   */
  def readGorillaPoints(spark: SparkSession, path: String,
                        minTs: Option[Long] = None,
                        maxTs: Option[Long] = None): DataFrame = {
    readGorilla(spark, path, minTs, maxTs)
      .withColumn("__v",
        graft.functions.ParseVariable.parseVariable(col("skey")))
      .select(
        col("__v.name").as("name"),
        col("__v.labels").as("labels"),
        lit("GAUGE").as("value_type"),
        col("ts"), col("dval"),
        lit(null).cast("string").as("sval"),
        lit(null).cast("long").as("end_ts"))
  }

  /**
   * Compaction job — the Spark-native replacement for the reference's
   * background compact/split/join cycle (go/.../datastore/datastore.go:
   * 519-557 compactBlock, 354-479 split/join, triggers at 687-705):
   * rewrites the store re-sorted and re-clustered so many small ingest
   * files (e.g. streaming micro-batch output) become few large ones,
   * restoring tight row-group stats: the store re-lands through
   * [[write]] into a staged directory that then swaps in. AQE coalesces
   * the write's shuffle to its advisory partition size, which sets the
   * output file size (the reference's split threshold analog). A store
   * the streaming sink wrote is refused before anything moves.
   */
  def compact(spark: SparkSession, path: String): Unit = {
    refuseSinkStore(spark, path, "compact")
    val staged = path.stripSuffix("/") + ".compact"
    write(relation(spark, path), staged)
    // atomic-ish swap (single filesystem rename pair); FS resolved
    // from the store path, not the default FS (s3a/hdfs stores)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s = new Path(staged)
    val old = new Path(path + ".old")
    fs.rename(p, old)
    fs.rename(s, p)
    fs.delete(old, true)
  }

  /**
   * Retention sweep job — the Spark-native analog of the reference's
   * background retention runner (server/store_file_manager.cc:87-191:
   * during background file management each policy item drops or
   * downsamples points aged past its window): rewrites at-rest date
   * partitions through [[graft.retention.Retention.apply]] so DROPped
   * points physically disappear and downsample items shrink aged data
   * to their mutated grid. Only days the policy can touch are
   * rewritten — a partition younger than the smallest item `min_age`
   * is left alone, so read amplification is bounded by affected days.
   * Re-runnable: a second sweep over age-stable survivors is a no-op
   * rewrite (downsampled grids map to themselves). Crash safety: each
   * swept day moves to a trash dir BEFORE its replacement renames in,
   * and sweep start replays any interrupted swap (a trash day whose
   * store partition is missing renames back) — no window exists where
   * a day's only copy lives in a dir a re-run would overwrite.
   * Survivors whose mutated timestamps land on a day the sweep did not
   * touch (an Interpolate grid can emit into an empty day) are
   * merge-moved file-by-file into that day rather than replacing it.
   * A store the streaming sink wrote is refused before anything moves.
   */
  def retentionSweep(spark: SparkSession, path: String,
                     policy: graft.retention.Retention.Policy,
                     nowMs: Long): Seq[String] = {
    refuseSinkStore(spark, path, "retention sweep")
    val trash = new Path(path.stripSuffix("/") + ".rettrash")
    val fs = trash.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a prior run that died between trash-move and
    // rename left the day's only copy in trash — restore it first
    if (fs.exists(trash)) {
      fs.listStatus(trash).foreach { st =>
        val target = new Path(path, st.getPath.getName)
        if (!fs.exists(target)) fs.rename(st.getPath, target)
      }
      fs.delete(trash, true)
    }
    // Pruning bound: only items that CHANGE data (DROP, or KEEP with a
    // downsample chain) make a rewrite worthwhile; an UNBOUNDED plain
    // KEEP never alters a partition. A KEEP with a finite max_age DOES
    // change data: a point aging past that window falls through to the
    // items below it — or to the implicit default-DROP when nothing
    // else matches — so the sweep must revisit days once they cross
    // the keep window (otherwise a KEEP-only policy like
    // "KEEP max_age 7d" would retain aged unmatched data at rest
    // forever, diverging from the reference's periodic runner). Days
    // younger than the earliest changing age are skipped; a policy
    // wanting immediate default-drops adds an explicit catch-all DROP
    // at min_age 0.
    val changing = policy.items.collect {
      case it if it.policy == graft.retention.Retention.Drop ||
        it.mutations.nonEmpty => it.minAgeMs
      case it if it.policy == graft.retention.Retention.Keep &&
        it.maxAgeMs > 0L => it.maxAgeMs
    }
    if (changing.isEmpty) return Nil
    val aged = relation(spark, path)
      .filter(col("date") <= day(spark, nowMs - changing.min))
    val dates = days(aged)
    if (dates.isEmpty) return Nil
    // write keeps the canonical columns ONLY: Retention.apply's internal
    // skey must not leak into the at-rest schema (a mixed-schema store
    // would read skey = null for old partitions and collapse every
    // series into one group on the next sweep)
    val staged = path.stripSuffix("/") + ".retstage"
    write(graft.retention.Retention.apply(aged.drop("date"), policy, nowMs), staged)
    // swap: trash-move the swept source day, then rename its staged
    // replacement in (crash between the two is recovered at next start)
    dates.foreach { d =>
      val src = new Path(s"$path/date=$d")
      if (fs.exists(src)) {
        fs.mkdirs(trash)
        fs.rename(src, new Path(trash, s"date=$d"))
      }
      val s = new Path(s"$staged/date=$d")
      if (fs.exists(s))
        fs.rename(s, new Path(s"$path/date=$d"))
    }
    // staged days OUTSIDE the swept set (mutations emitted timestamps
    // into a day the sweep didn't rewrite): merge file-by-file —
    // replacing such a partition would clobber young data
    val stagedRoot = new Path(staged)
    if (fs.exists(stagedRoot)) {
      fs.listStatus(stagedRoot)
        .filter(_.getPath.getName.startsWith("date="))
        .foreach { st =>
          val target = new Path(path, st.getPath.getName)
          if (!fs.exists(target)) fs.rename(st.getPath, target)
          else fs.listStatus(st.getPath).foreach { f =>
            fs.rename(f.getPath,
              new Path(target, f.getPath.getName))
          }
        }
      fs.delete(stagedRoot, true)
    }
    fs.delete(trash, true)
    dates
  }

  /**
   * Hybrid tier read: one canonical point frame spanning the hot
   * Parquet store and the Gorilla cold tier — queries cross the aging
   * boundary transparently. Crash-consistent with [[ageIntoGorilla]]'s
   * write-cold-then-delete-hot order, WITHOUT hiding late writes: hot
   * numerics on a date the cold tier also holds are reconciled via an
   * exact (skey, ts) anti-join against that date's decoded cold points
   * — crash residue (rows the aging job already copied cold) drops,
   * while a late `/add` to an already-aged date (a point cold does NOT
   * have) stays visible. A hot revision at an (skey, ts) the cold tier
   * holds is suppressed — cold wins, matching [[ageIntoGorilla]]'s
   * merge preference. Checked against the reference's semantics
   * (server/disk_datastore.cc:91-111 RecordNoLog): its store is
   * append-only and never reconciles duplicate timestamps — a second
   * write to an existing ts just appends and BOTH values survive the
   * read-side timestamp merge, so "update an aged point" is not a
   * defined operation there. One-value-per-(skey,ts) is our
   * strengthening; cold-wins = first-durable-write-wins, the closest
   * analog of a store that never revises what it already persisted
   * (and the only direction that keeps replayed crash residue
   * idempotent). String-valued rows always come from hot (not
   * representable in value blocks). The cold/overlap date lists are
   * O(#days) driver rows, and the anti-join decodes ONLY the
   * overlapping dates' blocks (normally zero).
   */
  def readTiered(spark: SparkSession, hotPath: String,
                 coldPath: String): DataFrame = {
    val cold = new Path(coldPath)
    if (!cold.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cold))
      return read(spark, hotPath)
    val coldBlocks = spark.read.parquet(coldPath)
    val coldDates = days(coldBlocks)
    val hot0 = relation(spark, hotPath)
    val safeHot = hot0
      .filter(col("dval").isNull ||
        !col("date").cast("string").isin(coldDates: _*))
      .select(Point.columns.map(col): _*)
    // hot numerics landing on cold-held dates: crash residue or late
    // writes — decide per point, not per date
    val overlapDates = days(hot0.filter(col("dval").isNotNull &&
      col("date").cast("string").isin(coldDates: _*)))
    val hotAll =
      if (overlapDates.isEmpty) safeHot
      else {
        val overlapping = Point.withSeriesKey(
          hot0.filter(col("dval").isNotNull &&
            col("date").cast("string").isin(overlapDates: _*)))
        val coldPts = graft.codec.Gorilla.decode(
          coldBlocks.filter(col("date").cast("string")
            .isin(overlapDates: _*)))
        safeHot.unionByName(
          overlapping
            .join(coldPts.select("skey", "ts"), Seq("skey", "ts"),
              "left_anti")
            .select(Point.columns.map(col): _*))
      }
    hotAll.unionByName(readGorillaPoints(spark, coldPath))
  }

  /**
   * Tier-aging job: moves every hot date partition strictly older than
   * `olderThanMs` into the Gorilla cold tier, then drops those
   * partitions from the hot store — the background companion of
   * [[compact]] that completes the hot→cold lifecycle
   * ([[writeGorilla]]'s "ages into" contract; reference analog: the
   * datastore's background compact cycle, go/.../datastore.go:519-557,
   * except the output is the compressed value tier, not a rewrite).
   *
   * The cutoff is a whole-day boundary (a block never straddles
   * tiers); numeric points move, string-valued points (null dval, not
   * representable in value blocks) STAY in the hot store — dropping a
   * date partition therefore requires it to carry no svals, else that
   * date is rewritten in place with only its sval rows. Cold append
   * uses dynamic partition overwrite on the moved dates: re-running
   * after a crash between the cold write and the hot delete is
   * idempotent, never duplicating blocks — and a moved date that
   * already holds cold blocks (crash residue OR a late write to an
   * aged date) is re-encoded from the union of both tiers, so the
   * overwrite never discards previously aged points. A hot store the
   * streaming sink wrote is refused before anything moves.
   */
  def ageIntoGorilla(spark: SparkSession, hotPath: String, coldPath: String,
                     olderThanMs: Long, nowMs: Long,
                     blockMs: Long = 86400000L): Seq[String] = {
    refuseSinkStore(spark, hotPath, "ageIntoGorilla")
    // Replay an interrupted sval-residue swap before reading anything:
    // a crash between the hot-partition delete and the stage rename
    // leaves that date's string-valued rows ONLY in the stage dir —
    // rename them home (or drop a stale stage if the partition still
    // exists, i.e. the crash happened before the delete).
    val fs = new Path(hotPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageRoot = new Path(s"${hotPath.stripSuffix("/")}.svalstage")
    if (fs.exists(stageRoot)) {
      fs.listStatus(stageRoot)
        .filter(_.getPath.getName.startsWith("date=")).foreach { st =>
          val dest = new Path(hotPath, st.getPath.getName)
          if (!fs.exists(dest)) fs.rename(st.getPath, dest)
          else fs.delete(st.getPath, true)
        }
      fs.delete(stageRoot, true)
    }
    val hot = relation(spark, hotPath)
    // dates are drawn from the NUMERIC doomed rows: a date already
    // reduced to its sval residue has nothing left to move and must
    // not re-select on the next run (idempotence)
    val numericDoomed = hot.filter(col("date") < day(spark, nowMs - olderThanMs) &&
      col("dval").isNotNull)
    val dates = days(numericDoomed)
    if (dates.isEmpty) return Nil
    val numericHot = graft.model.Point.withSeriesKey(numericDoomed)
      .select(col("skey"), col("ts"), col("dval"))
    // A selected date may ALREADY hold cold blocks — either crash
    // residue (the previous run copied cold but died before the hot
    // delete) or a late `/add` that landed hot on an aged date. The
    // dynamic partition overwrite below rewrites those dates wholesale,
    // so the re-encode must carry the existing cold points too: union
    // the overlap dates' decoded cold points with the hot rows,
    // deduping on (skey, ts) with cold preferred (matches
    // [[readTiered]]'s anti-join). Crash replay is a no-op merge (hot
    // rows ⊆ cold); a late write adds its fresh points to the block.
    val cold = new Path(coldPath)
    val overlapDates =
      if (!cold.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cold)) Nil
      else dates.filter(days(spark.read.parquet(coldPath)).toSet)
    val numeric =
      if (overlapDates.isEmpty) numericHot
      else {
        val coldPts = graft.codec.Gorilla.decode(
          spark.read.parquet(coldPath)
            .filter(col("date").cast("string").isin(overlapDates: _*)))
        numericHot
          .join(coldPts.select("skey", "ts"), Seq("skey", "ts"),
            "left_anti")
          .unionByName(coldPts)
      }
    // per-date idempotent append: overwrite ONLY the moved dates
    writeBlocks(numeric, coldPath, blockMs, "dynamic")
    // the moved dates' string-valued rows stay hot: they re-land through
    // write in a stage OUTSIDE the store dir (a crash must not leave a
    // stray dir the partition discovery would misparse), then each
    // date's partition is replaced by its staged residue, if any
    write(hot.filter(col("date").cast("string").isin(dates: _*) &&
      col("dval").isNull), stageRoot.toString)
    dates.foreach { d =>
      val part = new Path(hotPath, s"date=$d")
      val staged = new Path(stageRoot, s"date=$d")
      fs.delete(part, true)
      if (fs.exists(staged)) fs.rename(staged, part)
    }
    fs.delete(stageRoot, true)
    dates
  }
}
