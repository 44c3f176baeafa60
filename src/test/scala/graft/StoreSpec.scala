package graft

import graft.sources.PointSource
import org.apache.spark.sql.functions._

/** At-rest layout: round-trip, scan pushdown, and compaction. */
class StoreSpec extends SparkSpec {

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_store").toString + "/store"

  private def samplePoints() =
    PointSource.events(spark, "/root/testdata/sf0.001")

  test("write/read round-trip preserves every point") {
    val dir = tmpDir()
    val in = samplePoints()
    PointSource.write(in, dir)
    val out = PointSource.read(spark, dir)
    assert(out.count() == in.count())
    val a = in.select(sum(hash(col("name"), col("ts"), col("dval")))).head().getLong(0)
    val b = out.select(sum(hash(col("name"), col("ts"), col("dval")))).head().getLong(0)
    assert(a == b)
  }

  test("gorilla tier: lossless round-trip and date-partition pruning before decode") {
    val dir = tmpDir()
    val in = graft.model.Point.withSeriesKey(samplePoints())
      .select(col("skey"), col("ts"), col("dval"))
    PointSource.writeGorilla(in, dir)
    // full read = original points, bit-for-bit
    val out = PointSource.readGorilla(spark, dir)
    assert(out.count() == in.count())
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.select(sum(hash(col("skey"), col("ts"), col("dval")))).head().getLong(0)
    assert(h(out) == h(in))
    // time-range read prunes day partitions BEFORE decompression and
    // trims exactly at the point bound afterwards
    val lo = 1704500000000L
    val ranged = PointSource.readGorilla(spark, dir, minTs = Some(lo))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(date"), plan.take(2000))
    assert(ranged.count() == in.filter(col("ts") >= lo).count())
    assert(ranged.agg(min("ts")).head().getLong(0) >= lo)
  }

  test("ageIntoGorilla moves whole old days cold, keeps svals hot, idempotent") {
    val hot = tmpDir(); val cold = tmpDir()
    // 3 days of numeric points + one sval point on day 1
    val day = 86400000L
    val base = series(Seq(0L -> 1.0, 1000L -> 2.0, day -> 3.0,
      day + 1000L -> 4.0, 2 * day -> 5.0))
    val withSval = base.unionByName(
      series(Seq(day + 2000L -> 0.0)).withColumn("dval",
        lit(null).cast("double")).withColumn("sval", lit("payload")))
    PointSource.write(withSval, hot)
    val now = 2 * day + 2000L
    // cutoff instant lands inside day 2 => whole days 0 and 1 move,
    // day 2 (which contains the cutoff) stays hot
    val moved = PointSource.ageIntoGorilla(spark, hot, cold,
      olderThanMs = 1000L, nowMs = now)
    assert(moved == Seq("1970-01-01", "1970-01-02"))
    // cold tier serves the moved numeric points
    val coldPts = collectTsVal(PointSource.readGorilla(spark, cold))
    assert(coldPts == Seq(0L -> 1.0, 1000L -> 2.0, day -> 3.0,
      day + 1000L -> 4.0))
    // hot keeps day 2 and day 1's sval row only
    val hotLeft = PointSource.read(spark, hot)
    assert(collectTsVal(hotLeft.filter(col("dval").isNotNull)) ==
      Seq(2 * day -> 5.0))
    assert(hotLeft.filter(col("sval") === "payload").count() == 1)
    // re-run: nothing else to move, cold unchanged (idempotent)
    assert(PointSource.ageIntoGorilla(spark, hot, cold, 1000L, now).isEmpty)
    assert(collectTsVal(PointSource.readGorilla(spark, cold)) == coldPts)
  }

  test("ageIntoGorilla replays an interrupted sval-residue swap at next start") {
    val hot = tmpDir(); val cold = tmpDir() + "/cold"
    val day = 86400000L
    val withSval = series(Seq(0L -> 1.0, day -> 2.0)).unionByName(
      series(Seq(500L -> 0.0)).withColumn("dval",
        lit(null).cast("double")).withColumn("sval", lit("keepme")))
    PointSource.write(withSval, hot)
    // simulate the crash window: day 0's sval residue staged, hot
    // partition already deleted, rename never ran
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$hot.svalstage/date=1970-01-01")
    spark.read.parquet(hot).filter(col("dval").isNull).drop("date")
      .write.mode("overwrite").parquet(stage.toString)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hot/date=1970-01-01"), true)
    assert(PointSource.read(spark, hot)
      .filter(col("sval") === "keepme").count() == 0, "crash state: sval gone")
    // the next run replays the swap before doing anything else
    PointSource.ageIntoGorilla(spark, hot, cold,
      olderThanMs = day * 10, nowMs = day + 1000L) // nothing to move
    assert(PointSource.read(spark, hot)
      .filter(col("sval") === "keepme").count() == 1, "replay restored the sval")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$hot.svalstage")),
      "stage root cleaned up")
  }

  test("readTiered spans both tiers and never double-counts a crash window") {
    val hot = tmpDir(); val cold = tmpDir() + "/cold"
    val day = 86400000L
    val base = series(Seq(0L -> 1.0, day -> 2.0, 2 * day -> 3.0))
    val withSval = base.unionByName(
      series(Seq(500L -> 0.0)).withColumn("dval",
        lit(null).cast("double")).withColumn("sval", lit("p")))
    PointSource.write(withSval, hot)
    // no cold tier yet: tiered == hot
    assert(PointSource.readTiered(spark, hot, cold).count() == 4)
    // age days 0 and 1 cold; tiered must serve the SAME logical points
    PointSource.ageIntoGorilla(spark, hot, cold, olderThanMs = 1000L,
      nowMs = 2 * day + 1000L)
    val tiered = PointSource.readTiered(spark, hot, cold)
    assert(collectTsVal(tiered.filter(col("dval").isNotNull)) ==
      Seq(0L -> 1.0, day -> 2.0, 2 * day -> 3.0))
    assert(tiered.filter(col("sval") === "p").count() == 1)
    // crash window: day 2's numerics copied cold but NOT yet deleted
    // hot — the hybrid read must take day 2's numerics from cold only
    val day2 = graft.model.Point.withSeriesKey(
        spark.read.parquet(hot).filter(col("dval").isNotNull).drop("date"))
      .select(col("skey"), col("ts"), col("dval"))
    graft.codec.Gorilla.encode(day2, day)
      .withColumn("date", to_date(timestamp_millis(col("block_ts"))))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").mode("overwrite").parquet(cold)
    val crashed = PointSource.readTiered(spark, hot, cold)
    assert(collectTsVal(crashed.filter(col("dval").isNotNull)) ==
      Seq(0L -> 1.0, day -> 2.0, 2 * day -> 3.0),
      "a date present in both tiers must not double-count")
  }

  test("late write to an aged date: visible via readTiered, merged (not " +
       "clobbered) by the next ageIntoGorilla run") {
    val hot = tmpDir(); val cold = tmpDir() + "/cold"
    val day = 86400000L
    PointSource.write(
      series(Seq(0L -> 1.0, 1000L -> 2.0, day -> 3.0, 2 * day -> 4.0)), hot)
    val now = 2 * day + 1000L
    // age days 0 and 1 cold
    assert(PointSource.ageIntoGorilla(spark, hot, cold,
      olderThanMs = 1000L, nowMs = now) == Seq("1970-01-01", "1970-01-02"))
    // a late write lands HOT on already-aged day 0 (the /add path:
    // appended file in the date partition)
    series(Seq(5000L -> 9.0))
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
      .write.partitionBy("date").mode("append").parquet(hot)
    // the hybrid read must surface it immediately (not silently hide it
    // behind the cold tier's date ownership)
    assert(collectTsVal(PointSource.readTiered(spark, hot, cold)
        .filter(col("dval").isNotNull)) ==
      Seq(0L -> 1.0, 1000L -> 2.0, 5000L -> 9.0, day -> 3.0, 2 * day -> 4.0),
      "late hot write on a cold date must be visible in readTiered")
    // the next aging run re-selects day 0 (it has hot numerics again);
    // the dynamic partition overwrite must MERGE the existing cold
    // blocks, not replace them with the single late point
    assert(PointSource.ageIntoGorilla(spark, hot, cold,
      olderThanMs = 1000L, nowMs = now) == Seq("1970-01-01"))
    assert(collectTsVal(PointSource.readGorilla(spark, cold)) ==
      Seq(0L -> 1.0, 1000L -> 2.0, 5000L -> 9.0, day -> 3.0),
      "re-aging a late-write date must keep previously aged points")
    // hot no longer holds day 0; the tiered view is unchanged
    assert(collectTsVal(PointSource.readTiered(spark, hot, cold)
        .filter(col("dval").isNotNull)) ==
      Seq(0L -> 1.0, 1000L -> 2.0, 5000L -> 9.0, day -> 3.0, 2 * day -> 4.0))
  }

  test("retentionSweep: old rows physically drop/downsample, young days untouched") {
    import spark.implicits._
    import graft.retention.Retention
    import graft.api.Requests
    val dir = tmpDir()
    val base = 1704067200000L // 2024-01-01T00:00Z
    val day = 86400000L
    val now = base + 30 * day
    def p(name: String, ts: Long, v: Double) =
      (name, Map("user" -> "1"), "GAUGE", ts, v,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long])
    val rows = Seq(
      // day 0: aged 30 days
      p("/a", base + 1000, 1.0), p("/a", base + 3600000, 2.0),
      p("/a", base + 7200000, 3.0), p("/b", base + 1000, 9.0),
      // day 29: aged < 1 day
      p("/a", base + 29 * day + 1000, 4.0), p("/b", base + 29 * day + 1000, 8.0))
      .toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")
    PointSource.write(rows, dir)
    val policy = Retention.Policy(Seq(
      Retention.PolicyItem(Seq("/b"), Retention.Keep, maxAgeMs = 7 * day),
      Retention.PolicyItem(Seq("/b"), Retention.Drop, minAgeMs = 7 * day),
      Retention.PolicyItem(Seq("/a"), Retention.Keep, maxAgeMs = 7 * day),
      Retention.PolicyItem(Seq("/a"), Retention.Keep, minAgeMs = 7 * day,
        mutations = Seq(Requests.Latest(day)))))
    val swept = PointSource.retentionSweep(spark, dir, policy, now)
    assert(swept == Seq("2024-01-01"), s"affected days: $swept")
    val out = PointSource.read(spark, dir)
      .select("name", "ts", "dval").as[(String, Long, Double)].collect().toSet
    // old /b physically gone; old /a downsampled to its daily LATEST;
    // day-29 rows byte-identical
    assert(!out.exists { case (n, ts, _) => n == "/b" && ts < base + day })
    val oldA = out.filter { case (n, ts, _) => n == "/a" && ts < base + day }
    assert(oldA.size == 1 && oldA.head._3 == 3.0,
      s"old /a must reduce to the daily latest: $oldA")
    assert(out.contains(("/a", base + 29 * day + 1000, 4.0)))
    assert(out.contains(("/b", base + 29 * day + 1000, 8.0)))
    // re-runnable: a second sweep converges to the same store
    PointSource.retentionSweep(spark, dir, policy, now)
    val out2 = PointSource.read(spark, dir)
      .select("name", "ts", "dval").as[(String, Long, Double)].collect().toSet
    assert(out2 == out, "second sweep must be a no-op")
  }

  test("retentionSweep: KEEP-only policy with finite max_age still default-drops aged data") {
    import spark.implicits._
    import graft.retention.Retention
    val dir = tmpDir()
    val base = 1704067200000L
    val day = 86400000L
    val now = base + 30 * day
    val rows = Seq(
      ("/a", Map("user" -> "1"), "GAUGE", base + 1000L, 1.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]),
      ("/a", Map("user" -> "1"), "GAUGE", base + 29 * day, 4.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
      .toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")
    PointSource.write(rows, dir)
    // 'KEEP max_age 7d' with NO catch-all DROP: data aging past the
    // keep window falls to the IMPLICIT default-DROP — the sweep must
    // treat the keep-window end as a changing age, not no-op forever
    val policy = Retention.Policy(Seq(
      Retention.PolicyItem(Seq("/a"), Retention.Keep, maxAgeMs = 7 * day)))
    val swept = PointSource.retentionSweep(spark, dir, policy, now)
    assert(swept == Seq("2024-01-01"), s"affected days: $swept")
    val out = PointSource.read(spark, dir)
      .select("ts", "dval").as[(Long, Double)].collect().toSet
    assert(out == Set((base + 29 * day, 4.0)),
      s"aged row must be default-dropped, young row kept: $out")
  }

  test("retentionSweep: an interrupted swap is replayed from trash at next start") {
    import spark.implicits._
    import graft.retention.Retention
    val dir = tmpDir()
    val base = 1704067200000L
    val day = 86400000L
    val now = base + 30 * day
    val rows = Seq(
      ("/a", Map("user" -> "1"), "GAUGE", base + 1000L, 1.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]),
      ("/a", Map("user" -> "1"), "GAUGE", base + 29 * day, 4.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
      .toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")
    PointSource.write(rows, dir)
    // forge the crash state: day 0 moved to trash, replacement never
    // renamed in (the window between the two renames)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(dir + ".rettrash")
    fs.mkdirs(trash)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/date=2024-01-01"),
      new org.apache.hadoop.fs.Path(trash, "date=2024-01-01"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/date=2024-01-01")))
    // a KEEP-everything policy with one changing item far in the past:
    // nothing qualifies for rewrite, but recovery must still restore
    val policy = Retention.Policy(Seq(
      Retention.PolicyItem(Nil, Retention.Keep, maxAgeMs = 100 * day),
      Retention.PolicyItem(Nil, Retention.Drop, minAgeMs = 100 * day)))
    PointSource.retentionSweep(spark, dir, policy, now)
    val out = PointSource.read(spark, dir)
      .select("ts", "dval").as[(Long, Double)].collect().toSet
    assert(out == Set((base + 1000L, 1.0), (base + 29 * day, 4.0)),
      s"trashed day not restored: $out")
    assert(!fs.exists(trash), "trash must be cleared after recovery")
  }

  test("retentionSweep: interpolate survivors landing on an absent day are merged, not lost") {
    import spark.implicits._
    import graft.retention.Retention
    import graft.api.Requests
    val dir = tmpDir()
    val base = 1704067200000L // 2024-01-01T00:00Z
    val day = 86400000L
    val now = base + 30 * day
    // /a has points late day 0 and early day 2 — nothing on day 1; an
    // hourly interpolate grid emits synthetic rows INTO day 1
    val rows = Seq(
      ("/a", Map("user" -> "1"), "GAUGE", base + 23 * 3600000L, 1.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]),
      ("/a", Map("user" -> "1"), "GAUGE", base + 2 * day + 3600000L, 25.0,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
      .toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")
    PointSource.write(rows, dir)
    val policy = Retention.Policy(Seq(
      Retention.PolicyItem(Seq("/a"), Retention.Keep, minAgeMs = 7 * day,
        mutations = Seq(Requests.Interpolate(3600000L)))))
    PointSource.retentionSweep(spark, dir, policy, now)
    val out = PointSource.read(spark, dir)
      .select("ts").as[Long].collect().sorted
    // grid spans both endpoints hourly: day-1 hours must exist
    assert(out.exists(ts => ts >= base + day && ts < base + 2 * day),
      s"day-1 interpolated rows lost: ${out.take(5).toSeq}")
    // and the partition landed as date=2024-01-02
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/date=2024-01-02")))
  }

  test("store layout pushes name equality and ts range into the parquet scan") {
    val dir = tmpDir()
    PointSource.write(samplePoints(), dir)
    val q = PointSource.read(spark, dir)
      .filter(col("name") === "/events/click" && col("ts") >= 1704500000000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("EqualTo(name,/events/click)"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts,1704500000000)"), plan.take(2000))
    // the adapter source (derived name/ts) can NOT push these — the
    // at-rest layout is what makes the 100 TB scan cheap
  }

  test("compaction coalesces small files, preserves data and layout") {
    val dir = tmpDir()
    val in = samplePoints()
    // simulate many small ingest files: 16 shuffled splits
    in.repartition(16).withColumn("date", to_date(timestamp_millis(col("ts"))))
      .write.partitionBy("date").mode("overwrite").parquet(dir)
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val before = parquetFiles().size
    val checksum = spark.read.parquet(dir)
      .select(sum(hash(col("name"), col("ts"), col("dval")))).head().getLong(0)
    PointSource.compact(spark, dir)
    val after = parquetFiles().size
    assert(after < before, s"$before -> $after")
    val out = spark.read.parquet(dir)
    assert(out.select(sum(hash(col("name"), col("ts"), col("dval"))))
      .head().getLong(0) == checksum)
  }
}
