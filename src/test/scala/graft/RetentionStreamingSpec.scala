package graft

import graft.api.Requests
import graft.operators.Mutations
import graft.retention.Retention
import graft.retention.Retention.{Drop, Keep, Policy, PolicyItem}
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class RetentionSpec extends SparkSpec {

  // Mirrors config.txt:22-77 shape: keep /system/* a month at full res,
  // then daily LATEST; everything else dropped after an hour.
  private val policy = Policy(Seq(
    PolicyItem(Seq("/system/*"), Keep, maxAgeMs = 30L * 86400000L),
    PolicyItem(Seq("/system/*"), Keep, minAgeMs = 30L * 86400000L,
      mutations = Seq(Requests.Latest(86400000L))),
    PolicyItem(Nil, Keep, maxAgeMs = 3600000L),
    PolicyItem(Nil, Drop)))

  private val now = 100L * 86400000L

  test("first-match selection: age buckets pick the right policy") {
    import spark.implicits._
    val df = Seq(
      ("/system/cpu", now - 1000L),             // item 0 (fresh system)
      ("/system/cpu", now - 40L * 86400000L),   // item 1 (old system)
      ("/other/x", now - 1000L),                // item 2 (fresh other)
      ("/other/x", now - 2L * 86400000L))       // item 3 (old other -> DROP)
      .toDF("name", "ts")
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), lit(1.0).as("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val idx = df.select(col("name"), col("ts"),
        Retention.policyIndex(policy, now).as("i"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(idx(("/system/cpu", now - 1000L)) == 0)
    assert(idx(("/system/cpu", now - 40L * 86400000L)) == 1)
    assert(idx(("/other/x", now - 1000L)) == 2)
    assert(idx(("/other/x", now - 2L * 86400000L)) == 3)
  }

  test("apply: drops, keeps, and downsamples per policy") {
    import spark.implicits._
    val old = now - 40L * 86400000L
    val df = Seq(
      ("/system/cpu", now - 1000L, 1.0),
      ("/system/cpu", old, 5.0), ("/system/cpu", old + 1000L, 7.0),
      ("/other/x", now - 2L * 86400000L, 9.0))
      .toDF("name", "ts", "dval")
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val out = Retention.apply(df, policy, now)
      .select("ts", "dval").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    // fresh point kept verbatim; two old points LATEST-downsampled to one
    // (value 7.0 at the bucket's last input ts); /other dropped
    assert(out == Set((now - 1000L, 1.0), (old + 1000L, 7.0)))
  }

  test("ingest-time retention drop routes doomed points to the side output") {
    import spark.implicits._
    val p = Policy(Seq(
      PolicyItem(Seq("/keep/*"), Keep),
      PolicyItem(Seq("/old/*"), Drop, minAgeMs = 3600000L),
      PolicyItem(Seq("/old/*"), Keep)))
    val df = Seq(
      ("/keep/a", now - 1000L),              // kept
      ("/old/x", now - 2L * 3600000L),       // first match = DROP item
      ("/old/x", now - 1000L),               // fresh -> falls to KEEP item
      ("/unmatched/y", now - 1000L))         // no match -> default DROP
      .toDF("name", "ts")
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), lit(1.0).as("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val (ok, rej) = graft.api.Engine.add(df, "h1", now, policy = Some(p))
    assert(ok.select("name", "ts").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet ==
      Set(("/keep/a", now - 1000L), ("/old/x", now - 1000L)))
    val rejected = rej.select("name", "reject_reason").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rejected == Set(("/old/x", "retention drop"),
      ("/unmatched/y", "retention drop")))
  }

  test("no-match default is DROP") {
    import spark.implicits._
    val p = Policy(Seq(PolicyItem(Seq("/only/this"), Keep)))
    val df = Seq(("/something/else", 1000L)).toDF("name", "ts")
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), lit(1.0).as("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    assert(Retention.apply(df, p, now).count() == 0)
  }
}

class StreamingSpec extends SparkSpec {

  test("streaming uniform resample matches the batch resampler") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the golden series from counter_test.cc (via MutationsSpec)
    val pts = Seq(
      (0L, 100.0), (30L, 110.0), (60L, 115.0), (120L, 130.0),
      (180L, 140.0), (300L, 160.0), (310L, 161.0), (330L, 163.0))
      .map { case (t, v) => StreamIngest.InPoint("/s{h=1}", t * 1000, v) }
    val batch = Mutations.resampleUniform(
        graft.model.Point.withSeriesKey(series(
          pts.map(p => (p.ts, p.dval)), name = "/s", labels = Map("h" -> "1"))),
        60000L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq

    val mem = MemoryStream[StreamIngest.InPoint]
    // split across two micro-batches to exercise state carry-over;
    // drives uniformResampleStream end to end. Eviction disabled here:
    // ProcessingTimeTimeout makes Spark run a timer-check batch on
    // EVERY trigger, which with the default 0 ms test trigger is a busy
    // loop processAllAvailable never escapes — the eviction state
    // machine itself is covered by the TestGroupState spec below.
    val src = mem.toDF()
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val q = StreamIngest.uniformResampleStream(src, 60000L, idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("uni_out")
      .outputMode("append").start()
    mem.addData(pts.take(4))
    q.processAllAvailable()
    mem.addData(pts.drop(4))
    q.processAllAvailable()
    val streamed = spark.table("uni_out")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    q.stop()
    assert(streamed == batch)
  }

  test("streaming LTTB matches the batch op across micro-batches, flush on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 4 buckets of 10s with distinct shapes; the MutationsSpec golden
    // family, long enough that batch emits two selections pre-flush
    val raw = Seq(1L -> 0.0, 12L -> 1.0, 14L -> 10.0, 18L -> 2.0,
      25L -> 4.0, 27L -> 6.0, 33L -> 7.0, 38L -> 3.0, 45L -> 9.0)
      .map { case (t, v) => (t * 1000, v) }
    val op = new Mutations.LttbOp(10000L)
    val fed = raw.flatMap { case (t, v) => op.feed(t, v) } // pre-flush emissions
    val flushed = op.flush()

    val pts = raw.map { case (t, v) => StreamIngest.InPoint("/s{h=1}", t, v) }
    val mem = MemoryStream[StreamIngest.InPoint]
    val src = mem.toDF()
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val q = StreamIngest.lttbStream(src, 10000L, idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("lttb_out")
      .outputMode("append").start()
    mem.addData(pts.take(5))
    q.processAllAvailable()
    mem.addData(pts.drop(5))
    q.processAllAvailable()
    val streamed = spark.table("lttb_out")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    q.stop()
    assert(streamed == fed.sortBy(_._1),
      "pre-flush streaming emissions must equal the batch op's feed outputs")

    // timeout path: restore the final snapshot, fire the timeout, and
    // the trailing buckets must flush exactly like batch flush()
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val op2 = new Mutations.LttbOp(10000L)
    raw.foreach { case (t, v) => op2.feed(t, v) }
    val st = TestGroupState.create[Mutations.LttbSnap](
      Optional.of(op2.snapshot), GroupStateTimeout.ProcessingTimeTimeout(),
      1L, Optional.of(java.lang.Long.valueOf(0L)), hasTimedOut = true)
    val out = StreamIngest.resumeStep(() => new Mutations.LttbOp(10000L), 1000L)(
      "/s{h=1}", Iterator.empty, st).toList
    assert(out.map(o => (o.ts, o.dval)) == flushed.toList)
    assert(st.isRemoved)
  }

  test("streaming LTTB drops cross-batch stragglers behind the in-flight buckets") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val op = new Mutations.LttbOp(10000L)
    Seq(1000L -> 0.0, 12000L -> 1.0, 25000L -> 4.0).foreach {
      case (t, v) => op.feed(t, v) }
    val st = TestGroupState.create[Mutations.LttbSnap](
      Optional.of(op.snapshot), GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty(), hasTimedOut = false)
    // 5000 is behind the buffered 25000: dropped, state's buffers keep
    // their shape (no emission either — bucket 1 still awaits bucket 2's
    // completion)
    val out = StreamIngest.resumeStep(() => new Mutations.LttbOp(10000L), 0L)(
      "/s", Iterator(StreamIngest.InPoint("/s", 5000L, 99.0)), st).toList
    assert(out.isEmpty)
    assert(st.get.curTs == Seq(12000L) && st.get.nxtTs == Seq(25000L))
  }

  test("streaming anomaly z-scores are bit-equal to batch on random data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // 5 series, unique timestamps per series (ties would make the fold
    // order ambiguous between the two paths), occasional level shifts
    val pts = (0 until 5).flatMap { s =>
      var lvl = 100.0 * (s + 1)
      (0 until 60).map { i =>
        if (rnd.nextInt(10) == 0) lvl += 50.0
        StreamIngest.InPoint(s"/a{h=$s}", i * 7000L + rnd.nextInt(6999),
          lvl + rnd.nextGaussian())
      }
    }
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = Mutations.ewmZscore(
        graft.model.Point.withSeriesKey(pointDf(pts.toDF("skey", "ts", "dval"))),
        60000.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    val mem = MemoryStream[StreamIngest.InPoint]
    val q = StreamIngest.anomalyStream(pointDf(mem.toDF()), 60000.0,
        idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    // batches split mid-series in ts order: state must carry over
    pts.sortBy(_.ts).grouped(100).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    val streamed = spark.table("anom_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed.size == batch.size && streamed == batch)
  }

  test("streaming rate is bit-equal to the batch lag-window rate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    // counters with occasional resets (negative rates must drop on
    // both paths), unique ts per series
    val pts = (0 until 4).flatMap { s =>
      var v = 0.0
      (0 until 50).map { i =>
        v = if (rnd.nextInt(12) == 0) 0.0 else v + rnd.nextInt(100)
        StreamIngest.InPoint(s"/c{h=$s}", i * 5000L + rnd.nextInt(4999), v)
      }
    }
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = Mutations.rate(
        graft.model.Point.withSeriesKey(pointDf(pts.toDF("skey", "ts", "dval"))),
        perSecond = true)
      .select("skey", "ts", "dval")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = MemoryStream[StreamIngest.InPoint]
    val q = StreamIngest.rateStream(pointDf(mem.toDF()), idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    pts.sortBy(_.ts).grouped(70).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    val streamed = spark.table("rate_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming windowed mean matches batch byName on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("/w/a", 1000L, 1.0), ("/w/a", 4000L, 3.0),   // bucket 0: mean 2
      ("/w/a", 11000L, 5.0),                        // bucket 10000: mean 5
      ("/w/b", 2000L, 10.0), ("/w/b", 8000L, 30.0)) // bucket 0: mean 20
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = graft.operators.Aggregations.byName(
        graft.model.Point.withSeriesKey(pointDf(rows.toDF("name", "ts", "dval"))),
        graft.operators.Aggregations.Average, 10000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.windowedMeanByName(
        pointDf(mem.toDF().toDF("name", "ts", "dval")), 10000L)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    mem.addData(rows.take(3): _*)
    mem.addData(rows.drop(3): _*)
    // advance the watermark past all windows so append mode emits them
    mem.addData(("/w/flush", 10000000L, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("win_out")
      .filter(col("name") =!= "/w/flush")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming sliding-window mean matches batch slidingGrid on dense data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // dense at hop granularity (every 10 s bucket has a point) so the
    // batch and streaming emission sets coincide (see scaladoc)
    val rows = (0 until 12).map(i => ("/sl/a", i * 10000L + 500L, i.toDouble))
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = graft.operators.Mutations.slidingGrid(
        graft.model.Point.withSeriesKey(pointDf(rows.toDF("name", "ts", "dval"))),
        widthMs = 30000L, hopMs = 10000L, graft.operators.Aggregations.Average)
      .select(
        org.apache.spark.sql.functions.regexp_extract(col("skey"), "^([^{]+)", 1)
          .as("name"), col("ts"), col("dval"), col("n"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.windowedSlidingMeanByName(
        pointDf(mem.toDF().toDF("name", "ts", "dval")), 30000L, 10000L)
      .writeStream.format("memory").queryName("slide_out")
      .outputMode("append").start()
    mem.addData(rows.take(7): _*)
    mem.addData(rows.drop(7): _*)
    mem.addData(("/sl/flush", 100000000L, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("slide_out")
      .filter(col("name") =!= "/sl/flush")
      // batch emits only at observed buckets; drop streaming's extra
      // leading/trailing partial windows whose end-bucket is unobserved
      .filter(col("ts") >= 0L && col("ts") <= rows.map(_._2).max)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming byLabel windowed agg matches batch byLabel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("/w/a", "h1", 1000L, 1.0), ("/w/a", "h1", 4000L, 3.0), // (a,h1) b0: sum 4
      ("/w/a", "h2", 2000L, 5.0),                             // (a,h2) b0: sum 5
      ("/w/a", "h1", 11000L, 7.0),                            // (a,h1) b10000
      ("/w/b", "h1", 2000L, 10.0))                            // (b,h1) b0
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = graft.operators.Aggregations.byLabel(
        pointDf(rows.toDF("name", "host", "ts", "dval")),
        "host", graft.operators.Aggregations.Sum, 10000L,
        preserveConstantLabels = false)
      .select(col("name"), element_at(col("labels"), "host").as("h"),
        col("ts"), col("dval"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val mem = MemoryStream[(String, String, Long, Double)]
    val q = StreamIngest.windowedAggByLabel(
        pointDf(mem.toDF().toDF("name", "host", "ts", "dval")),
        "host", graft.operators.Aggregations.Sum, 10000L)
      .writeStream.format("memory").queryName("winlbl_out")
      .outputMode("append").start()
    mem.addData(rows.take(3): _*)
    mem.addData(rows.drop(3): _*)
    // advance the watermark past all windows so append mode emits them
    mem.addData(("/w/flush", "h9", 10000000L, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("winlbl_out")
      .filter(col("name") =!= "/w/flush")
      .select(col("name"), element_at(col("labels"), "host").as("h"),
        col("ts"), col("dval"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming exact median per window matches batch byName(Median)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // even and odd bucket sizes, duplicates, negatives — the upper
    // median bucket[n/2] must match the batch distributed median
    val rows = Seq(
      ("/md/a", 1000L, 5.0), ("/md/a", 2000L, 1.0),
      ("/md/a", 3000L, 9.0), ("/md/a", 4000L, 3.0),   // n=4: sorted(1,3,5,9) -> 5
      ("/md/a", 11000L, 2.0), ("/md/a", 12000L, 2.0),
      ("/md/a", 13000L, -7.0),                        // n=3: sorted(-7,2,2) -> 2
      ("/md/b", 1000L, 4.0))                          // n=1 -> 4
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val batch = graft.operators.Aggregations.byName(
        pointDf(rows.toDF("name", "ts", "dval")),
        graft.operators.Aggregations.Median, 10000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.windowedMedianByName(
        pointDf(mem.toDF().toDF("name", "ts", "dval")), 10000L)
      .writeStream.format("memory").queryName("med_out")
      .outputMode("append").start()
    mem.addData(rows.take(4): _*)
    mem.addData(rows.drop(4): _*)
    mem.addData(("/md/flush", 10000000L, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("med_out")
      .filter(col("name") =!= "/md/flush")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == batch)
    assert(streamed.contains(("/md/a", 0L, 5.0)) &&
      streamed.contains(("/md/a", 10000L, 2.0)) &&
      streamed.contains(("/md/b", 0L, 4.0)))
  }

  test("streaming byLabel preserves constant labels, matches batch on uniform data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // site derives from the name -> constant within every (name, host)
    // group both globally and per window; tier varies within EVERY
    // (/w/a, h1) window -> dropped everywhere (batch scopes constancy
    // to the whole frame, streaming to the window — data must agree
    // in both scopes for the equality half of this test)
    val rows = Seq(
      ("/w/a", "h1", "t1", 1000L, 1.0), ("/w/a", "h1", "t2", 4000L, 3.0),
      ("/w/a", "h2", "t1", 2000L, 5.0),
      ("/w/a", "h1", "t1", 11000L, 7.0), ("/w/a", "h1", "t2", 14000L, 2.0),
      ("/w/b", "h1", "t1", 2000L, 10.0))
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"),
        map(lit("host"), col("host"), lit("tier"), col("tier"),
          lit("site"), regexp_extract(col("name"), "^/w/(.*)$", 1)).as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), element_at(col("labels"), "host").as("h"),
        element_at(col("labels"), "site").as("site"),
        element_at(col("labels"), "tier").as("tier"),
        col("ts"), col("dval"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4), r.getDouble(5)))
      .toSet
    val batch = shape(graft.operators.Aggregations.byLabel(
      pointDf(rows.toDF("name", "host", "tier", "ts", "dval")),
      "host", graft.operators.Aggregations.Sum, 10000L,
      preserveConstantLabels = true))
    val mem = MemoryStream[(String, String, String, Long, Double)]
    val q = StreamIngest.windowedAggByLabel(
        pointDf(mem.toDF().toDF("name", "host", "tier", "ts", "dval")),
        "host", graft.operators.Aggregations.Sum, 10000L,
        preserveConstantLabels = true)
      .writeStream.format("memory").queryName("winlblp_out")
      .outputMode("append").start()
    mem.addData(rows.take(3): _*)
    mem.addData(rows.drop(3): _*)
    mem.addData(("/w/flush", "h9", "t9", 10000000L, 0.0))
    q.processAllAvailable()
    val streamed = shape(spark.table("winlblp_out")
      .filter(col("name") =!= "/w/flush"))
    q.stop()
    // single-valued-where-present labels survive (site), varying ones
    // drop (tier in the (/w/a, h1) first window); label constancy is
    // globally uniform here so per-window == whole-frame semantics
    assert(streamed == batch)
    assert(streamed.forall(_._3 != null), "site must be preserved")
    assert(streamed.exists { case (n, h, _, tier, ts, _) =>
      n == "/w/a" && h == "h1" && ts == 0L && tier.isEmpty },
      "tier varies within (/w/a, h1) window 0 and must be dropped")
  }

  test("session merge handles in-watermark out-of-order events across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.sessionizeStream(
        mem.toDF().toDF("key", "ts", "value"), 10000L,
        watermark = "1 hour") // generous: batch-2 events stay in-watermark
      .writeStream.format("memory").queryName("sess_ooo_out")
      .outputMode("append").start()
    mem.addData(("u1", 20000L, 1.0), ("u1", 25000L, 2.0))
    q.processAllAvailable()
    // batch 2, both in-watermark: 18000 is within the gap of the open
    // session's start (merges, LOWERING t_start); 1000 precedes it by
    // more than the gap (can never merge -> own singleton session);
    // the far-future event gap-splits and flushes the merged session
    mem.addData(("u1", 1000L, 5.0), ("u1", 18000L, 3.0),
      ("u1", 10000000L, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sess_ooo_out")
      .filter(col("t_start") < 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    assert(streamed == Set(
      ("u1", 1000L, 1000L, 1L, 5.0),
      ("u1", 18000L, 25000L, 3L, 6.0)))
  }

  test("rate stream drops out-of-order points instead of emitting ±Inf") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val mem = MemoryStream[StreamIngest.InPoint]
    val q = StreamIngest.rateStream(pointDf(mem.toDF()), idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("rate_ooo_out")
      .outputMode("append").start()
    mem.addData(StreamIngest.InPoint("/c", 10000L, 5.0),
      StreamIngest.InPoint("/c", 20000L, 15.0))
    q.processAllAvailable()
    // 15000 arrives after 20000 was processed: Δt < 0 — must be
    // dropped without rewinding the stored last point; a duplicate ts
    // (Δt = 0 → ±Inf) must drop too
    mem.addData(StreamIngest.InPoint("/c", 15000L, 100.0),
      StreamIngest.InPoint("/c", 20000L, 99.0),
      StreamIngest.InPoint("/c", 30000L, 25.0))
    q.processAllAvailable()
    val streamed = spark.table("rate_ooo_out")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == Set((20000L, 1.0), (30000L, 1.0)))
  }

  test("a string-valued point does not change the rate or uniform stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (ts, dval, sval): the string point carries no dval, like the
    // reference's string-valued samples, which the batch path skips
    val pts = Seq((0L, Some(10.0), None), (30000L, Some(40.0), None),
      (45000L, None, Some("down")), (60000L, Some(70.0), None),
      (150000L, Some(160.0), None))
    def stream(f: org.apache.spark.sql.DataFrame =>
                 org.apache.spark.sql.Dataset[StreamIngest.OutPoint],
               rows: Seq[(Long, Option[Double], Option[String])],
               table: String): Set[(Long, Double)] = {
      val mem = MemoryStream[(Long, Option[Double], Option[String])]
      val q = f(mem.toDF().toDF("ts", "dval", "sval")
          .select(lit("/n").as("name"), map().cast("map<string,string>").as("labels"),
            lit("GAUGE").as("value_type"), col("ts"), col("dval"), col("sval"),
            lit(null).cast("long").as("end_ts")))
        .writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      rows.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
      val out = spark.table(table)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      q.stop()
      out
    }
    val clean = pts.filter(_._2.isDefined)
    val rate = (df: org.apache.spark.sql.DataFrame) =>
      StreamIngest.rateStream(df, idleTimeoutMs = 0L)
    val uniform = (df: org.apache.spark.sql.DataFrame) =>
      StreamIngest.uniformResampleStream(df, 60000L, idleTimeoutMs = 0L)
    val rateClean = stream(rate, clean, "rate_clean_out")
    assert(rateClean.nonEmpty)
    assert(stream(rate, pts, "rate_sval_out") == rateClean)
    val uniformClean = stream(uniform, clean, "uni_clean_out")
    assert(uniformClean.nonEmpty)
    assert(stream(uniform, pts, "uni_sval_out") == uniformClean)
  }

  test("uniform stream drops a straggler from a later batch, like batch without it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = Mutations.resampleUniform(
        graft.model.Point.withSeriesKey(series(
          Seq(0L -> 100.0, 60000L -> 160.0, 180000L -> 280.0), name = "/u")),
        60000L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(batch.contains((120000L, 220.0)))
    val mem = MemoryStream[StreamIngest.InPoint]
    val q = StreamIngest.uniformResampleStream(mem.toDF()
        .select(col("skey").as("name"), map().cast("map<string,string>").as("labels"),
          lit("GAUGE").as("value_type"), col("ts"), col("dval"),
          lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts")),
        60000L, idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("uni_straggler_out")
      .outputMode("append").start()
    // the straggler at 30000 arrives after 60000 was fed: followed, it
    // would anchor the next interpolation (120000 reads 567.6)
    Seq(Seq(0L -> 100.0, 60000L -> 160.0), Seq(30000L -> 999.0),
        Seq(180000L -> 280.0)).foreach { b =>
      mem.addData(b.map { case (t, v) => StreamIngest.InPoint("/u", t, v) })
      q.processAllAvailable()
    }
    val streamed = spark.table("uni_straggler_out")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    q.stop()
    assert(streamed == batch)
  }

  test("anomaly stream skips out-of-order points without corrupting state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("skey").as("name"),
        map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val rnd = new scala.util.Random(13)
    val clean = (0 until 40).map(i =>
      StreamIngest.InPoint("/a", i * 5000L, 50.0 + rnd.nextGaussian()))
    // batch reference over the CLEAN ordered series only
    val batch = Mutations.ewmZscore(
        graft.model.Point.withSeriesKey(
          pointDf(clean.map(p => (p.skey, p.ts, p.dval))
            .toDF("skey", "ts", "dval"))),
        60000.0)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val mem = MemoryStream[StreamIngest.InPoint]
    val q = StreamIngest.anomalyStream(pointDf(mem.toDF()), 60000.0,
        idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("anom_ooo_out")
      .outputMode("append").start()
    mem.addData(clean.take(20): _*)
    q.processAllAvailable()
    // stragglers STRICTLY behind the stored last ts (95000): without
    // the monotonicity guard, the negative Δt makes α < 0 and the EWM
    // variance can go negative, corrupting every later z-score
    mem.addData(StreamIngest.InPoint("/a", 42000L, 500.0),
      StreamIngest.InPoint("/a", 94999L, -500.0))
    q.processAllAvailable()
    mem.addData(clean.drop(20): _*)
    q.processAllAvailable()
    val streamed = spark.table("anom_ooo_out")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming dedup drops re-seen keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamIngest.dedupStream(
        mem.toDF().toDF("content_hash", "ts"), Seq("content_hash"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(("h1", 1000L), ("h2", 2000L))
    q.processAllAvailable()
    mem.addData(("h1", 3000L), ("h3", 4000L)) // h1 re-seen -> dropped
    q.processAllAvailable()
    val out = spark.table("dedup_out").select("content_hash")
      .collect().map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(out == Seq("h1", "h2", "h3"))
  }

  test("streaming sessionization matches batch sessionize + stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // gap = 10s; u2 rides batch 1 — in batch 2 its ts
      // would be behind the watermark and (correctly) dropped as late
      ("u1", 1000L, 1.0), ("u1", 5000L, 2.0),    // session 1
      ("u2", 2000L, 10.0),                        // own session
      ("u1", 20000L, 3.0), ("u1", 25000L, 4.0))  // session 2 (15s gap)
    val batch = graft.operators.Sessions.sessionize(
        rows.toDF("key", "ts", "value"), col("key"), col("ts"), 10000L)
      .groupBy("key", "session")
      .agg(min("ts").as("t_start"), max("ts").as("t_end"),
        count(lit(1)).as("n_events"), sum("value").as("sum_val"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet

    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.sessionizeStream(
        mem.toDF().toDF("key", "ts", "value"), 10000L,
        watermark = "1 second")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*) // u1 gap splits mid-stream
    q.processAllAvailable()
    // advance the watermark past every open horizon so timeouts fire
    mem.addData(("uflush", 10000000L, 0.0))
    q.processAllAvailable()
    mem.addData(("uflush2", 20100000L, 0.0)) // closes uflush's session too
    q.processAllAvailable()
    val streamed = spark.table("sess_out")
      .filter(!col("key").startsWith("uflush"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming sessionization matches batch on random data across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(77)
    val rows = (0 until 240).map { i =>
      (s"u${rnd.nextInt(7)}", rnd.nextInt(500000).toLong, rnd.nextDouble()) }
      .distinctBy(r => (r._1, r._2))
      // global ts order, then chunked: every event in batch i+1 is >=
      // everything in batch i, so nothing ever lands behind the
      // watermark (which would be correctly-but-confusingly dropped)
      .sortBy(_._2)
    val batch = graft.operators.Sessions.sessionize(
        rows.toDF("key", "ts", "value"), col("key"), col("ts"), 20000L)
      .groupBy("key", "session")
      .agg(min("ts").as("t_start"), max("ts").as("t_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_val"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet

    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.sessionizeStream(
        mem.toDF().toDF("key", "ts", "value"), 20000L, watermark = "1 second")
      .writeStream.format("memory").queryName("sess_rand_out")
      .outputMode("append").start()
    rows.grouped(60).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    // two flush batches: advance the watermark past every horizon, then
    // fire the armed timeouts
    mem.addData(("uflush", 100000000L, 0.0)); q.processAllAvailable()
    mem.addData(("uflush2", 200100000L, 0.0)); q.processAllAvailable()
    val streamed = spark.table("sess_rand_out")
      .filter(!col("key").startsWith("uflush"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        math.rint(r.getDouble(4) * 1e6) / 1e6)).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming alert episodes match the batch rule on random data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val rows = (0 until 300).map { i =>
      (s"m${rnd.nextInt(4)}", rnd.nextInt(400000).toLong,
        rnd.nextDouble() * 100) }
      .distinctBy(r => (r._1, r._2)).sortBy(_._2)
    // batch rule: violations (> 60), gap 15s, episodes >= 20s long
    val batch = graft.operators.Sessions.sessionize(
        rows.toDF("key", "ts", "value").filter(col("value") > 60.0),
        col("key"), col("ts"), 15000L)
      .groupBy("key", "session")
      .agg(min("ts").as("t_start"), max("ts").as("t_end"),
        count(lit(1)).as("n_events"))
      .filter(col("t_end") - col("t_start") >= 20000L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.alertStream(
        mem.toDF().toDF("key", "ts", "value"), 60.0, 15000L, 20000L,
        watermark = "1 second")
      .writeStream.format("memory").queryName("alert_out")
      .outputMode("append").start()
    rows.grouped(75).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    mem.addData(("mflush", 100000000L, 1000.0)); q.processAllAvailable()
    mem.addData(("mflush2", 200100000L, 1000.0)); q.processAllAvailable()
    val streamed = spark.table("alert_out")
      .filter(!col("key").startsWith("mflush"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("config alert rule drives the live alert stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // LT rule from config text: value below 10 sustained >= 3 periods
    // (2 * 60000 ms span) on /al/* only
    val Seq(rule) = graft.config.StoreConfig.parse(
      """alert {
        |  variable { name: "/al/*" }
        |  sample_frequency: 60000
        |  condition: LT
        |  threshold: 10.0
        |  min_periods: 3
        |}""".stripMargin).alerts
    val mem = MemoryStream[(String, Long, Double)]
    def pointDf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    val q = StreamIngest.alertRuleStream(
        pointDf(mem.toDF().toDF("name", "ts", "dval")), rule,
        watermark = "1 second")
      .writeStream.format("memory").queryName("cfg_alert_out")
      .outputMode("append").start()
    // base offset keeps the first event ahead of the initial watermark
    // (a ts==0 row sits exactly on it and is dropped as late)
    val b = 600000L
    mem.addData( // 4 violating minutes, then recovery; /oth out of scope
      ("/al/x", b, 1.0), ("/al/x", b + 60000L, 2.0), ("/al/x", b + 120000L, 3.0),
      ("/al/x", b + 180000L, 4.0), ("/al/x", b + 240000L, 99.0),
      ("/oth/y", b, 1.0), ("/oth/y", b + 60000L, 1.0), ("/oth/y", b + 120000L, 1.0))
    q.processAllAvailable()
    mem.addData(("/al/flush", 100000000L, 0.0)); q.processAllAvailable()
    mem.addData(("/al/flush2", 200100000L, 0.0)); q.processAllAvailable()
    val eps = spark.table("cfg_alert_out")
      .filter(!col("key").startsWith("/al/flush"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    q.stop()
    assert(eps == Set(("/al/x", 600000L, 780000L, 4L)))
  }

  test("count-min grid streams in update mode, equal to the batch grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val words = Seq.fill(30)("alpha") ++ Seq.fill(12)("beta") ++
      Seq.fill(5)("gamma") ++ Seq("delta", "epsilon")
    val batch = graft.sketch.CountMin.cells(
        words.toDF("tok"), "tok", depth = 3, width = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[String]
    // update mode: the aggregation state IS the bounded d×w grid
    val q = graft.sketch.CountMin.cells(
        mem.toDF().toDF("tok"), "tok", depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("update").start()
    words.grouped(20).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    // update sink appends a row per changed cell per batch — the
    // LATEST row per (r, col) is the final counter
    val streamed = spark.table("cms_out")
      .groupBy("r", "col").agg(max("cell").as("cell"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("anomaly step processes duplicate timestamps like batch (α = 0)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // state with positive variance at ts=2000
    val s0 = graft.operators.Anomaly.S(m = 10.0, s2 = 4.0, prevTs = 2000L, n = 3L)
    val st = TestGroupState.create[graft.operators.Anomaly.S](
      Optional.of(s0), GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty(), hasTimedOut = false)
    val out = StreamIngest.resumeStep(() => new Mutations.EwmZscoreOp(60000.0), 0L)(
      "/a", Iterator(StreamIngest.InPoint("/a", 2000L, 16.0)), st).toList
    // duplicate ts: α = 0 leaves (m, s2) untouched, z = (16-10)/2 = 3
    assert(out == List(StreamIngest.OutPoint("/a", 2000L, 3.0)))
    assert(st.get.m == 10.0 && st.get.s2 == 4.0 && st.get.n == 4L)
    // strictly older: dropped, state untouched
    val out2 = StreamIngest.resumeStep(() => new Mutations.EwmZscoreOp(60000.0), 0L)(
      "/a", Iterator(StreamIngest.InPoint("/a", 1999L, 999.0)), st).toList
    assert(out2.isEmpty && st.get.prevTs == 2000L && st.get.n == 4L)
  }

  test("session interval merge: a bridged straggler joins, unbridged splits") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val step = StreamIngest.sessionStep(10000L) _
    // open session [20000, 25000]; batch delivers 5000, 12000, 40000:
    // 12000 bridges 5000 to the open session (5000→12000→20000 all
    // within gap) — batch semantics say ONE session [5000, 25000];
    // 40000 then gap-splits it closed and stays open
    val st = TestGroupState.create[StreamIngest.SessionState](
      Optional.of(StreamIngest.SessionState(20000L, 25000L, 2L, 3.0)),
      GroupStateTimeout.EventTimeTimeout(), 0L, Optional.of(500L),
      hasTimedOut = false)
    val out = step("u1", Iterator(
      StreamIngest.SessEvent("u1", 5000L, 1.0, new java.sql.Timestamp(5000L)),
      StreamIngest.SessEvent("u1", 12000L, 2.0, new java.sql.Timestamp(12000L)),
      StreamIngest.SessEvent("u1", 40000L, 4.0, new java.sql.Timestamp(40000L))).toSeq.iterator,
      st).toList
    assert(out == List(StreamIngest.SessionOut("u1", 5000L, 25000L, 4L, 6.0)))
    assert(st.get == StreamIngest.SessionState(40000L, 40000L, 1L, 4.0))
  }

  test("session state closes on event-time timeout and is removed") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val step = StreamIngest.sessionStep(10000L) _
    // open a session; timeout horizon = tEnd + gap
    val live = TestGroupState.create[StreamIngest.SessionState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout(),
      0L, Optional.of(500L), hasTimedOut = false)
    val emitted = step("u1", Iterator(
      StreamIngest.SessEvent("u1", 1000L, 1.0, new java.sql.Timestamp(1000L)),
      StreamIngest.SessEvent("u1", 4000L, 2.0, new java.sql.Timestamp(4000L))).toSeq.iterator, live).toList
    assert(emitted.isEmpty, "open session must not emit early")
    assert(live.exists && live.get ==
      StreamIngest.SessionState(1000L, 4000L, 2L, 3.0))
    assert(live.getTimeoutTimestampMs.isPresent &&
      live.getTimeoutTimestampMs.get == 14000L)
    // watermark passes the horizon: session emits, state removed
    val timedOut = TestGroupState.create[StreamIngest.SessionState](
      Optional.of(live.get), GroupStateTimeout.EventTimeTimeout(),
      0L, Optional.of(14001L), hasTimedOut = true)
    val closed = step("u1", Iterator.empty, timedOut).toList
    assert(closed == List(StreamIngest.SessionOut("u1", 1000L, 4000L, 2L, 3.0)))
    assert(timedOut.isRemoved, "closed session state must be evicted")
  }

  test("idle series state is evicted on timeout; a revived series re-anchors") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val step = StreamIngest.resumeStep(() => new Mutations.UniformOp(60000L), 3600000L) _
    // batch 1: two points arm the state and a processing-time timeout
    val live = TestGroupState.create[Mutations.UniformState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, Optional.empty(), hasTimedOut = false)
    step("/s{h=1}", Iterator(
      StreamIngest.InPoint("/s{h=1}", 0L, 100.0),
      StreamIngest.InPoint("/s{h=1}", 60000L, 160.0)).toSeq.iterator, live).toList
    assert(live.exists, "state must persist for a live series")
    assert(live.getTimeoutTimestampMs.isPresent &&
      live.getTimeoutTimestampMs.get == 1000L + 3600000L)
    // timeout fires with no new data: state must be REMOVED
    val timedOut = TestGroupState.create[Mutations.UniformState](
      Optional.of(live.get), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L + 3600001L, Optional.empty(), hasTimedOut = true)
    assert(step("/s{h=1}", Iterator.empty, timedOut).isEmpty)
    assert(timedOut.isRemoved, "idle state must be evicted")
    // revival: fresh state, resampler re-anchors at the new first point
    val revived = TestGroupState.create[Mutations.UniformState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L + 7200000L, Optional.empty(), hasTimedOut = false)
    step("/s{h=1}", Iterator(
      StreamIngest.InPoint("/s{h=1}", 7200000L, 500.0)).toSeq.iterator, revived).toList
    assert(revived.exists && revived.get.base == 7200000L,
      "revived series must re-anchor from its first new point")
  }

  test("file-source ingest sinks validated points with checkpointing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"; val store = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
    val df = Seq(
      ("/ok/a", 1000L, 1.0), ("bad name", 2000L, 2.0))
      .toDF("name", "ts", "dval")
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
    df.write.parquet(src)
    val q = StreamIngest.ingest(spark, src, store, ckpt, hostname = "h9")
    q.awaitTermination(60000)
    val out = spark.read.parquet(store)
    assert(out.count() == 1)
    val r = out.select("name", "labels").head()
    assert(r.getString(0) == "/ok/a")
    assert(r.getMap[String, String](1).get("hostname").contains("h9"))
  }

  test("frozen classifier model scores a stream identically to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Train batch (stream-static: training aggregates never run on the
    // stream), then score arriving documents with the frozen model —
    // score() is a pure projection, so it is directly streamable.
    val docs = Seq(
      (0L, "the house is on the hill with a quiet mouse", "en"),
      (1L, "zzgrk bbfff qqqpx", "xx"),
      (2L, "another sentence with the usual things in it", "en"),
      (3L, "kkjjhh zzxxcc vvbbnn mmllpp", "xx"),
      (4L, "where the water meets the shore there it is", "en"),
      (5L, "tt rr ss qq pp oo", "xx"))
      .toDF("doc_id", "text", "lang")
    val model = graft.text.Classifier.train(
      docs, when(col("lang") === "en", 1.0).otherwise(0.0))
    val batch = graft.text.Classifier.score(docs, model)
      .collect().map(_.toString).sorted.toSeq

    val mem = MemoryStream[(Long, String)]
    val scored = graft.text.Classifier.score(
      mem.toDF().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("cls_out")
      .outputMode("append").start()
    mem.addData(Seq(0L, 1L, 2L).map(i =>
      (i, docs.where(col("doc_id") === i).head().getString(1))))
    q.processAllAvailable()
    mem.addData(Seq(3L, 4L, 5L).map(i =>
      (i, docs.where(col("doc_id") === i).head().getString(1))))
    q.processAllAvailable()
    val streamed = spark.table("cls_out").collect().map(_.toString).sorted.toSeq
    q.stop()
    assert(streamed == batch)
  }

  test("scoreFollow: live curation stream, 3 micro-batches, mid-stream " +
       "model freeze via checkpoint restart") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_follow").toString
    val src = s"$base/drops"; val out = s"$base/scored"; val ckpt = s"$base/ckpt"
    val en = Seq(
      0L -> "the house is on the hill with a quiet mouse",
      2L -> "another sentence with the usual things in it",
      4L -> "where the water meets the shore there it is")
    val xx = Seq(
      1L -> "zzgrk bbfff qqqpx",
      3L -> "kkjjhh zzxxcc vvbbnn mmllpp",
      5L -> "tt rr ss qq pp oo")
    def drop(ids: Seq[(Long, String)]): Unit =
      ids.toDF("doc_id", "text").write.mode("append").parquet(src)
    def docsDf(ids: Seq[(Long, String)]) = ids.toDF("doc_id", "text")
    // model A: trained on the first two drops' worth of docs, frozen
    val trainDocs = docsDf(en.take(2) ++ xx.take(2))
    val modelA = graft.text.Classifier.train(trainDocs,
      when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0))
    val gate = 0.5
    def start(m: graft.text.Classifier.Model) =
      graft.text.Classifier.scoreFollow(spark, src, m,
          minScore = Some(gate))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    // micro-batch 1 and 2 under the frozen model A
    drop(Seq(en(0), xx(0)))
    val q1 = start(modelA)
    q1.processAllAvailable()
    drop(Seq(en(1), xx(1)))
    q1.processAllAvailable()
    q1.stop()
    // mid-stream freeze of a refreshed model (trained on everything
    // seen so far), restart against the SAME checkpoint: the file-log
    // guarantees drops 1-2 are not re-scored
    val modelB = graft.text.Classifier.train(
      docsDf(en.take(2) ++ xx.take(2)),
      when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0), iters = 12)
    val q2 = start(modelB)
    drop(Seq(en(2), xx(2)))
    q2.processAllAvailable()
    q2.stop()
    // parity: each doc carries the score of the model live at arrival
    val expectA = graft.text.Classifier
      .score(docsDf(en.take(2) ++ xx.take(2)), modelA)
      .filter(col("score") >= gate).collect().map(_.toString).sorted.toSeq
    val expectB = graft.text.Classifier
      .score(docsDf(Seq(en(2), xx(2))), modelB)
      .filter(col("score") >= gate).collect().map(_.toString).sorted.toSeq
    val got = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(got == (expectA ++ expectB).sorted,
      s"streamed curation gate must equal piecewise batch scores:\n" +
        s"got $got\nexp ${(expectA ++ expectB).sorted}")
    // and the gate actually gated: some doc fell below the threshold
    assert(got.size < 6, "the classifier-min gate should drop low scores")
  }
}
