package graft

import graft.cli.Cli
import graft.sources.PointSource
import org.apache.spark.sql.functions._

class CliSpec extends SparkSpec {

  test("duration grammar (lib/timer.h:178-194)") {
    assert(Cli.parseDuration("5m") == 300000L)
    assert(Cli.parseDuration("1h") == 3600000L)
    assert(Cli.parseDuration("12h") == 43200000L)
    assert(Cli.parseDuration("300s") == 300000L)
    assert(Cli.parseDuration("250ms") == 250L)
    assert(Cli.parseDuration("2d") == 172800000L)
    intercept[IllegalArgumentException](Cli.parseDuration("x5m"))
  }

  test("get argument language compiles to the right request") {
    val req = Cli.parseGet("/sys/cpu{host=*}",
      Seq("rate", "mean=5m", "agg=sum", "interval=30s", "aggregate=host",
        "max_values=10"))
    assert(req.mutations.length == 2)
    assert(req.aggregations.exists(a =>
      a.labels == Seq("host") && a.sampleIntervalMs == 30000L))
    assert(req.maxValues.contains(10))
  }

  test("get args: ewma and anomaly mutations parse with durations") {
    val req = Cli.parseGet("/sys/cpu", Seq("ewma=10m", "anomaly=1h"))
    assert(req.mutations == Seq(
      graft.api.Requests.Ewma(600000L), graft.api.Requests.Anomaly(3600000L)))
  }

  test("get args: lttb downsample mutation parses with a duration bucket") {
    assert(Cli.parseGet("/sys/cpu", Seq("lttb=1d")).mutations ==
      Seq(graft.api.Requests.Lttb(86400000L)))
  }

  test("get args: rle flag selects the RLE output encoding") {
    val req = Cli.parseGet("/sys/cpu", Seq("interpolate=1h", "rle"))
    assert(req.rleOutput &&
      req.mutations == Seq(graft.api.Requests.Interpolate(3600000L)))
    assert(!Cli.parseGet("/sys/cpu", Seq("interpolate=1h")).rleOutput)
  }

  test("get args: holt and sliding mutations parse (sliding takes the current agg)") {
    val req = Cli.parseGet("/sys/cpu",
      Seq("holt=10m:30m", "agg=max", "sliding=6h:1h"))
    assert(req.mutations == Seq(
      graft.api.Requests.Holt(600000L, 1800000L),
      graft.api.Requests.Sliding(21600000L, 3600000L,
        graft.operators.Aggregations.Max)))
    intercept[IllegalArgumentException](
      Cli.parseGet("/sys/cpu", Seq("holt=10m")))
    intercept[IllegalArgumentException](
      Cli.parseGet("/sys/cpu", Seq("sliding=6h")))
  }

  test("get args: repeated aggregates, auto_rate, independent") {
    val req = Cli.parseGet("/sys/cpu", Seq(
      "mean=5m", "max=5m", "independent", "auto_rate",
      "agg=sum", "aggregate=name", "agg=avg", "interval=1m", "aggregate=host"))
    assert(!req.chainMutations && req.autoRate)
    assert(req.aggregations.map(a => (a.agg, a.labels)) == Seq(
      (graft.operators.Aggregations.Sum, Nil),
      (graft.operators.Aggregations.Average, Seq("host"))))
    assert(req.aggregations(1).sampleIntervalMs == 60000L)
  }

  test("alerts args: ad-hoc rule from alert= flag, rules from config=") {
    val r = Cli.parseAlerts(Seq("/sys/load*", "alert=0.9", "min_periods=2",
      "interval=1h", "agg=max", "condition=GE"))
    assert(r == Seq(graft.operators.Alerts.AlertRule(
      patterns = Seq("/sys/load*"),
      agg = graft.operators.Aggregations.Max,
      intervalMs = 3600000L,
      condition = graft.operators.Alerts.Ge,
      threshold = 0.9, minPeriods = 2, comment = "cli rule on /sys/load*")))
    intercept[IllegalArgumentException](Cli.parseAlerts(Seq("/sys/load")))
    // a labeled pattern contains '=' but is NOT a flag — it must stay
    // the pattern, not be swallowed into the option map leaving "*"
    val labeled = Cli.parseAlerts(Seq("/sys/load{host=web1}", "alert=0.9"))
    assert(labeled.head.patterns == Seq("/sys/load{host=web1}"))
    // pattern position is free; a second non-flag arg fails loudly
    assert(Cli.parseAlerts(Seq("alert=5", "/m/cpu")).head.patterns == Seq("/m/cpu"))
    intercept[IllegalArgumentException](
      Cli.parseAlerts(Seq("/m/cpu", "alert=5", "min_period=3"))) // typo'd flag
    // config rules carry their own patterns: a stray pattern arg errors
    val cfg2 = java.nio.file.Files.createTempFile("alerts2", ".txt")
    java.nio.file.Files.write(cfg2, SparkEntry.AlertConfigText.getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      Cli.parseAlerts(Seq(s"config=$cfg2", "/m/cpu")))
    val cfg = java.nio.file.Files.createTempFile("alerts", ".txt")
    java.nio.file.Files.write(cfg, SparkEntry.AlertConfigText.getBytes("UTF-8"))
    val fromFile = Cli.parseAlerts(Seq(s"config=$cfg"))
    assert(fromFile.map(a => (a.threshold, a.minPeriods)) == Seq((62.0, 3)))
    // ...and so does an ad-hoc shaping flag: config rules carry their
    // own thresholds, a combined config=+alert= would silently drop
    // the alert= threshold
    intercept[IllegalArgumentException](
      Cli.parseAlerts(Seq(s"config=$cfg", "alert=0.9")))
    // median is a legal batch aggregation from the CLI too
    assert(Cli.parseAlerts(Seq("alert=1", "agg=median")).head.agg ==
      graft.operators.Aggregations.Median)
  }

  test("alerts follow=: live episode stream from a watched directory") {
    // GT 50 sustained >= 3 one-minute periods on /al/* only
    val cfg = java.nio.file.Files.createTempFile("follow_cfg", ".txt")
    java.nio.file.Files.write(cfg,
      """alert {
        |  variable { name: "/al/*" }
        |  sample_frequency: 60000
        |  condition: GT
        |  threshold: 50.0
        |  min_periods: 3
        |  comment: "hot"
        |}""".stripMargin.getBytes("UTF-8"))
    val watch = java.nio.file.Files.createTempDirectory("follow_src").toString
    val b = 600000L // keep the first event ahead of the initial watermark
    series((0 to 3).map(i => (b + i * 60000L, 99.0)) :+ ((b + 240000L, 1.0)),
        name = "/al/x")
      .unionByName(series(Seq((b, 99.0), (b + 60000L, 99.0)), name = "/oth/y"))
      .write.parquet(s"$watch/batch1")
    val out = Cli.alertsFollow(spark,
      Seq(s"config=$cfg", s"follow=$watch/batch1", "watermark=1s"))
    val q = out.writeStream.format("memory").queryName("cli_follow_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark past the episode horizon with flush rows
    // (two batches: timeouts fire against the END-of-batch watermark;
    // the rows must VIOLATE the rule — non-violating points are
    // filtered before the watermark operator and cannot advance it)
    series(Seq((100000000L, 99.0)), name = "/al/flush")
      .write.mode("append").parquet(s"$watch/batch1")
    q.processAllAvailable()
    series(Seq((200100000L, 99.0)), name = "/al/flush2")
      .write.mode("append").parquet(s"$watch/batch1")
    q.processAllAvailable()
    val eps = spark.table("cli_follow_out")
      .filter(!col("key").startsWith("/al/flush"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(r.fieldIndex("rule_id")),
        r.getString(r.fieldIndex("rule")))).toSet
    q.stop()
    // /al/x violates for 4 periods then recovers; /oth/y is out of scope
    assert(eps == Set(("/al/x", b, b + 180000L, 4L, 0, "hot")))
  }

  test("alerts end-to-end: threshold episodes from a store") {
    val store = java.nio.file.Files.createTempDirectory("graft_alert").toString + "/s"
    // 4 consecutive violating minutes, a gap, then a single violation
    Cli.runAdd(spark, store,
      (0 until 4).map(i => s"/al/x:9@${i * 60000}") ++
        Seq("/al/x:1@300000", "/al/x:9@600000"),
      nowMs = 1000000L)
    val eps = Cli.run(spark, store, Seq("alerts", "/al/*", "alert=5",
        "min_periods=3", "interval=1m"))
      .select("t_start", "t_end", "n_periods").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(eps == Seq((0L, 180000L, 4L)))
  }

  test("sweep: config-driven retention runner rewrites the aged store") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_sweep")
    val store = base.toString + "/s"
    val day = 86400000L
    val t0 = 1704067200000L // 2024-01-01
    val now = t0 + 30 * day
    Cli.runAdd(spark, store, Seq(
      s"/sw/a:1@${t0 + 1000}", s"/sw/a:2@${t0 + 3600000}",
      s"/sw/b:9@${t0 + 1000}",
      s"/sw/a:4@${t0 + 29 * day}"), nowMs = now)
    val cfg = base.resolve("config.txt")
    java.nio.file.Files.writeString(cfg,
      """retention_policy {
        |  policy {
        |    variable { name: "/sw/a" }
        |    policy: KEEP
        |    max_age: 604800000
        |  }
        |  policy {
        |    variable { name: "/sw/a" }
        |    policy: KEEP
        |    min_age: 604800000
        |    mutation {
        |      sample_type: LATEST
        |      sample_frequency: 86400000
        |    }
        |  }
        |  policy {
        |    variable { name: "*" }
        |    policy: DROP
        |    min_age: 604800000
        |  }
        |}""".stripMargin)
    val swept = Cli.runSweep(spark, store,
      Seq(s"config=$cfg", s"now=$now"))
    assert(swept == Seq("2024-01-01"))
    val out = graft.sources.PointSource.read(spark, store)
      .select("name", "ts", "dval").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("/sw/a", t0 + 3600000, 2.0), // daily LATEST of the aged day
      ("/sw/a", t0 + 29 * day, 4.0))) // young day untouched; /sw/b dropped
  }

  test("end-to-end: add, get with mutation, list against a store") {
    val store = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/s"
    val added = Cli.runAdd(spark, store, Seq(
      "/cli/counter{host=a}:10@1000", "/cli/counter{host=a}:30@2000",
      "/cli/counter{host=a}:60@3000", "/cli/other:5@1000"),
      nowMs = 10000L)
    assert(added == 4)
    val got = Cli.run(spark, store,
      Seq("get", "/cli/counter{host=a}", "rate"))
      .select("ts", "dval").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((2000L, 20.0), (3000L, 30.0)))
    val listed = Cli.run(spark, store, Seq("list", "/cli/*", "max_age=1y"),
      nowMs = 10000L)
    assert(listed.count() == 2)
  }

  test("add and collect refuse a store written by the streaming sink, naming its sink log") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_sink").toString
    val (src, store) = (s"$tmp/src", s"$tmp/store")
    series(Seq(1000L -> 1.0), name = "/cli/sunk").write.parquet(src)
    val q = graft.streaming.StreamIngest.ingest(spark, src, store, s"$tmp/ckpt")
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception)
    for ((verb, write) <- Seq[(String, () => Long)](
        "CLI add" -> (() => Cli.runAdd(spark, store, Seq("/cli/added:2@2000"), nowMs = 10000L)),
        "CLI collect" -> (() => Cli.runCollect(spark, store)))) {
      val err = intercept[IllegalArgumentException](write()).getMessage
      assert(err.contains(verb) && err.contains(s"$store/_spark_metadata"), err)
    }
    // nothing was appended behind the sink log: the sink's point alone
    assert(PointSource.read(spark, store).count() == 1)
  }

  test("export verb: store -> record files round-trips, pattern-scoped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_exp").toString
    val store = s"$dir/store"
    Cli.runAdd(spark, store, Seq(
      "/exp/a{host=x}:1@1000", "/exp/a{host=x}:2@2000",
      "/exp/a{host=y}:3@1000", "/exp/b:4@1000"), nowMs = 10000L)
    // full export: every point round-trips through the framed files
    assert(Cli.runExport(spark, store, s"$dir/all", None) == 4)
    val back = graft.sources.ProtoRecordV2.read(spark, s"$dir/all")
    assert(back.count() == 4)
    assert(back.select("name").distinct().count() == 2)
    // pattern-scoped export uses the get grammar
    assert(Cli.runExport(spark, store, s"$dir/ax",
      Some("/exp/a{host=x}")) == 2)
  }
}
