package graft

import graft.cli.Cli
import graft.http.StoreHttpServer
import graft.model.{Point, Variable}
import graft.sources.PointSource
import graft.wire.Rpc
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the at-rest point layout of every batch writer — each data file
  * sits under `date=`, carries exactly [[Point.columns]] and holds its
  * rows sorted by (name, ts) — and the refusal of every batch rewrite on
  * a store the streaming sink wrote. */
class PointLayoutSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Seven series over five days of minutes, in an order no sort by
    * (name, ts) produces. */
  private def shuffled(): DataFrame =
    spark.range(6000).select(
        concat(lit("/l/"), (col("id") % 7).cast("string")).as("name"),
        map(lit("host"), (col("id") % 3).cast("string")).as("labels"),
        lit(Variable.Gauge).as("value_type"),
        (lit(1704067200000L) + col("id") * 60000L).as("ts"),
        col("id").cast("double").as("dval"),
        lit(null).cast("string").as("sval"),
        lit(null).cast("long").as("end_ts"))
      .repartition(7, rand(11))

  /** Every way `store` departs from the layout; empty when it holds it. */
  private def layoutFaults(store: String): Seq[String] = {
    val files = fs(store).listFiles(new Path(store), true)
    val data = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet")).toSeq
    if (data.isEmpty) Seq(s"$store holds no data file")
    else data.flatMap { f =>
      val df = spark.read.parquet(f.toString)
      val keys = df.select("name", "ts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      Seq(
        Option.when(!f.getParent.getName.startsWith("date="))(s"$f is not under date="),
        Option.when(df.columns.toSeq != Point.columns)(
          s"$f columns: ${df.columns.mkString(",")}"),
        Option.when(keys != keys.sorted)(s"$f rows are not sorted by (name, ts)"))
    }.flatten
  }

  test("every batch writer lands date-partitioned files sorted by (name, ts)") {
    import graft.retention.Retention
    val base = tmpDir("graft_point_layout")
    val in = shuffled()
    val n = in.count()
    val stores = Seq.newBuilder[(String, String, Long)] // (writer, store, points)

    PointSource.write(in, s"$base/write")
    stores += (("write", s"$base/write", n))

    // many unsorted small files per day, the shape compaction exists for
    in.withColumn("date", PointSource.dayOf(col("ts")))
      .write.partitionBy("date").parquet(s"$base/compact")
    PointSource.compact(spark, s"$base/compact")
    stores += (("compact", s"$base/compact", n))

    val dropped = in.select("name").head().getString(0)
    PointSource.write(in, s"$base/sweep")
    val maxTs = in.agg(max("ts")).head().getLong(0)
    assert(PointSource.retentionSweep(spark, s"$base/sweep", Retention.Policy(Seq(
        Retention.PolicyItem(Seq(dropped), Retention.Drop),
        Retention.PolicyItem(Seq("*"), Retention.Keep))), maxTs + 1L).nonEmpty)
    stores += (("retentionSweep", s"$base/sweep", n - in.filter(col("name") === dropped).count()))

    val srv = new StoreHttpServer(spark, s"$base/add", nowMs = () => 100000L).start()
    try {
      val body = Rpc.encodeAddRequest(Seq("/l/b", "/l/a", "/l/c").map(name =>
        Rpc.Stream(Variable(name, Map("host" -> "h"), Variable.Gauge),
          Seq(3000L, 1000L, 2000L).map(ts => (ts, Some(ts / 1000.0), None, None)))))
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/add"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
          java.util.Base64.getEncoder.encode(body))).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding())
      assert(resp.statusCode() == 200, s"/add -> ${resp.statusCode()}")
    } finally srv.stop()
    stores += (("/add", s"$base/add", 9L))

    assert(Cli.runAdd(spark, s"$base/cli_add",
      Seq("/c/b:1@3000", "/c/a:2@2000", "/c/b:3@1000", "/c/a:4@86401000"),
      nowMs = 100000000L) == 4)
    stores += (("CLI add", s"$base/cli_add", 4L))

    val collected = Cli.runCollect(spark, s"$base/cli_collect")
    assert(collected > 0)
    stores += (("CLI collect", s"$base/cli_collect", collected))

    val faults = stores.result().flatMap { case (writer, store, points) =>
      val read = PointSource.read(spark, store).count()
      layoutFaults(store).map(f => s"$writer: $f") ++
        Option.when(read != points)(s"$writer: read $read points, wrote $points")
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("compact, CLI sweep and ageIntoGorilla refuse a sink store, naming its sink log") {
    val tmp = tmpDir("graft_sink_rewrite")
    val (src, store) = (s"$tmp/src", s"$tmp/store")
    val day = 86400000L
    val t0 = 1704067200000L // 2024-01-01
    series(Seq(t0 + 1000L -> 1.0, t0 + day + 1000L -> 2.0), name = "/sink/a")
      .unionByName(series(Seq(t0 + 2000L -> 3.0), name = "/sink/b"))
      .write.parquet(src)
    val q = graft.streaming.StreamIngest.ingest(spark, src, store, s"$tmp/ckpt")
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception)
    assert(PointSource.read(spark, store).count() == 3)
    val cfg = java.nio.file.Paths.get(tmp, "config.txt")
    java.nio.file.Files.writeString(cfg,
      """retention_policy {
        |  policy {
        |    variable { name: "*" }
        |    policy: DROP
        |    min_age: 86400000
        |  }
        |}""".stripMargin)
    val now = t0 + 30 * day
    for ((who, rewrite) <- Seq[(String, () => Any)](
        "compact" -> (() => PointSource.compact(spark, store)),
        "retention sweep" -> (() =>
          Cli.runSweep(spark, store, Seq(s"config=$cfg", s"now=$now"))),
        "ageIntoGorilla" -> (() => PointSource.ageIntoGorilla(spark, store,
          s"$tmp/cold", olderThanMs = day, nowMs = now)))) {
      val err = intercept[IllegalArgumentException](rewrite()).getMessage
      assert(err.contains(who) && err.contains(s"$store/_spark_metadata"), err)
      // refused before any side effect: every ingested point still reads
      assert(PointSource.read(spark, store).count() == 3, who)
    }
    assert(!fs(tmp).exists(new Path(s"$tmp/cold")))
  }

  test("readTiered over a sink store returns hot and cold points exactly once") {
    val tmp = tmpDir("graft_sink_tiered")
    val (src, store, cold) = (s"$tmp/src", s"$tmp/store", s"$tmp/cold")
    val day = 86400000L
    val t0 = 1704067200000L // 2024-01-01
    val host = Map("hostname" -> "h1")
    // hot, through the streaming sink: two days, the second one shared
    // with the cold tier
    series(Seq(t0 + 1000L -> 1.0, t0 + day + 1000L -> 2.0), "/tier/a", host)
      .unionByName(series(Seq(t0 + day + 2000L -> 3.0), "/tier/b", host))
      .write.parquet(src)
    val q = graft.streaming.StreamIngest.ingest(spark, src, store, s"$tmp/ckpt")
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception)
    assert(fs(tmp).exists(new Path(s"$store/_spark_metadata")))
    // cold: a day only it holds, plus the shared day with one point the
    // hot tier also holds (aging residue) and one it does not
    PointSource.writeGorilla(Point.withSeriesKey(
      series(Seq(t0 + day + 1000L -> 2.0), "/tier/a", host)
        .unionByName(series(Seq(t0 - day + 5000L -> 4.0, t0 + day + 3000L -> 5.0),
          "/tier/c", host))), cold)
    val rows = PointSource.readTiered(spark, store, cold)
      .select(col("name"), col("labels")("hostname"), col("ts"), col("dval"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._3)).toSeq
    assert(rows == Seq(
      ("/tier/a", "h1", t0 + 1000L, 1.0),
      ("/tier/a", "h1", t0 + day + 1000L, 2.0),
      ("/tier/b", "h1", t0 + day + 2000L, 3.0),
      ("/tier/c", "h1", t0 - day + 5000L, 4.0),
      ("/tier/c", "h1", t0 + day + 3000L, 5.0)))
  }

  test("the point layout and its day rule are spelled only in PointSource") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, main.getAbsolutePath)
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val spellings = Seq("partitionBy(\"date\")", "to_date(timestamp_millis(")
    val outside = scala(main).filter(_.getName != "PointSource.scala").flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      spellings.filter(text.contains).map(s => s"${f.getPath}: $s")
    }
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("no name column chunk written by PointSource.write carries a bloom filter") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val store = tmpDir("graft_point_bloom") + "/s"
    // without dictionary encoding parquet writes a bloom filter for any
    // column the write enables one on, so the check cannot pass by
    // way of the dictionary
    spark.conf.set("parquet.enable.dictionary", "false")
    try PointSource.write(shuffled(), store)
    finally spark.conf.unset("parquet.enable.dictionary")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs(store).listFiles(new Path(store), true)
    val data = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(data.nonEmpty)
    val chunks = data.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "name").map(f -> _.getBloomFilterOffset)
      finally r.close()
    }
    assert(chunks.nonEmpty)
    assert(chunks.forall(_._2 < 0), chunks.filter(_._2 >= 0).mkString("\n"))
  }
}
