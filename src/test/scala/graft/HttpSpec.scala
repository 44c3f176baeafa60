package graft

import graft.api.{Engine, Requests}
import graft.http.StoreHttpServer
import graft.model.Variable
import graft.operators.Aggregations
import graft.wire.Rpc
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.Base64
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Wire-compatibility: a "reference client" (our codec doubling as one)
  * drives add/get/list over HTTP+base64-protobuf. */
class HttpSpec extends SparkSpec {

  private def postRaw(port: Int, path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        Base64.getEncoder.encode(body)))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), Base64.getMimeDecoder.decode(resp.body()))
  }

  private def post(port: Int, path: String, body: Array[Byte]): Array[Byte] = {
    val (code, bytes) = postRaw(port, path, body)
    assert(code == 200, s"$path -> $code")
    bytes
  }

  /** Runs `body`, then returns the Spark jobs it started and the
    * executed plans of the `collect` actions it ran. A marker job
    * before and after drains the listener bus, so the count holds
    * exactly the jobs started in between. */
  private def observe(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = "graft.spec.drain"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.LinkedBlockingQueue[Integer]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) drained.put(jobs.get)
        else jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Int = {
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      drained.poll(60, java.util.concurrent.TimeUnit.SECONDS).intValue
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val before = drain()
      plans.clear()
      body
      (drain() - before, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  /** A store of one point on each of three UTC days, 01:00 each day. */
  private def threeDayStore(name: String): String = {
    val store = java.nio.file.Files.createTempDirectory("graft_http_days").toString + "/s"
    graft.sources.PointSource.write(series(
      Seq(0L, 1L, 2L).map(d => (d * Day + Hour) -> d.toDouble),
      name = name, labels = Map("host" -> "a")), store)
    store
  }
  private val Hour = 3600000L
  private val Day = 24 * Hour

  private def values(port: Int, req: Requests.GetRequest): Seq[(Long, Option[Double])] = {
    val (ok, err, streams) = Rpc.decodeGetResponse(post(port, "/get", Rpc.encodeGetRequest(req)))
    assert(ok, err.toString)
    streams.flatMap(_.values.map(v => (v._1, v._2)))
  }

  /** The `parquet relations` row of /status: (entries, hits, misses). */
  private def relationRow(port: Int): (Int, Long, Long) = {
    val body = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/status")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    val row = "(?s).*<tr><td>parquet relations</td><td>(\\d+)</td><td>(\\d+)</td><td>(\\d+)</td></tr>.*".r
    body match { case row(n, h, m) => (n.toInt, h.toLong, m.toLong) }
  }

  test("a ranged /get prunes date partitions; uint64-max and Long.MaxValue bounds serve every row") {
    val store = threeDayStore("/http/days")
    val srv = new StoreHttpServer(spark, store, nowMs = () => 3 * Day).start()
    try {
      val all = Requests.GetRequest("/http/days{host=a}")
      val (_, plans) = observe {
        assert(values(srv.boundPort, all.copy(minTimestamp = Some(Day),
          maxTimestamp = Some(Day + 2 * Hour))) == Seq((Day + Hour, Some(1.0))))
      }
      val plan = plans.find(_.contains(store)).getOrElse(fail(plans.mkString("\n")))
      assert("PartitionFilters: \\[[^\\]]*date[^\\]]*\\]".r.findFirstIn(plan).nonEmpty,
        s"a ranged /get must prune date partitions:\n$plan")
      val unbounded = values(srv.boundPort, all)
      assert(unbounded.length == 3)
      // -1 encodes as the 10-byte varint of uint64-max
      for (hi <- Seq(-1L, Long.MaxValue))
        assert(values(srv.boundPort, all.copy(maxTimestamp = Some(hi))) == unbounded,
          s"max_timestamp $hi")
    } finally srv.stop()
  }

  test("warm /get and /list each run one Spark job, both off the held relation") {
    val store = threeDayStore("/http/warm")
    val srv = new StoreHttpServer(spark, store, nowMs = () => 3 * Day).start()
    try {
      val get = Requests.GetRequest("/http/warm{host=a}", minTimestamp = Some(Day))
      val list = Requests.ListRequest("/http/*", maxAgeMs = 2 * Day)
      def listed() = Rpc.decodeListResponse(
        post(srv.boundPort, "/list", Rpc.encodeListRequest(list)))._2.map(_.name)
      assert(values(srv.boundPort, get).length == 2) // cold: builds the relation
      assert(listed() == Seq("/http/warm"))
      val (_, hits, _) = relationRow(srv.boundPort)
      val (getJobs, _) = observe(assert(values(srv.boundPort, get).length == 2))
      assert(getJobs == 1, "a warm one-series /get")
      val (listJobs, _) = observe(assert(listed() == Seq("/http/warm")))
      assert(listJobs == 1, "a warm /list removes duplicates in its scan tasks")
      values(srv.boundPort, get)
      assert(relationRow(srv.boundPort)._2 >= hits + 3,
        "every warm request must hit the held store relation")
    } finally srv.stop()
  }

  /** A store of five series, `/http/l/a..e{host=h}`, with one point on
    * each of three UTC days, 01:00 each day, but `e` only on day 0:
    * most series span three files, so the scan tasks see them more
    * than once. */
  private def listStore(): String = {
    val store = java.nio.file.Files.createTempDirectory("graft_http_list").toString + "/s"
    graft.sources.PointSource.write(Seq("e", "c", "a", "d", "b").map { n =>
      series((if (n == "e") Seq(0L) else Seq(0L, 1L, 2L)).map(d => (d * Day + Hour) -> d.toDouble),
        name = s"/http/l/$n", labels = Map("host" -> "h"))
    }.reduce(_ unionByName _), store)
    store
  }

  private def listed(port: Int, req: Requests.ListRequest): Seq[(String, Map[String, String])] = {
    val (ok, vars) = Rpc.decodeListResponse(post(port, "/list", Rpc.encodeListRequest(req)))
    assert(ok)
    vars.map(v => (v.name, v.labels))
  }

  test("/list answers Engine.list's series, with and without max_variables") {
    val store = listStore()
    val now = 3 * Day
    val srv = new StoreHttpServer(spark, store, nowMs = () => now).start()
    try {
      for (req <- Seq(Requests.ListRequest("/http/l/*", maxAgeMs = 3 * Day),
                      Requests.ListRequest("/http/l/*", maxAgeMs = 2 * Day),
                      Requests.ListRequest("/http/l/*", Some(2), 3 * Day),
                      Requests.ListRequest("/http/l/*", Some(9), 3 * Day),
                      Requests.ListRequest("/http/l/b*", Some(1), 3 * Day),
                      Requests.ListRequest("/http/none/*", Some(1), 3 * Day))) {
        val want = Engine.list(graft.sources.PointSource.read(spark, store), req, now)
          .collect().map(r => (r.getAs[String]("name"), r.getAs[Map[String, String]]("labels")))
        val got = listed(srv.boundPort, req)
        assert(got.toSet == want.toSet && got.length == want.length, req)
      }
      // a two-day lookback drops `e`, whose only point is on day 0
      assert(listed(srv.boundPort, Requests.ListRequest("/http/l/*", maxAgeMs = 2 * Day))
        .map(_._1).toSet == Set("a", "b", "c", "d").map(n => s"/http/l/$n"))
      // max_variables keeps the smallest series keys
      assert(listed(srv.boundPort, Requests.ListRequest("/http/l/*", Some(2), 3 * Day))
        .map(_._1) == Seq("/http/l/a", "/http/l/b"))
    } finally srv.stop()
  }

  test("/list over the response bound answers 413; max_variables under it is served") {
    val srv = new StoreHttpServer(spark, listStore(), nowMs = () => 3 * Day,
      maxResponseValues = 4).start()
    try {
      val all = Requests.ListRequest("/http/l/*", maxAgeMs = 3 * Day)
      val (code, bytes) = postRaw(srv.boundPort, "/list", Rpc.encodeListRequest(all))
      assert(code == 413, s"expected 413 over-limit, got $code")
      val (ok, err, _) = Rpc.decodeGetResponse(bytes)
      assert(!ok && err.exists(_.contains("max_variables")), err)
      // five series: max_variables past the bound is over it as well
      assert(postRaw(srv.boundPort, "/list",
        Rpc.encodeListRequest(all.copy(maxVariables = Some(5))))._1 == 413)
      assert(listed(srv.boundPort, all.copy(maxVariables = Some(4))).length == 4)
    } finally srv.stop()
  }

  test("Collect.distinctAtMost equals dropDuplicates + orderBy + limit, in one job") {
    import org.apache.spark.sql.functions._
    // 40 distinct keys over 8 partitions, every key in several of them
    val df = spark.range(0, 400, 1, 8)
      .select(format_string("k%02d", col("id") % 40).as("k"), col("id"))
    for (n <- Seq(0, 1, 7, 40, 41)) {
      val want = df.dropDuplicates("k").orderBy("k").limit(n).select("k").collect().toSeq
      val (jobs, _) = observe(assert(
        Collect.distinctAtMost(df, "k", n).map(r => r.getString(0)).toSeq == want.map(_.getString(0)),
        s"n = $n"))
      assert(jobs == 1, s"n = $n")
    }
  }

  test("30 keep-alive /health calls answer in a median under 20 ms (no delayed-ACK stall)") {
    val store = java.nio.file.Files.createTempDirectory("graft_http_nodelay").toString + "/s"
    val srv = new StoreHttpServer(spark, store).start()
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.boundPort}/health")).GET().build()
      def call(): Double = {
        val t0 = System.nanoTime()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200 && resp.body() == "OK")
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 10).foreach(_ => call())
      val ms = (1 to 30).map(_ => call()).sorted
      assert(ms(15) < 20.0, s"/health latencies (ms): ${ms.mkString(" ")}")
    } finally srv.stop()
  }

  test("one running server's /get sees the points of every new StreamIngest commit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_http_follow").toString
    val (src, store) = (s"$tmp/src", s"$tmp/store")
    def ingest(ts: Long): Unit = {
      series(Seq(ts -> ts.toDouble), name = "/http/sunk", labels = Map("host" -> "a"))
        .write.mode("append").parquet(src)
      val q = graft.streaming.StreamIngest.ingest(spark, src, store, s"$tmp/ckpt")
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception)
    }
    ingest(1000L)
    val srv = new StoreHttpServer(spark, store, nowMs = () => Day).start()
    try {
      val get = Requests.GetRequest("/http/sunk")
      assert(values(srv.boundPort, get).map(_._1) == Seq(1000L))
      assert(values(srv.boundPort, get).map(_._1) == Seq(1000L)) // warm
      ingest(2000L)
      assert(values(srv.boundPort, get).map(_._1).sorted == Seq(1000L, 2000L),
        "a sink commit must invalidate the held relation")
    } finally srv.stop()
  }

  test("add -> get(rate) -> list round-trip over HTTP+base64-protobuf") {
    val store = java.nio.file.Files.createTempDirectory("graft_http").toString + "/s"
    val srv = new StoreHttpServer(spark, store, port = 0,
      nowMs = () => 100000L).start()
    try {
      // /add: one counter series, three points
      val addBody = Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/counter", Map("host" -> "a"), Variable.Gauge),
        Seq((1000L, Some(10.0), None, None),
          (2000L, Some(30.0), None, None),
          (3000L, Some(60.0), None, None)))))
      val (ok, _) = Rpc.decodeAddResponse(post(srv.boundPort, "/add", addBody))
      assert(ok)

      // /get with a RATE mutation
      val getBody = Rpc.encodeGetRequest(Requests.GetRequest(
        "/http/counter{host=a}", mutations = Seq(Requests.Rate())))
      val (gok, gerr, streams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", getBody))
      assert(gok, gerr.toString)
      assert(streams.length == 1)
      assert(streams.head.variable.name == "/http/counter")
      assert(streams.head.variable.labels("host") == "a")
      val vals = streams.head.values.map(v => (v._1, v._2.get))
      assert(vals == Seq((2000L, 20.0), (3000L, 30.0)))

      // /get with aggregation by name
      val aggBody = Rpc.encodeGetRequest(Requests.GetRequest(
        "/http/counter",
        aggregations = Seq(Requests.AggregationSpec(Aggregations.Sum, Nil, 10000L))))
      val (aok, _, aggStreams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", aggBody))
      assert(aok && aggStreams.nonEmpty)
      assert(aggStreams.head.values.head._2.contains(100.0))

      // /get aggregated BY LABEL: one stream per distinct label value
      // (server/store.cc:190-248), each carrying its own label set
      val addB = Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/counter", Map("host" -> "b"), Variable.Gauge),
        Seq((1000L, Some(1.0), None, None), (2000L, Some(2.0), None, None)))))
      post(srv.boundPort, "/add", addB)
      val byLabel = Rpc.encodeGetRequest(Requests.GetRequest(
        "/http/counter",
        aggregations = Seq(Requests.AggregationSpec(
          Aggregations.Sum, Seq("host"), 10000L))))
      val (bok, _, ls) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", byLabel))
      assert(bok)
      val hosts = ls.map(_.variable.labels.get("host"))
      assert(hosts.toSet == Set(Some("a"), Some("b")), ls.map(_.variable).toString)
      val sumA = ls.find(_.variable.labels.get("host").contains("a")).get
      assert(sumA.values.head._2.contains(100.0))

      // /list
      val listBody = Rpc.encodeListRequest(Requests.ListRequest("/http/*"))
      val listResp = post(srv.boundPort, "/list", listBody)
      val (lok, vars) = Rpc.decodeListResponse(listResp)
      assert(lok)
      assert(vars.exists(v => v.name == "/http/counter" &&
        v.labels.get("host").contains("a")))

      // per-phase timers ride the responses (GetResponse.timer=4,
      // ListResponse.timer=5), with the Go server's phase names
      val getTimers = Rpc.decodeTimers(post(srv.boundPort, "/get", getBody), 4)
      assert(getTimers.map(_._1) ==
        Seq("retrieve streams", "construct response"))
      assert(getTimers.forall(_._2 >= 0))
      assert(Rpc.decodeTimers(listResp, 5).map(_._1) ==
        Seq("retrieve variables", "construct response"))
    } finally srv.stop()
  }

  test("gorilla tier serves /get and /list; /add rejects read-only") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_gor").toString + "/g"
    // hot points -> cold tier, then the SAME wire surface reads it
    val pts = graft.model.Point.withSeriesKey(series(
        Seq(1000L -> 10.0, 2000L -> 30.0, 3000L -> 60.0),
        name = "/http/cold", labels = Map("host" -> "a")))
      .select(col("skey"), col("ts"), col("dval"))
    graft.sources.PointSource.writeGorilla(pts, dir)
    val srv = new StoreHttpServer(spark, dir, port = 0,
      nowMs = () => 100000L, tier = "gorilla").start()
    try {
      val getBody = Rpc.encodeGetRequest(Requests.GetRequest(
        "/http/cold{host=a}", mutations = Seq(Requests.Rate())))
      val (gok, gerr, streams) =
        Rpc.decodeGetResponse(post(srv.boundPort, "/get", getBody))
      assert(gok, gerr.toString)
      assert(streams.head.variable.labels("host") == "a")
      assert(streams.head.values.map(v => (v._1, v._2.get)) ==
        Seq((2000L, 20.0), (3000L, 30.0)))
      val addBody = Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/cold", Map("host" -> "a"), Variable.Gauge),
        Seq((5000L, Some(1.0), None, None)))))
      val (code, _) = postRaw(srv.boundPort, "/add", addBody)
      assert(code == 500, s"/add on the cold tier must reject, got $code")
    } finally srv.stop()
  }

  test("/add refuses a store written by the streaming sink, whose reads list only the sink log") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_http_sink").toString
    val (src, store) = (s"$tmp/src", s"$tmp/store")
    spark.range(1).select(lit("/http/sunk").as("name"),
        map(lit("host"), lit("a")).as("labels"), lit(Variable.Gauge).as("value_type"),
        lit(1000L).as("ts"), lit(1.0).as("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
      .write.parquet(src)
    val q = graft.streaming.StreamIngest.ingest(spark, src, store, s"$tmp/ckpt")
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception)
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L).start()
    try {
      val addBody = Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/added", Map("host" -> "a"), Variable.Gauge),
        Seq((2000L, Some(2.0), None, None)))))
      val (code, body) = postRaw(srv.boundPort, "/add", addBody)
      assert(code == 500, s"/add into a sink-written store must be refused, got $code")
      val (_, err, _) = Rpc.decodeGetResponse(body)
      assert(err.exists(_.contains("_spark_metadata")), err)
      // the sink's own point is still served
      val getBody = Rpc.encodeGetRequest(Requests.GetRequest("/http/sunk{host=a}"))
      val (gok, _, streams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", getBody))
      assert(gok && streams.map(_.values.length).sum == 1)
    } finally srv.stop()
  }

  test("tiered serving: /get spans hot parquet and cold gorilla; /add lands hot") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_tiered").toString
    val hot = s"$base/hot"; val cold = s"$base/cold"
    val day = 86400000L
    // two days of points, day 0 ages cold, day 1 stays hot
    graft.sources.PointSource.write(series(
      Seq(1000L -> 1.0, 2000L -> 2.0, (day + 1000L) -> 3.0),
      name = "/http/span", labels = Map("host" -> "a")), hot)
    graft.sources.PointSource.ageIntoGorilla(spark, hot, cold,
      olderThanMs = 1000L, nowMs = day + 2000L)
    val srv = new StoreHttpServer(spark, hot, port = 0,
      nowMs = () => day + 2000L, tier = "tiered", coldDir = Some(cold)).start()
    try {
      val getBody = Rpc.encodeGetRequest(Requests.GetRequest(
        "/http/span{host=a}", minTimestamp = Some(0L)))
      val (gok, gerr, streams) =
        Rpc.decodeGetResponse(post(srv.boundPort, "/get", getBody))
      assert(gok, gerr.toString)
      assert(streams.head.values.map(v => (v._1, v._2.get)) ==
        Seq((1000L, 1.0), (2000L, 2.0), (day + 1000L, 3.0)),
        "one stream must span the aging boundary")
      // writes stay open on the tiered surface (they land hot)
      val addBody = Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/span", Map("host" -> "a"), Variable.Gauge),
        Seq((day + 1500L, Some(4.0), None, None)))))
      val (code, _) = postRaw(srv.boundPort, "/add", addBody)
      assert(code == 200, s"/add on the tiered surface must accept, got $code")
      // the added point carries the ingest hostname label (a second
      // series of the same name); 4 points total span both tiers + add
      val (gok2, _, streams2) =
        Rpc.decodeGetResponse(post(srv.boundPort, "/get", getBody))
      assert(gok2 && streams2.map(_.values.length).sum == 4)
    } finally srv.stop()
  }

  test("/get_config round-trips StoreConfig; /status serves HTML") {
    import graft.retention.Retention
    val store = java.nio.file.Files.createTempDirectory("graft_http3").toString + "/s"
    val policy = Retention.Policy(Seq(
      Retention.PolicyItem(Seq("/http/*"), Retention.Keep,
        maxAgeMs = 86400000L, comment = "keep a day raw"),
      Retention.PolicyItem(Seq("/http/*"), Retention.Keep,
        minAgeMs = 86400000L, mutations = Seq(Requests.Latest(3600000L))),
      Retention.PolicyItem(Nil, Retention.Drop)))
    val srv = new StoreHttpServer(spark, store, nowMs = () => 5000L,
      retention = policy).start()
    try {
      for (path <- Seq("/get_config", "/config")) {
        val bytes = post(srv.boundPort, path, Array.empty)
        val (servers, decoded, intervalSec) = Rpc.decodeStoreConfig(bytes)
        assert(servers.map(_.address) == Seq(s"localhost:${srv.boundPort}"))
        assert(servers.head.state == 2 && servers.head.lastUpdated == 5000L)
        assert(intervalSec == 600L)
        assert(decoded.items.length == 3)
        assert(decoded.items(0).comment == "keep a day raw" &&
          decoded.items(0).maxAgeMs == 86400000L &&
          decoded.items(0).policy == Retention.Keep)
        assert(decoded.items(1).mutations == Seq(Requests.Latest(3600000L)))
        assert(decoded.items(2).policy == Retention.Drop &&
          decoded.items(2).patterns.isEmpty)
      }
      // /status is a plain HTML page, not base64
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/status")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("Store Status"))
      // one row per SessionCache kind: entries, hits, misses
      assert(resp.body().contains("Session caches"))
      for (kind <- Seq("parquet relations", "index-format markers", "corpus counts"))
        assert(resp.body().matches(s"(?s).*<tr><td>$kind</td>(<td>\\d+</td>){3}</tr>.*"), kind)
      // Spark's generated-class cache: its size and compile totals
      assert(resp.body().contains(
        s"generated classes (max ${SparkInit.CodegenCacheEntries})"))
      assert(resp.body().matches("(?s).*<td colspan=\"3\">\\d+ compilations, \\d+ ms compiling</td>.*"))
    } finally srv.stop()
  }

  test("C++ mutation semantics: one wire stream per mutation per series") {
    val store = java.nio.file.Files.createTempDirectory("graft_http5").toString + "/s"
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L,
      cppMutationSemantics = true).start()
    try {
      post(srv.boundPort, "/add", Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/cpp/x", Map("h" -> "a"), Variable.Gauge),
        Seq((1000L, Some(1.0), None, None), (2000L, Some(5.0), None, None))))))
      val body = Rpc.encodeGetRequest(Requests.GetRequest(
        "/cpp/x", mutations = Seq(Requests.Mean(10000L), Requests.MaxM(10000L))))
      val (ok, _, streams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", body))
      assert(ok)
      // server/store.cc:140-147: each mutation appends its own stream
      assert(streams.length == 2, streams.toString)
      val vals = streams.map(_.values.map(_._2.get).toList).sortBy(_.head)
      assert(vals == Seq(List(3.0), List(5.0))) // mean and max of raw
    } finally srv.stop()
  }

  test("10+ independent mutations keep request order (no lexicographic #10<#2)") {
    // Streams carry no mutation tag — clients attribute them positionally
    // (server/store.cc:140-147). With ≥10 mutations a string-keyed sort
    // would place "#10" before "#2"; ordering must be numeric on mut_idx.
    val store = java.nio.file.Files.createTempDirectory("graft_http6").toString + "/s"
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L,
      cppMutationSemantics = true).start()
    try {
      post(srv.boundPort, "/add", Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/cpp/ord", Map("h" -> "a"), Variable.Gauge),
        Seq((1000L, Some(1.0), None, None), (2000L, Some(5.0), None, None))))))
      val cycle = Seq(Requests.Mean(10000L), Requests.MaxM(10000L),
        Requests.MinM(10000L))
      val muts = Seq.fill(4)(cycle).flatten // 12 mutations, idx 0..11
      val body = Rpc.encodeGetRequest(
        Requests.GetRequest("/cpp/ord", mutations = muts))
      val (ok, _, streams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", body))
      assert(ok)
      assert(streams.length == 12, streams.toString)
      val heads = streams.map(_.values.head._2.get)
      assert(heads == Seq(3.0, 5.0, 1.0, 3.0, 5.0, 1.0, 3.0, 5.0, 1.0, 3.0, 5.0, 1.0),
        s"streams must follow mutation request order, got $heads")
    } finally srv.stop()
  }

  test("concurrent /add requests all persist (append write race)") {
    val store = java.nio.file.Files.createTempDirectory("graft_http4").toString + "/s"
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L).start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val adds = (0 until 4).map { i =>
        Future {
          val body = Rpc.encodeAddRequest(Seq(Rpc.Stream(
            Variable(s"/http/conc", Map("host" -> s"h$i"), Variable.Gauge),
            Seq((1000L + i, Some(i.toDouble), None, None)))))
          Rpc.decodeAddResponse(post(srv.boundPort, "/add", body))._1
        }
      }
      assert(Await.result(Future.sequence(adds), 120.seconds).forall(identity))
      val listBody = Rpc.encodeListRequest(
        Requests.ListRequest("/http/conc", maxAgeMs = 86400000L))
      val (_, vars) = Rpc.decodeListResponse(post(srv.boundPort, "/list", listBody))
      assert(vars.map(_.labels("host")).toSet == Set("h0", "h1", "h2", "h3"))
    } finally srv.stop()
  }

  test("unbounded /get over a large match is capped: 413, never a full collect") {
    val store = java.nio.file.Files.createTempDirectory("graft_http7").toString + "/s"
    // cap at 10 so the fixture (30 points) overflows it
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L,
      maxResponseValues = 10).start()
    try {
      post(srv.boundPort, "/add", Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/big", Map("host" -> "a"), Variable.Gauge),
        (0 until 30).map(i => (1000L + i, Some(i.toDouble), None, None))))))
      // no max_values / max_variables on the request -> default bound
      // kicks in, server rejects loudly instead of materializing all
      val unbounded = Rpc.encodeGetRequest(Requests.GetRequest("/http/big"))
      val (code, bytes) = postRaw(srv.boundPort, "/get", unbounded)
      assert(code == 413, s"expected 413 over-limit, got $code")
      val (ok, err, streams) = Rpc.decodeGetResponse(bytes)
      assert(!ok && err.exists(_.contains("max_values")) && streams.isEmpty,
        s"ok=$ok err=$err")
      // the same match WITH an explicit limit is served normally
      val bounded = Rpc.encodeGetRequest(Requests.GetRequest("/http/big",
        maxValues = Some(5)))
      val (gok, gerr, gs) =
        Rpc.decodeGetResponse(post(srv.boundPort, "/get", bounded))
      assert(gok, gerr.toString)
      assert(gs.head.values.length == 5, gs.head.values.length.toString)
    } finally srv.stop()
  }

  test("/get probe plans without a global Sort; streams still time-ordered") {
    val store = java.nio.file.Files.createTempDirectory("graft_http8").toString + "/s"
    val srv = new StoreHttpServer(spark, store, nowMs = () => 100000L).start()
    try {
      // points added OUT of time order — the wire response must sort
      // them per stream even though the server no longer orderBy("ts")s
      post(srv.boundPort, "/add", Rpc.encodeAddRequest(Seq(Rpc.Stream(
        Variable("/http/ord", Map("host" -> "a"), Variable.Gauge),
        Seq((3000L, Some(3.0), None, None), (1000L, Some(1.0), None, None),
          (2000L, Some(2.0), None, None))))))
      // the server's response bound runs the plan of Engine.get itself:
      // no CollectLimit (its scale-up runs several jobs) and no Sort
      // anywhere (an over-cap request then fails fast instead of
      // paying a global top-K)
      var gs = Seq.empty[Rpc.Stream]
      val (_, plans) = observe {
        val (gok, gerr, streams) = Rpc.decodeGetResponse(post(srv.boundPort, "/get",
          Rpc.encodeGetRequest(Requests.GetRequest("/http/ord"))))
        assert(gok, gerr.toString)
        gs = streams
      }
      val plan = plans.find(_.contains(store)).getOrElse(fail(plans.mkString("\n")))
      assert(!plan.contains("Limit"), plan.take(1500))
      assert(!plan.contains("Sort"),
        s"over-cap probe must not plan a Sort:\n${plan.take(1500)}")
      assert(gs.head.values.map(_._1) == Seq(1000L, 2000L, 3000L),
        "per-stream values must be time-ordered on the wire")
    } finally srv.stop()
  }

  test("rate -> mean=5m -> average-by-host /get: its job count, one stream per host, constant labels kept") {
    val store = java.nio.file.Files.createTempDirectory("graft_http_rate_agg").toString + "/s"
    // two hosts of one rack, two interfaces each: counters rising by
    // (host, iface)-specific steps every minute for an hour
    val step = Map(("h1", "e0") -> 1.0, ("h1", "e1") -> 3.0, ("h2", "e0") -> 5.0, ("h2", "e1") -> 7.0)
    graft.sources.PointSource.write(step.map { case ((h, i), d) =>
      series((0 until 60).map(k => (k * 60000L) -> k * d * 60),
        name = "/net/bytes", labels = Map("host" -> h, "iface" -> i, "rack" -> "r1"))
    }.reduce(_ unionByName _), store)
    val srv = new StoreHttpServer(spark, store, nowMs = () => Hour).start()
    try {
      val req = Requests.GetRequest("/net/bytes{host=/h.*/}", Some(0L), Some(Hour),
        mutations = Seq(Requests.Rate(), Requests.Mean(300000L)),
        aggregations = Seq(Requests.AggregationSpec(Aggregations.Average, Seq("host"))))
      def streams() = {
        val (ok, err, ss) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", Rpc.encodeGetRequest(req)))
        assert(ok, err.toString)
        ss
      }
      streams() // cold: builds the relation
      var got = Seq.empty[Rpc.Stream]
      val (jobs, _) = observe { got = streams() }
      assert(got.map(_.variable.labels) ==
        Seq(Map("host" -> "h1", "rack" -> "r1"), Map("host" -> "h2", "rack" -> "r1")))
      // per-second rates: (1 + 3) / 2 and (5 + 7) / 2 per minute-step
      assert(got.map(_.values.map(_._2.get).distinct) == Seq(Seq(2.0), Seq(6.0)))
      assert(got.forall(_.values.length == 12))
      // rebuilding identity by a second scan and a join, and finding
      // constant labels in three exchanges, ran 10
      assert(jobs == 6, s"a warm rate-aggregate /get ran $jobs Spark jobs")
    } finally srv.stop()
  }

  test("names holding , and { and label keys holding = come back exactly; a value holding , and = matches") {
    val store = java.nio.file.Files.createTempDirectory("graft_http_escapes").toString + "/s"
    val ids = Seq(
      ("/a,b", Map("host" -> "h")),
      ("/a{c}", Map("k=1" -> "v")),
      ("/a\\d", Map("v" -> "p,q=r", "x{y}" -> "z")))
    graft.sources.PointSource.write(ids.map { case (n, l) =>
      series(Seq(0L -> 1.0, Hour -> 2.0), name = n, labels = l)
    }.reduce(_ unionByName _), store)
    val srv = new StoreHttpServer(spark, store, nowMs = () => 2 * Hour).start()
    try {
      def get(req: Requests.GetRequest) = {
        val (ok, err, ss) = Rpc.decodeGetResponse(post(srv.boundPort, "/get", Rpc.encodeGetRequest(req)))
        assert(ok, err.toString)
        ss.map(st => (st.variable.name, st.variable.labels) -> st.values.map(v => (v._1, v._2.get)))
      }
      val want = ids.map(_ -> Seq(0L -> 1.0, Hour -> 2.0))
      // raw rows carry name and labels; interpolate drops them and the
      // server reads them back from the series key
      assert(get(Requests.GetRequest("/a*")).toSet == want.toSet)
      assert(get(Requests.GetRequest("/a*", mutations = Seq(Requests.Interpolate(Hour)))).toSet ==
        want.toSet)
      // the wire pattern keeps a value holding , and = whole
      val pattern = Rpc.patternString(Variable("/a*", Map("v" -> "p,q=r")))
      assert(get(Requests.GetRequest(pattern)) == Seq(want.last))
      assert(listed(srv.boundPort, Requests.ListRequest(pattern)) == Seq(ids.last))
    } finally srv.stop()
  }

  test("malformed request returns a decodable error response, not a hang") {
    val store = java.nio.file.Files.createTempDirectory("graft_http2").toString + "/s"
    val srv = new StoreHttpServer(spark, store).start()
    try {
      val (code, bytes) = postRaw(srv.boundPort, "/get", Array[Byte](1, 2, 3))
      assert(code == 500)
      val (ok, err, _) = Rpc.decodeGetResponse(bytes)
      assert(!ok && err.nonEmpty)
    } finally srv.stop()
  }
}
