package graft.perfbench

import graft.api.Engine
import graft.http.StoreHttpServer
import graft.model.Variable
import graft.sources.PointSource
import graft.wire.Rpc
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.util.Base64
import org.apache.spark.sql.Row
import scala.collection.mutable.ArrayBuffer
import Collector.{Series, Steps, TEnd}

/** One client-side HTTP connection speaking the base64 wire codec. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(Base64.getEncoder.encode(body))).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode, Base64.getMimeDecoder.decode(resp.body))
  }
}

/** One completed request as the client saw it: in a closed loop a
  * request is due when it is sent, so its latency runs from the send. */
final case class Rec(kind: String, startNs: Long, endNs: Long, status: Int,
                     error: Option[String], serverMs: Long, reqBytes: Int, respBytes: Int,
                     encNs: Long, decNs: Long) {
  def latencyMs: Double = if (error.isEmpty) (endNs - startNs) / 1e6 else Double.PositiveInfinity
}

/** The HTTP store workload `serve_read`. */
object Serve {
  val Racks = 4
  val Nodes = 2
  val ReadClients = 2
  /** The history arrives as 12 files of 6 h, made durable by 4 ingest
    * runs of 3 files each. */
  val HistoryDrops = 12
  val IngestRunFiles: Seq[Int] = Seq.fill(4)(3)
  /** Request mix of serve_read, per block of 20. A rate aggregation
    * costs about five times any other request, so it is kept to 10%:
    * at 25% it would fill most of the clients' time and leave too few
    * requests in a run for steady medians. Raw series reads, the
    * cheapest, stay below half, so the median request falls inside the
    * list/interpolate cluster rather than on a cluster's edge. */
  val ReadMix = Seq("get_series" -> 7, "get_rate_agg" -> 2, "get_interp" -> 6, "list" -> 5)
  /** One block of `ReadMix` in smooth weighted round-robin order: every
    * prefix of it holds each kind within one request of its share. A
    * window holds only one or two blocks per client, so with a shuffled
    * block the mix of the requests a run completed, and with it the
    * median, would change with how many it completed. */
  val MixBlock: Vector[String] = {
    val total = ReadMix.map(_._2).sum
    val credit = scala.collection.mutable.Map(ReadMix.map(_._1 -> 0): _*)
    Vector.fill(total) {
      ReadMix.foreach { case (k, w) => credit(k) += w }
      val k = ReadMix.map(_._1).maxBy(credit)
      credit(k) -= total
      k
    }
  }
  /** Warm-up requests per set-up (after one of each kind). */
  val WarmCalls = 4
  val Cap: Int = StoreHttpServer.DefaultMaxResponseValues

  private def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Sends one call and checks the response. */
  def exec(c: Client, call: Call, tr: Tracer, op: Long): Rec = {
    val startNs = System.nanoTime()
    try {
      val body = tr.span("wire.encode", op)(call.encode())
      val t1 = System.nanoTime()
      val (status, resp) = tr.span("http.call", op)(c.post(call.path, body))
      val t2 = System.nanoTime()
      tr.span("wire.decode", op)(call.decode(resp))
      val endNs = System.nanoTime()
      val err = if (status != 200) Some(s"${call.kind}: HTTP $status") else call.check(resp).map(e => s"${call.kind}: $e")
      Rec(call.kind, startNs, endNs, status, err,
        Rpc.decodeTimers(resp, call.timerField).map(_._2).sum, body.length, resp.length,
        t1 - startNs, endNs - t2)
    } catch {
      case e: Exception =>
        Rec(call.kind, startNs, System.nanoTime(), 0, Some(s"${call.kind}: $e"), 0L, 0, 0, 0L, 0L)
    }
  }

  /** The seeded read requests of client `stream` against the history. */
  def readMix(seed: Long, stream: Int, series: Vector[Series]): Iterator[Call] = {
    // The Zipf ranks, and so which requests repeat an earlier one, are
    // drawn the same for every seed; the seed maps ranks to hosts and
    // racks and sets every value. A repeated request can reuse work (the
    // codegen cache, for one), and with about 40 requests a run, seeded
    // ranks made the share of repeats, and with it the figures, change
    // from seed to seed.
    val rng = new scala.util.Random(Gen.mix64(31L + stream))
    val order = new scala.util.Random(seed)
    val hosts = order.shuffle(series.map(_.host).distinct)
    val racks = order.shuffle((0 until Racks).toVector)
    val zh = new Gen.Zipf(hosts.size, 1.1, rng)
    val zr = new Gen.Zipf(Racks, 1.1, rng)
    // The order of request kinds is fixed (not seeded) so every run sees
    // the same mix in the same order.
    // The block's two rate aggregations lie half a block apart; client 1
    // starts a quarter block in, so the clients never send theirs together.
    Iterator.continually(MixBlock).flatten.drop(stream * MixBlock.size / 4 % MixBlock.size).map {
      case "get_series" =>
        val mine = series.filter(s => s.host == hosts(zh.next()) && s.kind != Collector.ReadBytes &&
          s.kind != Collector.WriteBytes)
        Calls.getSeries(mine(rng.nextInt(mine.size)), TEnd - 6 * Calls.HourMs, TEnd, Steps)
      case "get_rate_agg" =>
        val r = racks(zr.next())
        Calls.getRateAgg(s"/network/interface/stats/read_bytes{host=/r${r}n.*/}",
          series.filter(s => s.kind == Collector.ReadBytes && s.host.startsWith(s"r${r}n")),
          TEnd - 6 * Calls.HourMs, TEnd, Steps)
      case "get_interp" =>
        val r = racks(zr.next())
        Calls.getInterp(s"/system/filesystem/used{host=/r${r}n.*/}",
          series.filter(s => s.kind == Collector.FsUsed && s.host.startsWith(s"r${r}n")),
          TEnd - 24 * Calls.HourMs, TEnd, Steps)
      case _ =>
        val h = hosts(zh.next())
        Calls.list(s"/system/*{host=$h}",
          series.filter(s => s.host == h && s.name.startsWith("/system/")))
    }
  }

  /** The history as collectors deliver it: `HistoryDrops` files of 6 h
    * each, made durable by one StreamIngest run per `IngestRunFiles`
    * entry on one checkpoint, each checked for exactly-once. */
  private def ingestStore(ctx: Ctx, r: Report, series: Vector[Series]):
      (Ingest.Fixture, Seq[Ingest.Cycle]) = {
    val f = new Ingest.Fixture(ctx.work.resolve("ingest"))
    val stepsPerDrop = Steps / HistoryDrops
    val (_, stageS) = timedS(Ingest.stage(ctx.spark, series, stepsPerDrop, HistoryDrops, f))
    val (cycles, ingestS) = timedS(
      IngestRunFiles.map(n => Ingest.cycle(ctx, r, f, n, series.size.toLong * stepsPerDrop)))
    val (_, checkS) = timedS(Ingest.checkStore(ctx, r, f))
    r.extra("setup_store") = Map("stage_s" -> stageS, "ingest_s" -> ingestS, "check_s" -> checkS)
    (f, cycles)
  }

  /** Runs `n` closed-loop clients until `deadlineNs`. */
  private def closedLoop(n: Int, deadlineNs: Long, calls: Int => Iterator[Call],
                         port: Int, tr: Tracer, r: Report): Seq[Rec] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        val c = new Client(port); val it = calls(i)
        while (System.nanoTime() < deadlineNs) {
          val call = it.next(); val op = tr.newOp()
          val rec = tr.span(s"op.${call.kind}", op)(exec(c, call, tr, op))
          r.op(rec.error); out.add(rec)
        }
      }, s"client-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  private def lat(recs: Seq[Rec], p: String => Boolean): Seq[Double] =
    recs.filter(x => p(x.kind)).map(_.latencyMs)

  private def isGet(k: String) = k.startsWith("get_")

  /** Client-side layer figures of the HTTP phase of a traced run. */
  private def httpLayers(r: Report, recs: Seq[Rec]): Unit = {
    val ok = recs.filter(_.error.isEmpty)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Layers.put(r, "http.server_timer_ms", med(ok.map(_.serverMs.toDouble)))
    Layers.put(r, "http.outside_timer_ms", med(ok.map(x => (x.endNs - x.startNs) / 1e6 - x.serverMs)))
    Layers.put(r, "http.rejected", recs.count(x => x.status == 413 || x.status == 500).toDouble)
    Layers.put(r, "wire.encode_us", med(ok.map(_.encNs / 1e3)))
    Layers.put(r, "wire.decode_us", med(ok.map(_.decNs / 1e3)))
    ok.groupBy(_.kind).foreach { case (k, xs) =>
      Layers.put(r, s"wire.req_bytes.$k", med(xs.map(_.reqBytes.toDouble)))
      Layers.put(r, s"wire.resp_bytes.$k", med(xs.map(_.respBytes.toDouble)))
    }
  }

  /** The response the /get handler would build from collected rows. */
  private def getResponse(rows: Array[Row], cols: Set[String]): Array[Byte] = {
    def opt[T](row: Row, c: String): Option[T] =
      if (cols.contains(c) && !row.isNullAt(row.fieldIndex(c))) Some(row.getAs[T](c)) else None
    def variable(row: Row): Variable = opt[String](row, "name") match {
      case Some(n) => Variable(n, opt[Map[String, String]](row, "labels").getOrElse(Map.empty))
      case None => Variable.parse(opt[String](row, "skey").getOrElse(""))
    }
    val streams = rows.groupBy(row => opt[String](row, "skey").getOrElse(variable(row).canonical))
      .toSeq.sortBy(_._1).map { case (_, rs) =>
        Rpc.Stream(variable(rs.head), rs.toSeq.map(row => (row.getAs[Long]("ts"),
          opt[Double](row, "dval"), opt[String](row, "sval"), opt[Long](row, "end_ts"))).sortBy(_._1))
      }
    Rpc.encodeGetResponse(streams)
  }

  /** In-process replay of one call through the /get or /list handler's
    * public steps, each in its own span, its Spark jobs tagged with the
    * op's job group. Returns (rows returned, shape exec ms, base exec ms,
    * wall-clock end of the shape's steps). */
  private def replay(ctx: Ctx, store: Path, nowMs: Long, call: Call, op: Long,
                     r: Report): (Int, Double, Option[Double], Long) = {
    val tr = ctx.tracer; val sc = ctx.spark.sparkContext
    sc.setJobGroup(s"op-$op", call.kind, interruptOnCancel = false)
    try tr.span(s"op.${call.kind}", op) {
      val bytes = call.encode()
      if (call.path == "/get") {
        val req = tr.span("wire.decode_request", op)(Rpc.decodeGetRequest(bytes))
        val pts = tr.span("sources.read", op)(PointSource.read(ctx.spark, store.toString))
        val df = tr.span("api.build", op)(Engine.get(pts, req))
        tr.span("spark.plan", op)(df.queryExecution.executedPlan)
        val t0 = System.nanoTime()
        val rows = tr.span("spark.exec", op)(df.limit(Cap + 1).collect())
        val execMs = (System.nanoTime() - t0) / 1e6
        val resp = tr.span("wire.encode_response", op)(getResponse(rows, df.columns.toSet))
        r.op(call.check(resp).map(e => s"${call.kind} (in-process): $e"))
        val shapeEndMs = System.currentTimeMillis()
        val base = if (req.mutations.isEmpty && req.aggregations.isEmpty) None else {
          sc.setJobGroup(s"op-$op-base", "base", interruptOnCancel = false)
          val b = Engine.get(pts, req.copy(mutations = Nil, aggregations = Nil))
          b.queryExecution.executedPlan
          val t1 = System.nanoTime()
          tr.span("operators.base", op)(b.limit(Cap + 1).collect())
          Some((System.nanoTime() - t1) / 1e6)
        }
        (rows.length, execMs, base, shapeEndMs)
      } else {
        val req = tr.span("wire.decode_request", op)(Rpc.decodeListRequest(bytes))
        val pts = tr.span("sources.read", op)(PointSource.read(ctx.spark, store.toString))
        val df = tr.span("api.build", op)(Engine.list(pts, req, nowMs))
        tr.span("spark.plan", op)(df.queryExecution.executedPlan)
        val t0 = System.nanoTime()
        val rows = tr.span("spark.exec", op)(df.collect())
        val execMs = (System.nanoTime() - t0) / 1e6
        val resp = tr.span("wire.encode_response", op)(Rpc.encodeListResponse(rows.toSeq.map(x =>
          Variable(x.getAs[String]("name"),
            Option(x.getAs[Map[String, String]]("labels")).getOrElse(Map.empty)))))
        r.op(call.check(resp).map(e => s"${call.kind} (in-process): $e"))
        (rows.length, execMs, None, System.currentTimeMillis())
      }
    } finally sc.clearJobGroup()
  }

  private final case class Replayed(kind: String, op: Long, group: String, rows: Int,
                                    execMs: Double, baseMs: Option[Double], compiles: Long,
                                    fromMs: Long, toMs: Long) {
    def cost(p: SparkProbe): SparkCost = p.forGroup(group, fromMs, toMs)
  }

  private def replayLayers(ctx: Ctx, r: Report, done: Seq[Replayed]): Unit = {
    val p = ctx.probe
    done.groupBy(_.kind).foreach { case (k, xs) =>
      Layers.sparkPerOp(r, k, xs.map(_.cost(p)), xs.map(_.compiles))
      val self = xs.flatMap(x => x.baseMs.map(x.execMs - _))
      if (self.nonEmpty) Layers.put(r, s"operators.self_ms.$k", Stats.median(self))
    }
    val scanned = done.filter(x => x.kind == "get_series" && x.rows > 0)
      .map(x => x.cost(p).inputRows.toDouble / x.rows)
    if (scanned.nonEmpty) Layers.put(r, "sources.rows_scanned_per_row_returned", Stats.median(scanned))
    Layers.put(r, "sources.read_ms", ctx.tracer.medianMs("sources.read"))
    Layers.put(r, "api.build_ms", ctx.tracer.medianMs("api.build"))
  }

  private def storeLayers(r: Report, store: Path, points: Long): Unit = {
    val (n, bytes) = Layers.files(store)
    Layers.put(r, "sources.store_files", n.toDouble)
    Layers.put(r, "sources.bytes_per_point", bytes.toDouble / points)
  }

  /** Replays calls in-process, one at a time, until `deadlineNs`. */
  private def replayLoop(ctx: Ctx, store: Path, nowMs: Long, calls: Iterator[Call],
                         deadlineNs: Long, r: Report): Seq[Replayed] = {
    val out = ArrayBuffer.empty[Replayed]
    while (System.nanoTime() < deadlineNs) {
      val call = calls.next(); val op = ctx.tracer.newOp()
      val c0 = JvmSample.now().compiles; val fromMs = System.currentTimeMillis()
      val (rows, execMs, base, toMs) = replay(ctx, store, nowMs, call, op, r)
      out += Replayed(call.kind, op, s"op-$op", rows, execMs, base, JvmSample.now().compiles - c0,
        fromMs, toMs)
    }
    out.toSeq
  }

  def read(ctx: Ctx): Report = {
    val r = new Report
    val series = Collector.series(ctx.seed, Collector.hosts(Racks, Nodes))
    val ((ingest, cycles), buildS) = timedS(ingestStore(ctx, r, series))
    val (server, startS) = timedS {
      val sv = new StoreHttpServer(ctx.spark, ingest.store.toString, port = 0, nowMs = () => TEnd).start()
      val c = new Client(sv.boundPort)
      // one request of each kind, then a few more, so the window starts warm
      val calls = readMix(ctx.seed, 1000, series).take(40).toSeq
      r.extra("warm_ms") = (calls.groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.kind) ++
        calls.take(WarmCalls)).map { call =>
        val rec = exec(c, call, ctx.tracer, 0L); r.op(rec.error); Seq(call.kind, rec.latencyMs)
      }
      sv
    }
    r.setupS = buildS + startS
    r.extra("setup") = Map("store_build_s" -> buildS, "start_and_warm_s" -> startS)
    r.extra("input_digest") = Collector.digest(series, 0, Steps)
    try {
      val t0 = System.nanoTime()
      val j0 = JvmSample.now(); val w0 = System.currentTimeMillis()
      val httpEnd = if (ctx.trace) t0 + (ctx.seconds * 1e9 / 2).toLong else ctx.deadlineNs(t0)
      val recs = closedLoop(ReadClients, httpEnd, i => readMix(ctx.seed, i, series),
        server.boundPort, ctx.tracer, r)
      val window = (recs.map(_.endNs).max - t0) / 1e9
      r.extra("requests") = recs.sortBy(_.startNs).map(x =>
        Seq(x.kind, (x.startNs - t0) / 1e6, x.latencyMs))
      val gets = lat(recs, isGet)
      val all = recs.map(_.latencyMs)
      val okOps = recs.count(_.error.isEmpty)
      r.latency("get", gets)
      r.latency("list", lat(recs, _ == "list"))
      Seq("get_series", "get_rate_agg", "get_interp").foreach(k => r.latency(k, lat(recs, _ == k)))
      r.rate("read_qps", okOps / window, "ops/s", recs.size)
      r.metric("op_p50_ms", Stats.median(all), "ms", all.size)
      r.metric("work_per_s", okOps / window, "1/s", recs.size)
      if (ctx.trace) {
        httpLayers(r, recs)
        val done = replayLoop(ctx, ingest.store, TEnd, readMix(ctx.seed, 500, series),
          ctx.deadlineNs(t0), r)
        ctx.probe.quiesce()
        replayLayers(ctx, r, done)
        Layers.window(r, ctx.probe.forInterval(w0, System.currentTimeMillis()),
          recs.size + done.size, j0, JvmSample.now(), ctx.cores)
        storeLayers(r, ingest.store, series.size.toLong * Steps)
        Ingest.streamingLayers(ctx, r, ingest, cycles)
      }
    } finally server.stop()
    r
  }
}
