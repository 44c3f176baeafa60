package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.api.Engine
import graft.model.Variable
import graft.sources.PointSource
import graft.wire.Rpc
import java.net.InetSocketAddress
import java.util.Base64
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * HTTP + base64-protobuf RPC façade — wire-compatible with the
 * reference servers' surface (routes server/store.cc:72-77,
 * go/src/store.go:267-272; codec = base64 over serialized protos,
 * go/src/store.go:33-65): POST /add, /get, /list, GET /health.
 *
 * A reference client can point at this server and run its existing
 * get/list/add calls against the Spark store. Request execution is
 * Engine.*; responses materialize on this node exactly where the
 * reference materializes its RPC responses (bounded by max_variables /
 * max_values).
 */
class StoreHttpServer(spark: SparkSession, storeDir: String, port: Int = 0,
                      nowMs: () => Long = () => System.currentTimeMillis(),
                      retention: graft.retention.Retention.Policy =
                        graft.retention.Retention.Policy(Nil),
                      argv: Seq[String] = Nil,
                      cppMutationSemantics: Boolean = false,
                      tier: String = "parquet",
                      coldDir: Option[String] = None,
                      maxResponseValues: Int =
                        StoreHttpServer.DefaultMaxResponseValues) {
  require(tier == "parquet" || tier == "gorilla" || tier == "tiered",
    s"unknown store tier '$tier' (parquet | gorilla | tiered)")
  require(tier != "tiered" || coldDir.nonEmpty,
    "--tier=tiered requires --cold=<gorilla tier path>")

  // TCP_NODELAY on every accepted socket: `sendResponseHeaders` flushes
  // the headers alone, and with Nagle's algorithm on the kernel then
  // holds the body until the client's delayed ACK (40 ms or more on
  // Linux) for the headers arrives. Go's net package turns Nagle off
  // by default. The JDK reads this property once, when the first
  // HttpServer of the JVM is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // Off the accept/dispatch thread: a slow Spark query must not block
  // accepting other connections (/health during a long /get).
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  private val writeLock = new Object

  def boundPort: Int = server.getAddress.getPort

  // The cold Gorilla tier serves the same read surface (get/list);
  // /add rejects on it (see the handler) — the cold tier is read-only.
  // --tier=tiered spans hot + cold in one frame (readTiered's
  // crash-consistent union); /add stays open there (writes land hot).
  // `minTs`/`maxTs` prune date partitions; the Engine keeps the exact
  // `ts` bounds.
  private def points(minTs: Option[Long], maxTs: Option[Long]): DataFrame =
    if (tier == "gorilla") PointSource.readGorillaPoints(spark, storeDir)
    else if (tier == "tiered") PointSource.readTiered(spark, storeDir, coldDir.get)
    else PointSource.read(spark, storeDir, minTs, maxTs)

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    val b64 = Base64.getEncoder.encode(body)
    ex.getResponseHeaders.set("Content-Type", "application/base64")
    ex.sendResponseHeaders(code, b64.length.toLong)
    ex.getResponseBody.write(b64)
    ex.close()
  }

  private def requestBytes(ex: HttpExchange): Array[Byte] =
    Base64.getMimeDecoder.decode(ex.getRequestBody.readAllBytes())

  // Compute the body BEFORE sending headers: a handler failure can then
  // safely produce a 500, and a failure during the response write (peer
  // gone) only closes the exchange — never a second sendResponseHeaders.
  private def handler(f: Array[Byte] => Array[Byte]): HttpHandler =
    (ex: HttpExchange) => {
      val result =
        try Right(f(requestBytes(ex)))
        catch { case e: Throwable => Left(e) }
      try result match {
        case Right(body) => respond(ex, 200, body)
        case Left(e: StoreHttpServer.ResponseTooLarge) =>
          // over-limit is the client's problem, not a server fault:
          // 413 with the reason in the wire error field (the same loud
          // rejection posture the RPC codec uses for unknown
          // extensions), never a silent truncation
          respond(ex, 413, Rpc.encodeGetResponse(Nil, Some(e.getMessage)))
        case Left(e) =>
          System.err.println(s"[http] ${ex.getRequestURI} failed: $e")
          respond(ex, 500, Rpc.encodeGetResponse(Nil, Some(e.toString)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[http] ${ex.getRequestURI} response write failed: $e")
          ex.close()
      }
    }

  /** `rows` when it holds at most `maxResponseValues`; otherwise a
    * [[StoreHttpServer.ResponseTooLarge]] (HTTP 413) that says how to
    * narrow the request. */
  private def bounded(rows: Array[Row], endpoint: String, unit: String,
                      narrow: String): Array[Row] =
    if (rows.length <= maxResponseValues) rows
    else throw new StoreHttpServer.ResponseTooLarge(
      s"$endpoint matched more than $maxResponseValues $unit; narrow the " +
        s"request ($narrow) or raise --max_response_values")

  /** Run `f`, returning (result, elapsed ms) — the Go server's
    * Timer.Stop() bookkeeping (openinstrument.go:28-45). */
  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1000000L)
  }

  server.createContext("/get", handler { bytes =>
    // "retrieve streams" runs from the request decode to the collected
    // rows, so it also covers the store read and the Engine build
    // (adaptive execution runs a per-series shuffle at build time).
    val ((df, rows), retrieveMs) = timed {
      // The wire proto has no chaining field — the reference servers just
      // disagree: Go pipes repeated mutations, C++ emits one stream per
      // mutation. `cppMutationSemantics` picks which server this façade
      // impersonates (default: Go, matching the authoritative store).
      val req = Rpc.decodeGetRequest(bytes)
        .copy(chainMutations = !cppMutationSemantics)
      val df = Engine.get(points(req.minTimestamp, req.maxTimestamp), req)
      // materialize grouped by output series, values time-ordered (the
      // response shape of go/src/store.go:133-156). One stream per
      // series: skey when present, else (name, labels) — a label
      // aggregation yields one stream per distinct label value
      // (server/store.cc:190-248), so labels MUST participate in the key.
      // The response must not materialize the whole lake on this node:
      // the reference server also collects its full result, but it
      // fronts a single-node store — here the backing table is the
      // entire corpus. EVERY /get runs through a server-side response
      // bound (request limits alone don't bound the total: max_values
      // is a per-series tail and max_variables caps series, so either
      // one alone still leaves the product unbounded); crossing it
      // rejects with 413 instead of OOMing the driver. The bound is one
      // Spark job with no global Sort and no CollectLimit: each task
      // stops after cap+1 rows, so an over-cap request fails fast
      // instead of paying a full top-K over every match. Per-stream time
      // order (the actual wire contract, go/src/store.go:133-156 sorts
      // within each stream) is restored driver-side below on the ≤cap
      // in-memory rows.
      (df, bounded(graft.Collect.atMost(df, maxResponseValues + 1),
        "/get", "values", "max_values / max_variables / time range"))
    }
    val cols = df.columns.toSet
    def opt[T](r: org.apache.spark.sql.Row, name: String): Option[T] =
      if (cols.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Some(r.getAs[T](name))
      else None
    // a per-series mutation that dropped name/labels leaves the key,
    // which its exact inverse reads back
    def variableOf(r: org.apache.spark.sql.Row): Variable = {
      lazy val id = graft.model.Point.unkey(opt[String](r, "skey").getOrElse(""))
      Variable(opt[String](r, "name").getOrElse(id._1),
        opt[Map[String, String]](r, "labels").getOrElse(id._2))
    }
    val (streams, constructMs) = timed {
      // one wire stream per series — and per mutation, when independent
      // mutations tagged the rows (C++'s stream-per-mutation response
      // shape, server/store.cc:140-147)
      // Sort by (skey, mut_idx) as a typed pair — NOT a concatenated
      // string, where "#10" would sort before "#2" and break the C++
      // GetResponse contract of one stream per mutation *in request
      // order* (streams carry no mutation tag; clients attribute them
      // positionally, server/store.cc:140-147).
      rows.groupBy { r =>
          (opt[String](r, "skey").getOrElse(variableOf(r).canonical),
            opt[Int](r, "mut_idx").getOrElse(-1))
        }.toSeq.sortBy(_._1)
        .map { case (_, rs) =>
          // time order within the stream (driver-side, ≤cap rows —
          // replaces the former global orderBy("ts") in the plan)
          Rpc.Stream(variableOf(rs.head), rs.toSeq.map { r =>
            (r.getAs[Long]("ts"), opt[Double](r, "dval"),
              opt[String](r, "sval"), opt[Long](r, "end_ts"))
          }.sortBy(_._1))
        }
    }
    // per-phase timers, the Go server's names (go/src/store.go:202-222)
    Rpc.encodeGetResponse(streams, timers = Seq(
      "retrieve streams" -> retrieveMs, "construct response" -> constructMs))
  })

  server.createContext("/list", handler { bytes =>
    val (rows, retrieveMs) = timed {
      val req = Rpc.decodeListRequest(bytes)
      val now = nowMs()
      // Engine.list's rows, deduplicated inside each scan task and
      // merged on the driver: one job, no shuffle. max_variables keeps
      // the smallest series keys, as Engine.list's orderBy + limit
      // does; past the response bound the request answers 413.
      val cap = maxResponseValues + 1
      bounded(graft.Collect.distinctAtMost(
          Engine.listRows(points(Some(now - req.maxAgeMs), None), req, now), "skey",
          req.maxVariables.fold(cap)(math.min(_, cap))),
        "/list", "variables", "prefix / max_variables / max_age")
    }
    val (vars, constructMs) = timed {
      rows.map { r =>
        Variable(r.getAs[String]("name"),
          Option(r.getAs[Map[String, String]]("labels")).getOrElse(Map.empty))
      }.toSeq
    }
    Rpc.encodeListResponse(vars, timers = Seq(
      "retrieve variables" -> retrieveMs, "construct response" -> constructMs))
  })

  server.createContext("/add", handler { bytes =>
    import spark.implicits._
    // the cold tier is read-only: a per-point block rewrite would be
    // pathological write amplification — appends belong to the hot
    // Parquet store that later ages into blocks
    require(tier != "gorilla", "/add is not served by the gorilla tier")
    val streams = Rpc.decodeAddRequest(bytes)
    val rows = streams.flatMap { s =>
      s.values.map { case (ts, dv, sv, ets) =>
        (s.variable.name, s.variable.labels, s.variable.valueType,
          ts, dv, sv, ets)
      }
    }
    val df = rows.toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")
    // ingest-time retention DROP (server/store.cc:428-434); an empty
    // policy means "not configured", NOT default-drop-everything
    val (ok, bad) = Engine.add(df, hostname = "http", nowMs = nowMs(),
      policy = if (retention.items.nonEmpty) Some(retention) else None)
    val (nBad, writeMs) = timed {
      // One append at a time: with the handler pool, two concurrent
      // Spark appends to the same path race on the shared _temporary
      // staging dir (the first commitJob deletes the second's files).
      writeLock.synchronized(PointSource.append(spark, ok, storeDir, "/add"))
      bad.count()
    }
    Rpc.encodeAddResponse(nBad == 0,
      if (nBad == 0) None else Some(s"$nBad streams rejected"),
      timers = Seq("write streams" -> writeMs))
  })

  // Config discovery: base64(StoreConfig) — the C++ façade's /get_config
  // (server/store.cc:75,86-95) and the Go server's /config
  // (go/src/store.go:232-234,271) are the same payload at two paths.
  private val configHandler = handler { _ =>
    Rpc.encodeStoreConfig(
      Seq(Rpc.StoreServerInfo(
        address = s"localhost:$boundPort", state = 2 /* RUN */,
        lastUpdated = nowMs())),
      retention)
  }
  server.createContext("/get_config", configHandler)
  server.createContext("/config", configHandler)

  // Human-readable store status page (the reference's template-rendered
  // /status, go/src/store.go:241-255, server/store.cc:97-120): date
  // partitions with file counts and bytes, filesystem-only (no Spark job).
  server.createContext("/status", (ex: HttpExchange) => {
    val parts =
      try {
        val root = new java.io.File(storeDir)
        root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("date="))
          .sortBy(_.getName)
          .map { d =>
            val fs = d.listFiles().filter(_.isFile)
            s"<tr><td>${d.getName}</td><td>${fs.length}</td>" +
              s"<td>${fs.map(_.length()).sum}</td></tr>"
          }.mkString
      } catch { case _: Throwable => "" }
    // session-cache observability: each cache kind exists to skip
    // per-call filesystem/Spark work, so its hit rate belongs here
    // Spark's generated-class cache exposes no hit count: each compile
    // is a miss, so the row reports compilations and their total time
    val (cgN, cgMs) = graft.SparkInit.codegenStats
    val caches = graft.SessionCache.stats.map { case (kind, n, hits, misses) =>
        s"<tr><td>$kind</td><td>$n</td><td>$hits</td><td>$misses</td></tr>"
      }.mkString +
      s"<tr><td>generated classes (max ${spark.conf.get("spark.sql.codegen.cache.maxEntries")})</td>" +
      f"<td colspan=\"3\">$cgN compilations, $cgMs%.0f ms compiling</td></tr>"
    val body = ("<html><head><title>Store Status</title></head><body>" +
      s"<h1>Store Status</h1><p>store: $storeDir</p>" +
      "<table><tr><th>partition</th><th>files</th><th>bytes</th></tr>" +
      parts + "</table>" +
      "<h2>Session caches</h2>" +
      "<table><tr><th>memo</th><th>entries</th><th>hits</th><th>misses</th></tr>" +
      caches + "</table></body></html>").getBytes("UTF-8")
    try {
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
    } finally ex.close()
  })

  server.createContext("/health", (ex: HttpExchange) => {
    val body = "OK".getBytes("UTF-8")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  })

  // plain-text launch args, the Go server's debug endpoint
  // (go/src/store.go:228-230,270)
  server.createContext("/args", (ex: HttpExchange) => {
    val body = (argv.mkString("[", " ", "]") + "\n").getBytes("UTF-8")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  })

  def start(): StoreHttpServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** `runMain graft.http.StoreHttpServer --store=<dir> [--port=N]
  * [--config=<config.txt>]` — `--config` takes the reference's
  * text-format store config (config.txt): its retention policy goes
  * live at /add ingest and is served back on /get_config, exactly the
  * reference server's startup contract (server/store.cc:72-95). */
object StoreHttpServer {
  /** Default driver-side bound: the values of a /get, the series of a /list. */
  val DefaultMaxResponseValues = 500000

  /** Thrown when a /get or /list would exceed the response cap;
    * mapped to HTTP 413 with the reason in the wire error field. */
  final class ResponseTooLarge(msg: String) extends RuntimeException(msg)

  def main(args: Array[String]): Unit = {
    val opts = args.filter(_.startsWith("--"))
      .map(_.stripPrefix("--").split("=", 2)).collect {
        case Array(k, v) => k -> v }.toMap
    val store = opts.getOrElse("store",
      sys.env.getOrElse("GRAFT_STORE",
        throw new IllegalArgumentException("--store=<path> required")))
    val retention = opts.get("config")
      .map(p => graft.config.StoreConfig.parseFile(p).retention)
      .getOrElse(graft.retention.Retention.Policy(Nil))
    val spark = graft.SparkInit.session(sys.env.getOrElse("GRAFT_MASTER", "local[4]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val s = new StoreHttpServer(spark, store,
      opts.get("port").map(_.toInt).getOrElse(8020),
      retention = retention,
      argv = args.toSeq,
      // --mutation_semantics=cpp -> one stream per mutation (C++ servers)
      cppMutationSemantics =
        opts.get("mutation_semantics").contains("cpp"),
      // --tier=gorilla serves get/list from a writeGorilla cold tier;
      // --tier=tiered spans hot + --cold=<path> in one read surface
      tier = opts.getOrElse("tier", "parquet"),
      coldDir = opts.get("cold"),
      // --max_response_values bounds the driver collect of /get and /list
      maxResponseValues = opts.get("max_response_values").map(_.toInt)
        .getOrElse(DefaultMaxResponseValues)).start()
    println(s"LISTENING=${s.boundPort}")
    Thread.currentThread().join()
  }
}
