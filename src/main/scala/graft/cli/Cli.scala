package graft.cli

import graft.api.{Engine, Requests}
import graft.operators.Aggregations
import graft.sources.PointSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Thin CLI with the reference clients' argument language
 * (go/src/get.go:61-145, go/src/list.go:72-96, client/cpp/add.cc:28-60):
 *
 *   get <variable> [rate|rate_signed|delta] [interpolate=<dur>]
 *       [mean=<dur>] [min=<dur>] [max=<dur>] [latest=<dur>]
 *       [ewma=<dur>] [anomaly=<dur>] [holt=<dur>:<dur>]
 *       [sliding=<width>:<hop>]
 *       [aggregate=<label>|name ...] [agg=avg|sum|min|max|median]
 *       [interval=<dur>] [max_variables=N] [max_values=N]
 *       [auto_rate] [independent]
 *   list <prefix> [max_age=<dur>] [max_variables=N]
 *   add <var:value@ts_ms> ...
 *   alerts <variable> alert=<threshold> [min_periods=N] [interval=<dur>]
 *          [agg=avg|sum|min|max|median] [condition=GT|GE|LT|LE]
 *   alerts config=<path>           # all alert{} rules from a config file
 *   alerts config=<path> follow=<dir> [watermark=<dur>]
 *                                  # LIVE: stream episodes from a watched
 *                                  # point-parquet directory (console sink)
 *
 * Engine extensions beyond the reference grammar: `aggregate=` may
 * repeat (each block captures the agg=/interval= settings in effect),
 * `auto_rate` rates RATE-tagged series server-side, `independent`
 * applies each mutation to the raw stream (C++ semantics) instead of
 * chaining (Go), and `alerts` evaluates threshold-episode rules
 * (reference config.txt syntax via StoreConfig, or ad-hoc flags).
 *
 * Store location: --store=<path> or GRAFT_STORE env (Parquet point
 * layout written by PointSource.write / the streaming sink).
 */
object Cli {

  /** "5m" / "12h" / "300s" / "1d" / "1w" / "1y" → ms
    * (duration grammar of lib/timer.h:178-194). */
  def parseDuration(s: String): Long = {
    val m = "^(\\d+)(ms|s|m|h|d|w|y)?$".r
    s match {
      case m(n, unit) =>
        val mult = unit match {
          case "ms" => 1L
          case "s" => 1000L
          case null | "m" => 60000L
          case "h" => 3600000L
          case "d" => 86400000L
          case "w" => 7L * 86400000L
          case "y" => 365L * 86400000L
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(s"bad duration: $s")
    }
  }

  private def kv(arg: String): Option[(String, String)] =
    arg.split("=", 2) match {
      case Array(k, v) => Some((k, v))
      case _ => None
    }

  /** get-args → GetRequest (mutation order follows argument order, as
    * the reference chains them). Extensions beyond the reference
    * argument language: repeated `aggregate=` args (each captures the
    * `agg=`/`interval=` settings seen so far), `auto_rate` (rate
    * RATE-tagged series server-side), `independent` (C++
    * stream-per-mutation semantics instead of the Go chain), `rle`
    * (RLE output encoding: runs with `end_ts` instead of dense grid
    * rows — GetRequest.rleOutput). */
  def parseGet(variable: String, args: Seq[String]): Requests.GetRequest = {
    var muts = Vector.empty[Requests.MutationSpec]
    var aggs = Vector.empty[Requests.AggregationSpec]
    var aggType: Aggregations.AggType = Aggregations.Average
    var interval = Aggregations.DefaultIntervalMs
    var maxVars: Option[Int] = None
    var maxVals: Option[Int] = None
    var autoRate = false
    var chain = true
    var rle = false
    args.foreach { a =>
      (a, kv(a)) match {
        case ("rate", _) => muts :+= Requests.Rate()
        case ("rate_signed", _) => muts :+= Requests.RateSigned()
        case ("delta", _) => muts :+= Requests.Delta
        case (_, Some(("interpolate", d))) => muts :+= Requests.Interpolate(parseDuration(d))
        case (_, Some(("uniform", d))) => muts :+= Requests.Uniform(parseDuration(d))
        case (_, Some(("mean", d))) => muts :+= Requests.Mean(parseDuration(d))
        case (_, Some(("min", d))) => muts :+= Requests.MinM(parseDuration(d))
        case (_, Some(("max", d))) => muts :+= Requests.MaxM(parseDuration(d))
        case (_, Some(("latest", d))) => muts :+= Requests.Latest(parseDuration(d))
        case (_, Some(("stddev", d))) => muts :+= Requests.StdDev(parseDuration(d))
        case (_, Some(("ewma", d))) => muts :+= Requests.Ewma(parseDuration(d))
        case (_, Some(("anomaly", d))) => muts :+= Requests.Anomaly(parseDuration(d))
        case (_, Some(("lttb", d))) => muts :+= Requests.Lttb(parseDuration(d))
        case (_, Some(("holt", d))) => d.split(":", 2) match {
          case Array(tl, tt) =>
            muts :+= Requests.Holt(parseDuration(tl), parseDuration(tt))
          case _ => throw new IllegalArgumentException(
            s"holt wants <tau_level>:<tau_trend>, got: $d")
        }
        // sliding=<width>:<hop> — window agg picked by the CURRENT agg=
        // value (avg default), like aggregate= flags
        case (_, Some(("sliding", d))) => d.split(":", 2) match {
          case Array(w, h) =>
            muts :+= Requests.Sliding(parseDuration(w), parseDuration(h), aggType)
          case _ => throw new IllegalArgumentException(
            s"sliding wants <width>:<hop>, got: $d")
        }
        case (_, Some(("agg", t))) =>
          aggType = t match {
            case "avg" => Aggregations.Average
            case "sum" => Aggregations.Sum
            case "min" => Aggregations.Min
            case "max" => Aggregations.Max
            case "median" => Aggregations.Median
          }
        case (_, Some(("interval", d))) => interval = parseDuration(d)
        case (_, Some(("aggregate", "name"))) =>
          aggs :+= Requests.AggregationSpec(aggType, Nil, interval)
        case (_, Some(("aggregate", label))) =>
          aggs :+= Requests.AggregationSpec(aggType, Seq(label), interval)
        case ("auto_rate", _) => autoRate = true
        case ("independent", _) => chain = false
        case ("rle", _) => rle = true
        case (_, Some(("max_variables", n))) => maxVars = Some(n.toInt)
        case (_, Some(("max_values", n))) => maxVals = Some(n.toInt)
        case _ => throw new IllegalArgumentException(s"unknown get arg: $a")
      }
    }
    // agg settings given after the last aggregate= flag apply to it
    if (aggs.nonEmpty)
      aggs = aggs.init :+ aggs.last.copy(agg = aggType, sampleIntervalMs = interval)
    Requests.GetRequest(variable, mutations = muts, aggregations = aggs,
      maxVariables = maxVars, maxValues = maxVals,
      autoRate = autoRate, chainMutations = chain, rleOutput = rle)
  }

  private val alertFlagKeys =
    Set("alert", "min_periods", "interval", "agg", "condition", "config")

  /** `alerts` args → rules: a config file, or one ad-hoc rule from the
    * `alert=` threshold flag (+ optional shaping flags). An arg is a
    * FLAG only when its `key=` prefix is a known flag name — a labeled
    * variable pattern (`/name{k=v}`) contains '=' too and must stay a
    * pattern, not be silently swallowed into the option map. */
  def parseAlerts(args: Seq[String]): Seq[graft.operators.Alerts.AlertRule] = {
    def isFlag(a: String): Boolean =
      kv(a).exists { case (k, _) => alertFlagKeys(k) }
    val opts = args.filter(isFlag).flatMap(kv).toMap
    // the pattern may sit anywhere among the flags; more than one
    // non-flag arg means one of them is a mistyped flag — fail loudly
    // naming ALL of them (we cannot tell the pattern from the typo)
    // rather than silently alerting fleet-wide
    val nonFlags = args.filterNot(isFlag)
    if (nonFlags.length > 1)
      throw new IllegalArgumentException(
        "alerts: cannot tell the variable pattern from a mistyped flag " +
          s"among: ${nonFlags.mkString(", ")}")
    opts.get("config") match {
      case Some(path) =>
        // config rules carry their own variable patterns; a stray
        // pattern arg here would be silently ignored — reject it
        if (nonFlags.nonEmpty)
          throw new IllegalArgumentException(
            s"alerts: config= rules define their own patterns; " +
              s"unexpected argument ${nonFlags.head}")
        // same strictness for ad-hoc shaping flags: config rules carry
        // their own thresholds/aggregations, so a combined
        // `config= alert=` invocation would silently drop the alert=
        // threshold — reject instead of ignoring
        val strayFlags = opts.keySet - "config"
        if (strayFlags.nonEmpty)
          throw new IllegalArgumentException(
            s"alerts: config= rules define their own shape; drop " +
              s"${strayFlags.toSeq.sorted.map(_ + "=").mkString(", ")}")
        graft.config.StoreConfig.parseFile(path).alerts
      case None =>
        val pattern = nonFlags.headOption.getOrElse("*")
        val threshold = opts.get("alert").map(_.toDouble).getOrElse(
          throw new IllegalArgumentException("alerts needs alert=<threshold> or config=<path>"))
        Seq(graft.operators.Alerts.AlertRule(
          patterns = Seq(pattern),
          agg = opts.getOrElse("agg", "avg") match {
            case "avg" => Aggregations.Average
            case "sum" => Aggregations.Sum
            case "min" => Aggregations.Min
            case "max" => Aggregations.Max
            case "median" => Aggregations.Median // batch evaluation only
            case other => throw new IllegalArgumentException(
              s"alerts agg=$other (want avg|sum|min|max|median)")
          },
          intervalMs = opts.get("interval").map(parseDuration)
            .getOrElse(Aggregations.DefaultIntervalMs),
          condition = graft.operators.Alerts.Condition(
            opts.getOrElse("condition", "GT")),
          threshold = threshold,
          minPeriods = opts.get("min_periods").map(_.toInt).getOrElse(1),
          comment = s"cli rule on $pattern"))
    }
  }

  /**
   * `alerts … follow=<dir> [watermark=<dur>]`: the LIVE evaluation —
   * episodes stream from a watched point-parquet directory
   * ([[graft.streaming.StreamIngest.alertRulesFollow]]) instead of a
   * batch store scan. Rules come from `config=` (the usual pairing) or
   * the ad-hoc flags; `follow=`/`watermark=` are consumed here and
   * invisible to rule parsing, so `config=`'s strictness about shaping
   * flags still holds. Returns the unbounded episode DataFrame — the
   * caller picks the sink (main uses console).
   */
  def alertsFollow(spark: SparkSession, args: Seq[String]): DataFrame = {
    val followKeys = Set("follow", "watermark")
    val opts = args.flatMap(kv).filter { case (k, _) => followKeys(k) }.toMap
    val dir = opts.getOrElse("follow",
      throw new IllegalArgumentException("alerts follow mode needs follow=<dir>"))
    val wmMs = opts.get("watermark").map(parseDuration).getOrElse(3600000L)
    val rules = parseAlerts(args.filterNot(a =>
      kv(a).exists { case (k, _) => followKeys(k) }))
    graft.streaming.StreamIngest.alertRulesFollow(spark, dir, rules,
      s"$wmMs milliseconds")
  }

  def run(spark: SparkSession, store: String, argv: Seq[String],
          nowMs: Long = System.currentTimeMillis()): DataFrame =
    argv match {
      case Seq("get", variable, rest @ _*) =>
        val req = parseGet(variable, rest)
        Engine.get(PointSource.read(spark, store, req.minTimestamp, req.maxTimestamp), req)
      case Seq("alerts", rest @ _*) =>
        graft.operators.Alerts.evaluateAll(
          PointSource.read(spark, store), parseAlerts(rest))
      case Seq("list", prefix, rest @ _*) =>
        val opts = rest.flatMap(kv).toMap
        val req = Requests.ListRequest(prefix,
          maxVariables = opts.get("max_variables").map(_.toInt),
          maxAgeMs = opts.get("max_age").map(parseDuration)
            .getOrElse(86400000L))
        Engine.list(PointSource.read(spark, store, Some(nowMs - req.maxAgeMs)),
          req, nowMs = nowMs)
      case other =>
        throw new IllegalArgumentException(
          s"""usage (got: $other):
             |  get <variable> [rate|rate_signed|delta] [interpolate=<dur>] [uniform=<dur>]
             |      [mean=<dur>] [min=<dur>] [max=<dur>] [agg=<type>] [interval=<dur>]
             |      [aggregate=<label,...>] [max_variables=N] [max_values=N]
             |      [auto_rate] [independent] [rle]
             |      e.g. get "/sys/cpu{host=*}" rate mean=5m aggregate=host
             |           get "/events/*" interpolate=1h rle   # runs with end_ts, not dense rows
             |  list <prefix> [max_variables=N] [max_age=<dur>]
             |  add <var:value@ts> ...
             |  collect            # one system-stats scrape into the store
             |  alerts config=<rules.txt> | sweep config=<config.txt>
             |  export <out> [...] ; curation: see graft.cli.Curate""".stripMargin)
    }

  /** `add <var:value@ts>`… appends to the store (client/cpp/add.cc:37-60). */
  def runAdd(spark: SparkSession, store: String, specs: Seq[String],
             nowMs: Long = System.currentTimeMillis()): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pat = "^(.*):([-0-9.eE]+)@(\\d+)$".r
    val rows = specs.map {
      case pat(v, value, ts) =>
        val parsed = graft.model.Variable.parse(v)
        (parsed.name, parsed.labels, ts.toLong, value.toDouble)
      case bad => throw new IllegalArgumentException(s"bad add spec: $bad")
    }
    val df = rows.toDF("name", "labels", "ts", "dval")
      .select(col("name"), col("labels"), lit("GAUGE").as("value_type"),
        col("ts"), col("dval"), lit(null).cast("string").as("sval"),
        lit(null).cast("long").as("end_ts"))
    val (ok, _) = Engine.add(df, java.net.InetAddress.getLocalHost.getHostName, nowMs)
    PointSource.append(spark, ok, store, "CLI add")
    ok.count()
  }

  /** `collect` — one system-stats scrape ingested into the store, the
    * reference collector's `system_status.py <store>` run (the engine
    * side of §2.4's data producers; the scrape itself is
    * [[graft.client.SystemStats.collect]]). Returns the point count. */
  def runCollect(spark: SparkSession, store: String,
                 nowMs: Long = System.currentTimeMillis()): Long = {
    val pts = graft.client.SystemStats.collect(nowMs = nowMs)
    val df = graft.client.SystemStats.toDataFrame(spark, pts)
    val (ok, _) = Engine.add(df,
      java.net.InetAddress.getLocalHost.getHostName, nowMs)
    PointSource.append(spark, ok, store, "CLI collect")
    ok.count()
  }

  /** `sweep config=<config.txt> [now=<epoch ms>]` — the retention
    * runner trigger ([[graft.sources.PointSource.retentionSweep]] over
    * the config's first-match policy). Returns the swept day keys. */
  def runSweep(spark: SparkSession, store: String,
               args: Seq[String]): Seq[String] = {
    val cfg = args.collectFirst { case a if a.startsWith("config=") =>
      a.stripPrefix("config=") }
      .getOrElse(throw new IllegalArgumentException(
        "sweep needs config=<store config.txt>"))
    val now = args.collectFirst { case a if a.startsWith("now=") =>
      a.stripPrefix("now=").toLong }
      .getOrElse(System.currentTimeMillis())
    val policy = graft.config.StoreConfig.parseFile(cfg).retention
    graft.sources.PointSource.retentionSweep(spark, store, policy, now)
  }

  /** `export <out> [<variable pattern>]` — migrate OUT: the at-rest
    * store (optionally scoped to one variable pattern, same grammar as
    * `get`) exports as reference-compatible framed record files via
    * the distributed V2 sink. Returns the exported point count. */
  def runExport(spark: SparkSession, store: String, out: String,
                pattern: Option[String]): Long = {
    val base = graft.sources.PointSource.read(spark, store)
    val scoped = pattern.fold(base)(p =>
      base.filter(graft.pattern.VariableMatcher.compile(p)))
    graft.sources.ProtoRecordV2.write(scoped, out)
    graft.sources.ProtoRecordV2.read(spark, out).count()
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val store = flags.collectFirst { case s if s.startsWith("--store=") =>
      s.stripPrefix("--store=") }
      .orElse(sys.env.get("GRAFT_STORE"))
      .getOrElse(throw new IllegalArgumentException("--store=<path> or GRAFT_STORE required"))
    val spark = graft.SparkInit.session(sys.env.getOrElse("GRAFT_MASTER", "local[4]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    rest.toSeq match {
      case Seq("add", specs @ _*) =>
        println(s"added ${runAdd(spark, store, specs)} points")
      // manual trigger of the background retention runner: applies the
      // config's retention policy to the at-rest store (the reference
      // does this inside store_file_manager's background loop)
      case Seq("collect") =>
        println(s"collected ${runCollect(spark, store)} system-stats points")
      case Seq("sweep", args @ _*) =>
        val swept = runSweep(spark, store, args)
        println(s"swept ${swept.size} day partitions: ${swept.mkString(", ")}")
      // migrate OUT: export the at-rest store (optionally one variable
      // pattern) back to reference-compatible framed record files via
      // the distributed V2 sink — the inverse of the record-file
      // migration path, so data round-trips graft <-> reference
      case Seq("export", out, rest2 @ _*) =>
        println(s"exported ${runExport(spark, store, out, rest2.headOption)}" +
          s" points to $out")
      case Seq("alerts", args @ _*) if args.exists(_.startsWith("follow=")) =>
        // live mode: episodes print as they close; runs until killed
        alertsFollow(spark, args)
          .writeStream.format("console").outputMode("append")
          .option("truncate", false).start()
          .awaitTermination()
      case argv =>
        run(spark, store, argv).show(100, truncate = false)
    }
    spark.stop()
  }
}
