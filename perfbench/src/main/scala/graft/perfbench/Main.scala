package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload run needs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                     work: Path, cores: Int, tracer: Tracer, probe: SparkProbe) {
  def deadlineNs(from: Long = System.nanoTime()): Long = from + seconds * 1000000000L
}

/** Results of one run: end-to-end metrics, the surface metrics named
  * per workload, per-layer metrics, op counts and check failures. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val surface = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Seconds the workload's own set-up took (inputs, store or index, warm-up). */
  var setupS = 0.0
  private var attempted = 0L
  private var failed = 0L

  def metric(name: String, value: Double, unit: String, n: Int): Unit = synchronized {
    metrics(name) = (value, unit); samples(name) = n
  }
  def layer(name: String, value: Double, unit: String): Unit = synchronized {
    layers(name) = (value, unit)
  }
  /** A latency surface metric: median plus the highest tail the sample
    * count supports; the tail's name states its percentile. */
  def latency(name: String, xs: Seq[Double]): Unit = synchronized {
    surface(s"${name}_p50_ms") = Map("value" -> (if (xs.isEmpty) 0.0 else Stats.median(xs)),
      "unit" -> "ms", "samples" -> xs.size)
    Stats.highestTail(xs.size).foreach { p =>
      surface(s"${name}_p${p}_ms") = Map("value" -> Stats.quantile(xs, p / 100.0),
        "unit" -> "ms", "samples" -> xs.size)
    }
  }
  def rate(name: String, value: Double, unit: String, n: Long): Unit = synchronized {
    surface(name) = Map("value" -> value, "unit" -> unit, "samples" -> n)
  }
  /** Counts one op; a non-empty error marks it failed. */
  def op(error: Option[String]): Boolean = synchronized {
    attempted += 1
    error.foreach { e => failed += 1; if (failures.size < 20) failures += e }
    error.isEmpty
  }
  def fail(error: String): Unit = op(Some(error))
  def counts: (Long, Long) = synchronized((attempted, failed))
}

object Main {
  private val Workloads: Map[String, Ctx => Report] = Map(
    "serve_read" -> Serve.read,
    "curate_incr" -> CurateIncr.run)

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.SparkInit.common(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = o.getOrElse(k, sys.error(s"--$k is required"))
    val name = need("workload")
    val wl = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = Paths.get(need("work")).toAbsolutePath
    val cores = o.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val trace = need("trace") == "1"
    Files.createDirectories(work)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val probe = new SparkProbe
    if (trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe.queryListener)
    }
    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toInt, trace, work, cores,
      new Tracer(trace), probe)
    val rep = try wl(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        val r = new Report; r.fail(s"workload aborted: $e"); r
    }
    val (attempted, failed) = rep.counts
    rep.metric("setup_s", sessionS + rep.setupS, "s", 1)
    rep.metric("rss_peak_mb", JvmSample.rssPeakMb(), "MB", 1)
    rep.extra("memory_mb") = JvmSample.memoryParts()
    rep.rate("ops_failed_frac", if (attempted == 0) 1.0 else failed.toDouble / attempted,
      "ratio", attempted)
    if (trace) {
      // what the run keeps: heap in use after a full collection, taken
      // after every timing
      System.gc()
      Layers.put(rep, "jvm.heap_live_mb",
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
      Layers.fillMissing(rep)
      ctx.tracer.dump(work.resolve("spans.jsonl"))
    }
    val out = Map(
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> trace,
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> rep.failures,
      "metrics" -> rep.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> rep.samples, "surface" -> rep.surface,
      "layers" -> rep.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> rep.setupS),
      "extra" -> rep.extra,
      "stamp" -> Map("cores" -> cores, "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString))
    Files.write(Paths.get(need("out")), Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }
}
