package graft

import graft.api.{Engine, Requests}
import graft.operators.Aggregations
import graft.sources.PointSource

/** Warm requests must not recompile: Spark's generated-class cache
  * ([[SparkInit.CodegenCacheEntries]]) holds the classes of every serve
  * request shape at once, so a warm pass over the four shapes the wire
  * store answers compiles nothing. With a cache smaller than that
  * working set, each shape evicts classes the next one needs and every
  * pass recompiles. */
class CodegenCacheSpec extends SparkSpec {

  private val StepMs = 60000L
  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val Steps = 360         // six hours of one-minute samples
  private val WarmPasses = 3

  /** A collector-shaped store: per host, four cpu gauges, a load gauge,
    * two RATE byte counters and an os-name string. */
  private def fixture(): String = {
    import spark.implicits._
    val rows = for {
      h <- Seq("h0", "h1", "h2")
      (name, vtype, extra, value) <- (0 until 4).map(c =>
          ("/system/cpu/usage", "GAUGE", Map("cpu" -> c.toString),
            (k: Int) => Some(((k * 7 + c) % 101).toDouble))) ++
        Seq(("/system/load", "GAUGE", Map.empty[String, String],
          (k: Int) => Some((k % 17) / 4.0))) ++
        Seq("eth0", "eth1").map(i =>
          ("/network/interface/stats/read_bytes", "RATE", Map("interface" -> i),
            (k: Int) => Some(1e6 + 1500.0 * 60 * k))) ++
        Seq(("/openinstrument/process/os-name", "UNKNOWN", Map.empty[String, String],
          (_: Int) => Option.empty[Double]))
      k <- 0 until Steps
    } yield (name, Map("host" -> h, "hostname" -> "collector") ++ extra, vtype,
      T0 + k * StepMs, value(k), if (value(k).isEmpty) Some("Linux") else None,
      Option.empty[Long])
    val store = java.nio.file.Files.createTempDirectory("graft_codegen").toString + "/s"
    PointSource.write(
      rows.toDF("name", "labels", "value_type", "ts", "dval", "sval", "end_ts"), store)
    store
  }

  test("a warm pass over the four serve request shapes compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SparkInit.CodegenCacheEntries.toString)
    val store = fixture()
    val (lo, hi) = (Some(T0 + 3600000L), Some(T0 + Steps * StepMs))
    // the shapes the wire store serves, materialized the way /get and
    // /list do: a bounded collect over a fresh read of the store
    val shapes: Seq[(String, () => Int)] = Seq(
      "raw series" -> Requests.GetRequest("/system/cpu/usage{host=h1,cpu=2}", lo, hi),
      "rate mean=5m aggregate=host" -> Requests.GetRequest(
        "/network/interface/stats/read_bytes", lo, hi,
        mutations = Seq(Requests.Rate(), Requests.Mean(300000L)),
        aggregations = Seq(Requests.AggregationSpec(Aggregations.Average, Seq("host")))),
      "interpolate=1h" -> Requests.GetRequest("/system/load{host=h0}", lo, hi,
        mutations = Seq(Requests.Interpolate(3600000L)))
    ).map { case (n, req) => n -> (() =>
        Engine.get(PointSource.read(spark, store), req).limit(500001).collect().length)
    } :+ ("list" -> (() => Engine.list(PointSource.read(spark, store),
      Requests.ListRequest("/system/*"), T0 + Steps * StepMs).collect().length))

    def pass(): Seq[(String, Int, Long)] = shapes.map { case (n, run) =>
      val c0 = SparkInit.codegenStats._1
      val rows = run()
      (n, rows, SparkInit.codegenStats._1 - c0)
    }
    val cold = pass()
    assert(cold.forall(_._2 > 0), cold)
    // AQE picks a join's broadcast side by which shuffle stage finishes
    // first, so a warm pass can still meet a plan variant the cold pass
    // did not build: a new class, not an eviction. There are few such
    // variants, so a clean pass comes within WarmPasses; an evicting
    // cache recompiles on every pass
    def clean(p: Seq[(String, Int, Long)]) = p.forall(_._3 == 0L)
    val warm = scala.collection.mutable.Buffer.empty[Seq[(String, Int, Long)]]
    while (warm.size < WarmPasses && !warm.lastOption.exists(clean)) warm += pass()
    warm.foreach(p => assert(p.map(_._2) == cold.map(_._2)))
    assert(clean(warm.last),
      s"every warm pass recompiled (shape, rows, compiles): $warm; cold pass: $cold")
  }
}
