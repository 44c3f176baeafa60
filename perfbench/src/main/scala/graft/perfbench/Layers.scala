package graft.perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics every traced run reports. A metric of a layer
  * the workload does not exercise reads 0. */
object Layers {
  val WireOps = Seq("get_series", "get_rate_agg", "get_interp", "list")
  /** Op types: the serve requests, one curation increment, one ingest run. */
  val Ops: Seq[String] = WireOps ++ Seq("increment", "cycle")

  private val PerOp = Seq("plan_ms" -> "ms", "exec_ms" -> "ms", "jobs_per_op" -> "count",
    "stages_per_op" -> "count", "tasks_per_op" -> "count", "task_run_ms" -> "ms",
    "codegen_compiles" -> "count")

  val All: Seq[(String, String)] =
    Seq("http.server_timer_ms" -> "ms", "http.outside_timer_ms" -> "ms",
      "http.rejected" -> "count",
      "wire.encode_us" -> "us", "wire.decode_us" -> "us") ++
    WireOps.flatMap(o => Seq(s"wire.req_bytes.$o" -> "bytes", s"wire.resp_bytes.$o" -> "bytes")) ++
    Seq("sources.read_ms" -> "ms", "sources.store_files" -> "count",
      "sources.bytes_per_point" -> "bytes", "sources.rows_scanned_per_row_returned" -> "ratio",
      "api.build_ms" -> "ms",
      "operators.self_ms.get_rate_agg" -> "ms", "operators.self_ms.get_interp" -> "ms") ++
    // a streaming micro-batch never reaches the QueryExecutionListener,
    // so an ingest run has no plan_ms (streaming.query_planning_ms has it)
    PerOp.flatMap { case (m, u) => Ops.map(o => s"spark.$m.$o" -> u) }
      .filterNot(_._1 == "spark.plan_ms.cycle") ++
    Seq("spark.codegen_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
      "spark.scheduler_delay_ms" -> "ms", "spark.core_busy_frac" -> "ratio",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
      "spark.input_rows" -> "count", "spark.input_bytes" -> "bytes",
      "spark.failed_tasks" -> "count",
      "streaming.start_ms" -> "ms", "streaming.trigger_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
      "streaming.get_batch_ms" -> "ms", "streaming.log_files" -> "count",
      "cli.increment_ms" -> "ms", "cli.actions_per_increment" -> "count",
      "text.score_ms" -> "ms",
      "dedup.index_lookup_ms" -> "ms", "dedup.index_append_ms" -> "ms",
      "dedup.index_files" -> "count", "dedup.cut_spans_ms" -> "ms",
      "dedup.strip_boiler_ms" -> "ms", "dedup.lsh_pairs_ms" -> "ms",
      "dedup.dup_groups_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_live_mb" -> "MB")

  private val units = All.toMap

  def put(r: Report, name: String, value: Double): Unit =
    r.layer(name, value, units.getOrElse(name, sys.error(s"undeclared layer metric $name")))

  def fillMissing(r: Report): Unit =
    All.foreach { case (n, u) => if (!r.layers.contains(n)) r.layer(n, 0.0, u) }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-op Spark medians for ops of type `op`; `compiles` are the
    * codegen compilations counted around each op. */
  def sparkPerOp(r: Report, op: String, costs: Seq[SparkCost], compiles: Seq[Long]): Unit = {
    if (units.contains(s"spark.plan_ms.$op")) put(r, s"spark.plan_ms.$op", med(costs.map(_.planMs)))
    put(r, s"spark.exec_ms.$op", med(costs.map(_.execMs)))
    put(r, s"spark.jobs_per_op.$op", med(costs.map(_.jobs.toDouble)))
    put(r, s"spark.stages_per_op.$op", med(costs.map(_.stages.toDouble)))
    put(r, s"spark.tasks_per_op.$op", med(costs.map(_.tasks.toDouble)))
    put(r, s"spark.task_run_ms.$op", med(costs.map(_.taskRunMs)))
    put(r, s"spark.codegen_compiles.$op", med(compiles.map(_.toDouble)))
  }

  /** Window-level Spark and JVM figures; totals are per op of the window. */
  def window(r: Report, c: SparkCost, ops: Int, from: JvmSample, to: JvmSample,
             cores: Int): Unit = {
    val n = math.max(ops, 1).toDouble
    val wallMs = (to.wallNs - from.wallNs) / 1e6
    put(r, "spark.codegen_ms", (to.compileMsSum - from.compileMsSum) / n)
    put(r, "spark.task_cpu_ms", c.taskCpuMs / n)
    put(r, "spark.scheduler_delay_ms", med(c.schedDelaysMs))
    put(r, "spark.core_busy_frac", c.taskRunMs / (wallMs * cores))
    put(r, "spark.shuffle_write_bytes", c.shuffleWrite / n)
    put(r, "spark.shuffle_read_bytes", c.shuffleRead / n)
    put(r, "spark.spill_bytes", c.spill / n)
    put(r, "spark.task_skew", c.skew)
    put(r, "spark.input_rows", c.inputRows / n)
    put(r, "spark.input_bytes", c.inputBytes / n)
    put(r, "spark.failed_tasks", c.failedTasks.toDouble)
    put(r, "jvm.gc_ms", (to.gcMs - from.gcMs).toDouble)
  }

  /** Data files under a directory tree and their total bytes. */
  def files(dir: java.nio.file.Path): (Int, Long) = {
    val s = java.nio.file.Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet")
      }.toSeq
      (fs.size, fs.map(java.nio.file.Files.size).sum)
    } finally s.close()
  }
}
