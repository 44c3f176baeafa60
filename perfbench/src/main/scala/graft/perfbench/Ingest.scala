package graft.perfbench

import graft.streaming.StreamIngest
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import Collector.Series

/** File-drop ingest through `StreamIngest.ingest`: the way `serve_read`
  * builds its store. */
object Ingest {
  /** One ingest run: its wall-clock bounds, the time of its first
    * progress, its summed progress durations and codegen compilations. */
  final case class Cycle(callMs: Long, doneMs: Long, firstProgressMs: Long,
                         durations: Map[String, Long], compiles: Long)

  /** A source directory, checkpoint and store, plus staged drop files. */
  final class Fixture(val dir: Path) {
    val staging: Path = dir.resolve("staging")
    val source: Path = dir.resolve("source")
    val store: Path = dir.resolve("store")
    val ckpt: Path = dir.resolve("checkpoint")
    var next = 0
    var stored = 0L
    /** Data files of the store already accounted to a cycle. */
    val seen = scala.collection.mutable.Set.empty[Path]
  }

  /** Writes `drops` files, one per `stepsPerDrop` steps of every series:
    * one partition per drop, so no shuffle. */
  def stage(spark: SparkSession, series: Vector[Series], stepsPerDrop: Int, drops: Int,
            f: Fixture): Unit = {
    Collector.frame(spark, series, 0, drops.toLong * stepsPerDrop, drops)
      .write.parquet(f.staging.toString)
    Files.createDirectories(f.source)
  }

  /** Rows in the store's data files that no earlier cycle accounted for,
    * read from the parquet footers (no Spark job). */
  private def newRows(ctx: Ctx, f: Fixture): Long = {
    val s = Files.walk(f.store)
    val fresh = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith(".")
    }.filterNot(f.seen.contains).toSeq finally s.close()
    f.seen ++= fresh
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    fresh.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def stagedFile(f: Fixture, c: Int): Path = {
    val prefix = f"part-$c%05d-"
    val s = Files.list(f.staging)
    try s.iterator().asScala.find { p =>
      val n = p.getFileName.toString; n.startsWith(prefix) && n.endsWith(".parquet")
    }.getOrElse(sys.error(s"drop $c was not staged"))
    finally s.close()
  }

  /** One cycle: drop the next `files` staged files, run the ingest to
    * completion, and check exactly-once for this cycle. */
  def cycle(ctx: Ctx, r: Report, f: Fixture, files: Int, rowsPerFile: Long): Cycle = {
    val c0 = JvmSample.now().compiles
    val first = f.next
    val from = (first until first + files).map(stagedFile(f, _))
    f.next += files
    from.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, f.source.resolve(s"drop-${first + i}.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    val callMs = System.currentTimeMillis()
    val op = ctx.tracer.newOp()
    val q = ctx.tracer.span("op.cycle", op)(ctx.tracer.span("streaming.ingest", op) {
      val q = StreamIngest.ingest(ctx.spark, f.source.toString, f.store.toString, f.ckpt.toString)
      q.awaitTermination(); q
    })
    val doneMs = System.currentTimeMillis()
    val progress = q.recentProgress.toSeq
    val rows = progress.map(_.numInputRows).sum
    val want = rowsPerFile * files
    f.stored += rows
    val written = newRows(ctx, f)
    r.op(q.exception.map(e => s"ingest of drop $first: $e")
      .orElse(Option.when(rows != want)(s"drop $first: ingested $rows rows of $want dropped"))
      .orElse(Option.when(written != want)(s"drop $first: the store gained $written rows, $want dropped")))
    val firstProgress = progress.headOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
      .getOrElse(doneMs)
    val durations = progress.flatMap(_.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue })
      .groupMapReduce(_._1)(_._2)(_ + _)
    Cycle(callMs, doneMs, firstProgress, durations, JvmSample.now().compiles - c0)
  }

  /** The store read through the sink's log holds every row dropped, once. */
  def checkStore(ctx: Ctx, r: Report, f: Fixture): Unit = {
    val inStore = ctx.spark.read.parquet(f.store.toString).count()
    r.op(Option.when(inStore != f.stored)(s"store holds $inStore rows, ${f.stored} ingested"))
  }

  /** The `streaming.*` layer figures of `cycles`, plus their Spark cost. */
  def streamingLayers(ctx: Ctx, r: Report, f: Fixture, cycles: Seq[Cycle]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Layers.put(r, "streaming.start_ms", med(cycles.map(c => (c.firstProgressMs - c.callMs).toDouble)))
    Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
      "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
      "latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms").foreach { case (k, m) =>
      Layers.put(r, s"streaming.$m", med(cycles.flatMap(_.durations.get(k)).map(_.toDouble)))
    }
    val logs = Seq(f.ckpt.resolve("offsets"), f.ckpt.resolve("commits"),
      f.store.resolve("_spark_metadata")).map { d =>
      val s = Files.list(d)
      try s.iterator().asScala.count(p => !p.getFileName.toString.startsWith(".")) finally s.close()
    }.sum
    Layers.put(r, "streaming.log_files", logs.toDouble)
    Layers.sparkPerOp(r, "cycle", cycles.map(c => ctx.probe.forInterval(c.callMs, c.doneMs)),
      cycles.map(_.compiles))
  }
}
