package graft.perfbench

import graft.cli.Curate
import graft.dedup.Dedup
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** `curate_incr`: seeded increments through `Curate.runIncremental`
  * against one growing at-rest minhash index. */
object CurateIncr {
  val PerInc = 800
  /** Size of increment 1, the set-up's warm-up. The first runIncremental
    * in a JVM pays codegen and JIT compilation: it takes about 10 s longer
    * than a warm one whatever its size, and varies about three times as
    * much from run to run, so the window times warm increments only. */
  val WarmDocs = 200

  private def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val x = f; (x, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a DataFrame to completion without collecting it. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Checks one increment's report and output; returns its output digest. */
  private def check(ctx: Ctx, r: Report, i: Int, rep: Curate.Report,
                    input: Vector[Corpus.Doc], out: Path): String = {
    val rows = ctx.spark.read.parquet(out.toString).select("doc_id", "clean_text", "split")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2))).sortBy(_._1)
    val ids = input.map(_.doc_id).toSet
    val errs = Seq(
      Option.when(rep.nFinal != rows.length)(s"n_final ${rep.nFinal} != ${rows.length} rows written"),
      Option.when(!rows.forall(x => ids.contains(x._1)))("output doc_id not in its input"),
      Option.when(rows.map(_._2).distinct.length != rows.length)("exact-duplicate texts remain"),
      Option.when(i > 0 && rep.nDupVsCorpus <= 0)("no near-duplicates found against the corpus"),
      Option.when(rows.isEmpty)("empty output"))
    r.op(errs.flatten.headOption.map(e => s"increment $i: $e"))
    Gen.digest(rows.iterator.map(_.toString))
  }

  def run(ctx: Ctx): Report = {
    val r = new Report
    val spark = ctx.spark
    import spark.implicits._
    val incs = Corpus.increments(ctx.seed, i => if (i == 1) WarmDocs else PerInc)
    val dir = ctx.work.resolve("curate")
    def in(i: Int) = dir.resolve(s"in/inc=$i").toString
    def out(i: Int) = dir.resolve(s"out-$i")
    def write(i: Int, ds: Vector[Corpus.Doc]): Unit =
      ds.map(d => (d.doc_id, d.text, d.source)).toDF("doc_id", "text", "source")
        .coalesce(1).write.parquet(in(i))
    val index = dir.resolve("index").toString
    val base = incs.next()
    val warm = incs.next()
    val digests = ArrayBuffer.empty[String]
    val (_, indexS) = timedS {
      // increment 0 is the already-accepted corpus the index starts from
      write(0, base)
      Dedup.minhashIndex(spark.read.parquet(in(0)).select("doc_id", "text"), index)
    }
    val (warmRep, warmS) = timedS {
      write(1, warm)
      Curate.runIncremental(spark, in(1), out(1).toString, index)
    }
    r.setupS = indexS + warmS
    r.extra("setup_curate") = Map("index_s" -> indexS, "warm_increment_s" -> warmS)
    digests += check(ctx, r, 1, warmRep, warm, out(1))

    val j0 = JvmSample.now()
    // the window counts increment time only: writing the next input and
    // checking the output are the benchmark's work, not the user's
    val windowS = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
    val incMs = ArrayBuffer.empty[Double]
    val groups = ArrayBuffer.empty[(String, Long, Long, Long)]
    val inputs = ArrayBuffer(base, warm)
    var docs = 0L
    var i = 2
    while (incMs.sum / 1000 < windowS) {
      val ds = incs.next(); inputs += ds
      write(i, ds)
      val op = ctx.tracer.newOp()
      if (ctx.trace) spark.sparkContext.setJobGroup(s"op-$op", "increment", interruptOnCancel = false)
      val c0 = JvmSample.now().compiles; val fromMs = System.currentTimeMillis()
      val (rep, s) = timedS(ctx.tracer.span("op.increment", op)(ctx.tracer.span("cli.run_incremental", op)(
        Curate.runIncremental(spark, in(i), out(i).toString, index))))
      if (ctx.trace) spark.sparkContext.clearJobGroup()
      groups += ((s"op-$op", JvmSample.now().compiles - c0, fromMs, System.currentTimeMillis()))
      incMs += s * 1000; docs += ds.size
      digests += check(ctx, r, i, rep, ds, out(i))
      i += 1
    }
    val j1 = JvmSample.now()
    val secs = incMs.sum / 1000
    r.extra("increment_ms") = incMs.toSeq
    // the first three increments run on every run, so their inputs are
    // comparable across runs with the same seed
    r.extra("input_digest") = Corpus.digest(inputs.take(3).toSeq)
    r.latency("increment", incMs.toSeq)
    r.rate("docs_per_s", docs / secs, "docs/s", incMs.size)
    r.metric("op_p50_ms", Stats.median(incMs.toSeq), "ms", incMs.size)
    r.metric("work_per_s", docs / secs, "1/s", incMs.size)
    r.extra("output_digests") = digests.toSeq

    if (ctx.trace) {
      val tr = ctx.tracer
      val last = i - 1
      val docsDf = spark.read.parquet(in(last))
      val op = tr.newOp()
      tr.span("text.score", op)(materialize(Curate.score(docsDf)))
      tr.span("dedup.index_lookup", op)(materialize(Dedup.minhashLookup(spark, index,
        docsDf.withColumn("doc_id", -col("doc_id") - 1))))
      // append into a copy: the run's own index must not change
      val copy = dir.resolve("index-copy")
      copyTree(java.nio.file.Paths.get(index), copy)
      tr.span("dedup.index_append", op)(Dedup.minhashAppend(docsDf.select("doc_id", "text"), copy.toString))
      tr.span("dedup.cut_spans", op)(materialize(Dedup.cutContaminatedSpans(
        docsDf.select("doc_id", "text", "source"), col("source") === "src1", l = 8)))
      tr.span("dedup.strip_boiler", op)(materialize(Dedup.stripBoilerplateSegments(
        docsDf.select("doc_id", "text"))))
      val pairs = tr.span("dedup.lsh_pairs", op) {
        val p = Dedup.minhashLshPairs(docsDf.select("doc_id", "text")).select("id_a", "id_b").cache()
        p.count(); p
      }
      tr.span("dedup.dup_groups", op)(materialize(Dedup.duplicateGroups(pairs)))
      pairs.unpersist(false)
      ctx.probe.quiesce()
      val costs = groups.map(g => ctx.probe.forGroup(g._1, g._3, g._4)).toSeq
      Layers.sparkPerOp(r, "increment", costs, groups.map(_._2).toSeq)
      Layers.put(r, "cli.increment_ms", Stats.median(incMs.toSeq))
      Layers.put(r, "cli.actions_per_increment", Stats.median(costs.map(_.jobs.toDouble)))
      Seq("text.score" -> "text.score_ms", "dedup.index_lookup" -> "dedup.index_lookup_ms",
        "dedup.index_append" -> "dedup.index_append_ms", "dedup.cut_spans" -> "dedup.cut_spans_ms",
        "dedup.strip_boiler" -> "dedup.strip_boiler_ms", "dedup.lsh_pairs" -> "dedup.lsh_pairs_ms",
        "dedup.dup_groups" -> "dedup.dup_groups_ms").foreach { case (s, m) =>
        Layers.put(r, m, tr.medianMs(s))
      }
      Layers.put(r, "dedup.index_files", Layers.files(java.nio.file.Paths.get(index))._1.toDouble)
      Layers.window(r, ctx.probe.forInterval(groups.head._3, groups.last._4),
        incMs.size, j0, j1, ctx.cores)
    }
    r
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
