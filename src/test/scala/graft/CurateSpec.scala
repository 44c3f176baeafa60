package graft

import graft.cli.Curate
import graft.functions.VectorOps
import graft.text.TextOps
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDInfo
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end spec for the composed curation pipeline CLI. */
class CurateSpec extends SparkSpec {

  private lazy val out =
    Files.createTempDirectory("graft-curate").toString + "/run1"
  private lazy val report = Curate.run(spark,
    "/root/testdata/sf0.001/documents.parquet", out)
  private lazy val result = spark.read.parquet(out)

  test("stage counts are monotone and the report matches the output") {
    assert(report.nInput >= report.nDeduped)
    assert(report.nDeduped >= report.nGated)
    // span cut returns exactly the gated non-bench docs (rows survive,
    // text shrinks)
    assert(report.nCut == report.nGated)
    assert(report.nFinal <= report.nCut)
    assert(report.nFinal > 0)
    assert(result.count() == report.nFinal)
    assert(report.perSplit.values.sum == report.nFinal)
  }

  test("no curated doc shares an ngram-window hash with the benchmark slice") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val benchH = docs.filter(col("source") === "src1")
      .select(explode(VectorOps.shingleHash60(
        TextOps.tokens(col("text")), 8)).as("g"))
      .distinct()
    val leaked = result
      .select(explode(VectorOps.shingleHash60(
        TextOps.tokens(col("clean_text")), 8)).as("g"))
      .join(benchH, "g")
    assert(leaked.count() == 0, "decontamination cut left a leaked window")
    // and no benchmark doc leaks into the output wholesale
    assert(result.filter(col("source") === "src1").count() == 0)
  }

  test("near-duplicate outputs never straddle a split") {
    val pairs = graft.dedup.Dedup.minhashLshPairs(
      result.select(col("doc_id"), col("clean_text").as("text")),
      n = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val splits = result.select("doc_id", "split")
    val straddle = pairs
      .join(splits.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(splits.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() == 0, "a near-dup pair crosses splits")
  }

  test("a training duplicate of a benchmark text never ships; null sources do") {
    import spark.implicits._
    // train doc 1 < bench doc 10 with IDENTICAL text: a dedup window
    // spanning bench rows would delete the BENCH copy and ship the
    // training duplicate uncut (the review-found ordering bug). Doc 3
    // has a NULL source — it must be treated as training data, not
    // silently dropped.
    val txt = "the secret eval answer is in the box ok"
    val docs = Seq(
      (1L, txt, Option("web")),
      (10L, txt, Option("bench")),
      (2L, "the cat and the dog is in a house of wonders", Option("web")),
      (3L, "the bird and the bee is on a tree now", Option.empty[String]))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft-curate-dup").toString
    docs.write.parquet(s"$dir/in")
    val rep = Curate.run(spark, s"$dir/in", s"$dir/out",
      benchSource = "bench", qualityMin = 0.0)
    val ids = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(1L), "benchmark-identical training doc shipped")
    assert(!ids.contains(10L), "benchmark doc shipped")
    assert(ids.contains(2L), "clean training doc lost")
    assert(ids.contains(3L), "null-source doc silently dropped")
    assert(rep.nInput == 4 && rep.nDeduped == 4)
  }

  test("the scoring stage runs bit-identical under Structured Streaming") {
    import org.apache.spark.sql.types._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val batch = Curate.score(spark.read.parquet(src))
      .select("doc_id", "quality", "lang_pred")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val outDir = Files.createTempDirectory("graft-curate-stream").toString
    // file sources stream DIRECTORIES; stage the single-file table
    Files.createDirectories(java.nio.file.Paths.get(s"$outDir/in"))
    Files.copy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(s"$outDir/in/part-0.parquet"))
    val q = Curate.score(
        spark.readStream.schema(schema).parquet(s"$outDir/in"))
      .select("doc_id", "quality", "lang_pred")
      .writeStream.format("parquet")
      .option("path", s"$outDir/out")
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$outDir/out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed == batch, "streamed scoring diverged from batch")
  }

  test("incremental runs drop corpus near-dups and grow the index, never re-shipping") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-inc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") < 100).write.parquet(s"$base/in1")
    docs.write.parquet(s"$base/in2") // full snapshot: re-crawls batch 1
    val r1 = Curate.runIncremental(spark, s"$base/in1", s"$base/out1",
      s"$base/idx")
    assert(r1.nDupVsCorpus == 0, "empty index cannot produce dups")
    val ids1 = spark.read.parquet(s"$base/out1")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1.nonEmpty)
    val r2 = Curate.runIncremental(spark, s"$base/in2", s"$base/out2",
      s"$base/idx")
    val ids2 = spark.read.parquet(s"$base/out2")
      .select("doc_id").as[Long].collect().toSet
    assert(ids2.nonEmpty, "novel docs must ship")
    assert((ids1 & ids2).isEmpty,
      "an already-accepted doc shipped again in the next increment")
    assert(r2.nDupVsCorpus >= ids1.size,
      "every accepted batch-1 doc re-crawled in batch 2 must count as a corpus dup")
    // index grew: batch-2 accepted docs are findable
    val setsIds = spark.read.parquet(s"$base/idx/sets")
      .select("id").as[Long].collect().toSet
    assert(ids1.subsetOf(setsIds) && ids2.subsetOf(setsIds))
  }

  test("a fully-filtered corpus reports nFinal=0 instead of throwing on the re-read") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-empty").toString
    // every doc fails the language gate (no recognizable stopwords) and
    // none is benchmark-sourced — the output write emits zero part files
    Seq((1L, "xq zv qq", "srcA"), (2L, "zv qq xq", "srcB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/in")
    val r = Curate.run(spark, s"$base/in", s"$base/out")
    assert(r.nInput == 2 && r.nGated == 0)
    assert(r.nFinal == 0 && r.perSplit.isEmpty,
      s"empty output must short-circuit to nFinal=0, got $r")
  }

  test("runIncremental rejects negative doc_ids before the surrogate remap") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-neg").toString
    Seq((-1L, "the quick brown fox is here and the fox is quick", "srcA"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/in")
    val e = intercept[IllegalArgumentException] {
      Curate.runIncremental(spark, s"$base/in", s"$base/out", s"$base/idx")
    }
    assert(e.getMessage.contains("non-negative"),
      s"negative ids must fail loudly, got: ${e.getMessage}")
  }

  test("curateFollow streams dedup + classifier + near-dup gates with batch parity") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-follow").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))

    // at-rest corpus index: one already-accepted document
    val corpusText = "the quick brown fox jumps over the lazy dog " +
      "again and again in the bright morning sun today"
    Seq((1000L, corpusText)).toDF("doc_id", "text")
      .write.parquet(s"$base/corpus")
    graft.dedup.Dedup.minhashIndex(
      spark.read.parquet(s"$base/corpus"), s"$base/idx")

    // frozen model: strong negative weight on the non-ASCII fraction
    // (feature 4) — plain-ASCII docs score ~0.83, accented docs ≪ 0.5
    val model = graft.text.Classifier.Model(
      mu = Seq(0.0, 0.0, 0.0, 0.0, 0.0),
      sigma = Seq(1.0, 1.0, 1.0, 1.0, 1.0),
      w = Seq(2.0, 0.0, 0.0, 0.0, 0.0, -50.0))

    val novel1 = "completely fresh reporting about satellites and " +
      "oceans with no overlap at all whatsoever here"
    // an exact re-crawl of the indexed doc (new id): identical minhash
    // signature → all bands collide deterministically (a merely-similar
    // text may miss every band at 16/4 — the probabilistic contract);
    // jaccard 1.0 ≥ threshold gates it
    val nearDup = corpusText
    val novel2 = "another unrelated essay concerning gardens music " +
      "and architecture written from scratch entirely"
    val gatedOut = "curación de datos con acentos y más señales aquí " +
      "ñandú über straße çöl" // non-ASCII → classifier drops
    val flushTs = 100L * 24 * 3600 * 1000 // far future: advances watermark

    val q = Curate.curateFollow(spark, s"$base/in", s"$base/idx", model,
        minScore = 0.5, nearDupThreshold = 0.5,
        watermark = "1 hour", windowDur = "1 second")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    def drop(name: String, rows: (Long, String, Long)*): Unit = {
      rows.toSeq.toDF("doc_id", "text", "ts")
        .coalesce(1).write.parquet(s"$base/stage/$name")
      val src = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$base/stage/$name"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(s"$base/in/$name.parquet"))
      q.processAllAvailable()
    }
    try {
      drop("b1", (1L, novel1, 1000L), (2L, nearDup, 1000L))
      drop("b2", (3L, novel1, 2000L)) // exact dup text of doc 1, new id
      drop("b3", (4L, novel2, 3000L), (5L, gatedOut, 3000L))
      // two gated-out flush drops: first advances the watermark past all
      // windows, second gives the no-data emission batch a trigger
      drop("f1", (6L, gatedOut, flushTs))
      drop("f2", (7L, gatedOut, flushTs + 1))
      assert(q.recentProgress.length >= 3, "expected ≥3 micro-batches")
    } finally q.stop()

    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // batch parity: the accepted set and scores match the batch operators
    val batchScores = graft.text.Classifier.score(
        Seq((1L, novel1), (4L, novel2)).toDF("doc_id", "text"), model)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.map(_._1) == Set(1L, 4L),
      s"curated set diverged: ${out.map(_._1)}")
    assert(out == Set((1L, novel1, batchScores(1L)),
      (4L, novel2, batchScores(4L))),
      "streamed scores/text diverged from the batch operators")
    // and the batch near-dup probe agrees doc 2 was the one to drop
    val batchDups = graft.dedup.Dedup.minhashLookup(spark, s"$base/idx",
        Seq((2L, nearDup)).toDF("doc_id", "text"))
      .select("probe_id").as[Long].collect().toSet
    assert(batchDups == Set(2L), "batch probe disagrees with stream gate")
  }

  test("packing offsets are contiguous per (split, shard) in doc_id order") {
    import spark.implicits._
    val rows = result.select("split", "shard", "doc_id", "n_tok", "start_off")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    rows.foreach { case ((sp, sh), g) =>
      var off = 0L
      g.sortBy(_._3).foreach { case (_, _, id, n, start) =>
        assert(start == off, s"split=$sp shard=$sh doc=$id offset $start != $off")
        off += n
      }
    }
    assert(rows.nonEmpty)
  }

  test("--classifier-min gates monotonically and p>=0 is a no-op") {
    val base = Files.createTempDirectory("graft-curate-cls").toString
    val in = "/root/testdata/sf0.001/documents.parquet"
    // p is in (0,1): a 0.0 threshold must reproduce the ungated run
    // bit-for-bit (same report, same shipped doc set)
    val rNoop = Curate.run(spark, in, s"$base/noop", classifierMin = Some(0.0))
    assert(rNoop.json == report.json)
    val noopIds = spark.read.parquet(s"$base/noop").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val baseIds = result.select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(noopIds == baseIds)
    // a harsh threshold strictly shrinks the gated set but the
    // pipeline (span cut, strip, split, pack, report) stays coherent
    val rHard = Curate.run(spark, in, s"$base/hard", classifierMin = Some(0.999))
    assert(rHard.nGated < report.nGated)
    assert(rHard.nFinal <= rHard.nGated)
    assert(rHard.nInput == report.nInput)
  }

  /** A documents table (doc_id, text, source) under `dir`: the curated
    * fixture's output texts, every 7th document relabelled as the
    * benchmark slice. */
  private def curatedDocs(dir: String): String = {
    assert(report.nFinal > 0) // `result` reads the run's output
    result.select(col("doc_id"), col("clean_text").as("text"),
        when(col("doc_id") % 7 === 0, lit("src1")).otherwise(col("source"))
          .as("source"))
      .write.parquet(s"$dir/docs")
    s"$dir/docs"
  }

  test("a failed write releases every persisted frame") {
    val dir = Files.createTempDirectory("graft-curate-fail")
    val blocker = Files.createFile(dir.resolve("not-a-dir"))
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val (rddsBefore, cacheWasEmpty) =
      (spark.sparkContext.getPersistentRDDs.keySet, cacheManager.isEmpty)
    // `out` below a regular file: the pipeline runs up to the write,
    // then the write cannot create its directory
    val in = curatedDocs(dir.toString)
    intercept[Exception](Curate.run(spark, in, s"$blocker/out"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "a failed run left persisted RDDs behind")
    assert(!cacheWasEmpty || cacheManager.isEmpty,
      "a failed run left a cached plan behind")
  }

  test("each Curate call evaluates the scoring keeper window in exactly one stage") {
    val base = Files.createTempDirectory("graft-curate-once").toString
    val in = curatedDocs(base)
    spark.read.parquet(in).filter(col("doc_id") < 100).write.parquet(s"$base/in1")
    def keeperStages(call: => Unit): Int = {
      val probe = new KeeperWindowStages
      spark.sparkContext.addSparkListener(probe)
      try { call; probe.drain(spark) }
      finally spark.sparkContext.removeSparkListener(probe)
      probe.stages
    }
    val batch = keeperStages(Curate.run(spark, in, s"$base/run"))
    Curate.runIncremental(spark, s"$base/in1", s"$base/out1", s"$base/idx")
    val incremental = keeperStages(
      Curate.runIncremental(spark, in, s"$base/out2", s"$base/idx"))
    assert((batch, incremental) == ((1, 1)),
      s"the scoring pass (md5(text) keeper window) ran in $batch stages " +
        s"in Curate.run and $incremental in a runIncremental increment")
  }
}

/**
 * Counts the stages that evaluate the keeper window of the scoring
 * pass: a `Window` operator with no other window upstream (every
 * other window of the pipeline reads the scored frame). A stage
 * evaluates the RDDs reachable from its own RDD through narrow
 * dependencies, stopping at shuffle reads and at persisted RDDs an
 * earlier stage already computed.
 */
private final class KeeperWindowStages extends SparkListener {
  private val rdds = collection.mutable.Map.empty[Int, RDDInfo]
  private val computed = collection.mutable.Set.empty[Int]
  private var count = 0
  private val marker = "graft.spec.drain"
  @volatile private var markerJob = -1
  private val drained = scala.concurrent.Promise[Unit]()

  def stages: Int = synchronized(count)

  /** Waits until every event posted before this call was delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(marker, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
    scala.concurrent.Await.result(drained.future,
      scala.concurrent.duration.Duration(60, "s"))
  }

  /** `from` and what it reaches through `parents`, among known RDDs. */
  private def reach(from: Int, parents: RDDInfo => Seq[Int]): Set[Int] = {
    val seen = collection.mutable.Set.empty[Int]
    def walk(id: Int): Unit =
      if (rdds.contains(id) && seen.add(id)) parents(rdds(id)).foreach(walk)
    walk(from)
    seen.toSet
  }

  private def evaluated(stageRdd: Int): Set[Int] =
    reach(stageRdd, r =>
      if (r.name == "ShuffledRowRDD" || computed(r.id)) Nil else r.parentIds)
      .filterNot(computed)

  private def isWindow(id: Int) = rdds(id).scope.exists(_.name == "Window")

  private def isKeeperWindow(id: Int): Boolean =
    isWindow(id) && !(reach(id, _.parentIds) - id).exists(isWindow)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(marker) != null)
      markerJob = e.jobId

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) drained.trySuccess(())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    info.rddInfos.foreach(r => rdds(r.id) = r)
    val ev = evaluated(info.rddInfos.head.id)
    if (ev.exists(isKeeperWindow)) count += 1
    computed ++= ev.filter(rdds(_).storageLevel.isValid)
  }
}
