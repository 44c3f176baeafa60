package graft.cli

import graft.Leaf
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * End-to-end training-data curation pipeline — the composition a real
 * pipeline ships, as one runnable program over a documents table
 * (doc_id, text, source):
 *
 *   1. exact-dup collapse (min-id keeper per content hash)
 *   2. quality + language gates
 *   3. benchmark decontamination by SPAN CUT (leaked ≥ l-token windows
 *      removed, the doc survives; fully-leaked docs come back empty
 *      and fall out at step 4)
 *   4. boilerplate-segment strip (corpus-hot segments removed)
 *   5. leakage-safe split (near-dup groups share a split)
 *   6. deterministic sharding + token packing offsets
 *   7. split-partitioned parquet write + a one-line JSON stage report
 *
 * Every stage is the library operator the gates verify
 * ([[Dedup.cutContaminatedSpans]], [[Dedup.stripBoilerplateSegments]],
 * [[Dedup.minhashLshPairs]] → [[Dedup.duplicateGroups]]); the CLI only
 * composes them, so the plan inherits their audited shapes (blocked
 * joins, broadcast hot sets, one-tokenize exchanges). Shuffles ride
 * content hashes and blocking keys — no stage is quadratic and no
 * stage holds more than a bounded sketch per row.
 *
 * Usage:
 *   runMain graft.cli.Curate --in=<documents.parquet> --out=<dir>
 *     [--bench-source=src1] [--quality-min=0.3] [--lang=en]
 *     [--ngram=8] [--seg-width=4] [--seg-maxdf=5]
 *     [--bin=512] [--shards=16] [--classifier-min=<p>]
 */
object Curate {

  final case class Report(nInput: Long, nDeduped: Long, nGated: Long,
                          nCut: Long, nFinal: Long, nBoilerDropped: Long,
                          perSplit: Map[String, Long],
                          nDupVsCorpus: Long = 0L) {
    def json: String = {
      val splits = perSplit.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"n_input":$nInput,"n_dup_vs_corpus":$nDupVsCorpus,""" +
        s""""n_deduped":$nDeduped,"n_gated":$nGated,""" +
        s""""n_cut":$nCut,"n_final":$nFinal,""" +
        s""""n_boiler_segments_dropped":$nBoilerDropped,""" +
        s""""per_split":{$splits}}"""
    }
  }

  /** The map-side scoring stage (quality + language) — shared verbatim
    * by the batch pipeline and any streaming ingest front (it is a
    * pure projection, so it runs unchanged under readStream; spec'd
    * batch-vs-stream bit-equal in CurateSpec).
    *
    * Equal to `round(TextOps.qualityScore(text), 4)` and
    * `TextOps.langId(text)`, but the text is split once: the tokens
    * and the per-language stopword ratios are projected as columns, and
    * both scores are derived from them (the quality's stopword ratio is
    * the `en` one). Each is read more than once downstream, so
    * CollapseProject does not inline them back (CurateSpec pins one
    * `split` in the optimized plan). */
  def score(df: DataFrame): DataFrame = {
    val ratios = TextOps.LangStopwords.map { case (l, ws) =>
      (l, s"__sw_$l", TextOps.wordRatio(col("__toks"), ws))
    }
    ratios.foldLeft(df.withColumn("__toks", TextOps.tokens(col("text")))) {
        case (d, (_, c, ratio)) => d.withColumn(c, ratio)
      }
      .withColumn("quality", round(TextOps.qualityOf(col("text"),
        col("__toks"), col("__sw_en")), 4))
      .withColumn("lang_pred",
        TextOps.langOf(ratios.map { case (l, c, _) => l -> col(c) }))
      .drop("__toks" +: ratios.map(_._2): _*)
  }

  def run(spark: SparkSession, in: String, out: String,
          benchSource: String = "src1", qualityMin: Double = 0.3,
          lang: String = "en", ngram: Int = 8, segWidth: Int = 4,
          segMaxDf: Long = 5L, bin: Int = 512, shards: Int = 16,
          classifierMin: Option[Double] = None): Report =
    curateFrame(spark, spark.read.parquet(in), out, benchSource, qualityMin,
      lang, ngram, segWidth, segMaxDf, bin, shards, classifierMin)

  /**
   * Incremental curation against an at-rest [[Dedup.minhashIndex]]:
   * new-snapshot documents that near-duplicate the ALREADY-ACCEPTED
   * corpus are dropped before the batch pipeline runs, and the
   * accepted raw texts of this increment append to the index so the
   * NEXT increment sees them. `out` is per-increment (each call writes
   * its own curated slice); `indexPath` accumulates. The 100 TB point:
   * an incremental crawl never rescans or recomputes the historical
   * corpus — the probe is a banded index lookup (linear in the new
   * batch) and the index append writes only new files
   * ([[Dedup.minhashAppend]]'s no-rewrite contract).
   *
   * Each piece of work runs once. The probe's shingle sets are a
   * [[Leaf]] that both the lookup and the append read, every parquet
   * path graft wrote is read with its pinned schema, and no counter
   * costs a query of its own. The actions of a warm increment, the
   * budget CurateSpec pins (adaptive execution adds one job per
   * shuffle stage):
   *
   *   1. schema inference over `in`, a caller's table;
   *   2. the non-negative id guard, a one-job fold over the ids;
   *   3. the shuffle stages of the dup-id, flags and stripped-text
   *      leaves, which adaptive execution runs as each leaf is built
   *      (the probe-sets leaf has none);
   *   4. the stage counters, a one-job fold over the flags leaf;
   *   5. the boilerplate drop counter, a one-job fold over the stripped
   *      text;
   *   6. the near-dup pairs' count and collect in
   *      [[Dedup.duplicateGroups]], for the leakage-safe split;
   *   7. the output write, which also counts rows per split
   *      (`Dataset.observe`);
   *   8. the dup count, a one-job fold over the dup-id leaf's rows;
   *   9. the index append: the staged `sets` write of the accepted
   *      ids' probe sets, then the `sets` and `bands` appends.
   */
  def runIncremental(spark: SparkSession, in: String, out: String,
                     indexPath: String,
                     benchSource: String = "src1", qualityMin: Double = 0.3,
                     lang: String = "en", ngram: Int = 8, segWidth: Int = 4,
                     segMaxDf: Long = 5L, bin: Int = 512,
                     shards: Int = 16,
                     classifierMin: Option[Double] = None): Report = {
    val docs = spark.read.parquet(in)
    // the surrogate probe remap below (-id - 1) is a bijection only on
    // NON-NEGATIVE ids: a negative input id would alias onto a real
    // indexed id and silently mis-drop or mis-pass documents — fail
    // loudly instead of corrupting dedup decisions (one column-pruned
    // min scan, cheap next to the probe itself)
    val minId = foldLongs(docs.select(col("doc_id").cast("long")),
      Long.MaxValue)(math.min).head
    require(minId >= 0L,
      s"runIncremental requires non-negative doc_ids, found $minId: " +
        "the -doc_id - 1 surrogate remap would alias onto indexed ids")
    val isBench = coalesce(col("source") === benchSource, lit(false))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath + "/sets"),
      spark.sparkContext.hadoopConfiguration)
    val indexExists = fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/sets"))
    // probe under a surrogate id (-id - 1, a bijection on longs):
    // the lookup excludes SAME-id pairs as self-matches, but a
    // re-crawl carries its original doc_id — without the remap an
    // exact re-crawl of an indexed doc would sail through as "self".
    // (Assumes non-negative document ids, the table contract.)
    // Two persisted leaves besides curateFrame's: the probe's shingle
    // sets, which the lookup reads now and the append reads after the
    // write (the texts are shingled once), and the tiny dup-id frame,
    // which feeds the scoring pass through `novel` and then the dup
    // count; as a leaf the index read + LSH probe run once and no
    // consumer re-plans the lookup's tree.
    val probeSets = Option.when(indexExists)(Leaf.persist(Dedup.minhashSets(
      docs.filter(!isBench).withColumn("doc_id", -col("doc_id") - 1))))
    try {
      val dupIds = probeSets.map(ps => Leaf.persist(
        Dedup.minhashLookupSets(spark, indexPath, ps.df, threshold = 0.5)
          .select((-col("probe_id") - 1).as("doc_id")).distinct()))
      val rep =
        try {
          val novel = dupIds.fold(docs)(d => docs.join(d.df, Seq("doc_id"), "left_anti"))
          curateFrame(spark, novel, out, benchSource, qualityMin, lang,
            ngram, segWidth, segMaxDf, bin, shards, classifierMin)
            .copy(nDupVsCorpus = dupIds.fold(0L)(d =>
              foldLongs(d.df.select(lit(1L)), 0L)(_ + _).head))
        } finally dupIds.foreach(_.release())
      // index the RAW text of every doc this increment accepted — probes
      // and index entries must be the same text form or lookups quietly
      // stop matching. `out` holds no part file when every document was
      // filtered out, so it is read with a pinned schema.
      val accepted = spark.read.schema(AcceptedIds).parquet(out)
      probeSets match {
        case Some(ps) => Dedup.minhashAppendSets(
          ps.df.select((-col("id") - 1).as("id"), col("sh"))
            .join(accepted.select(col("doc_id").as("id")), "id"), indexPath)
        case None => Dedup.minhashIndex(
          docs.join(accepted.select("doc_id"), "doc_id").select("doc_id", "text"),
          indexPath)
      }
      rep
    } finally probeSets.foreach(_.release())
  }

  /** The one column of the written output the index append reads. */
  private val AcceptedIds = StructType(Seq(StructField("doc_id", LongType)))

  /**
   * Continuous curation — the streaming twin of [[runIncremental]]'s
   * front half, closing the batch/stream asymmetry in the curation
   * story: a watched directory of document drops (`doc_id`, `text`,
   * `ts` ms) flows through
   *
   *   1. exact dedup WITHIN the stream — content-digest
   *      `dropDuplicatesWithinWatermark` (state bounded by the
   *      watermark; the streaming half of [[Dedup.exact]])
   *   2. the frozen-classifier gate — [[graft.text.Classifier.score]]'s
   *      zero-shuffle literal projection, docs below `minScore` drop
   *      ([[graft.text.Classifier.scoreFollow]] semantics)
   *   3. near-dup gate against the at-rest corpus —
   *      [[Dedup.minhashFlagStream]] over `indexPath`; docs that
   *      verify at ≥ `nearDupThreshold` Jaccard against an indexed
   *      document drop
   *
   * and lands on the returned frame `(doc_id, text, score)` — attach a
   * parquet sink for the curated-directory deployment. The gates run
   * cheapest-first (digest dedup and the literal projection prune
   * before any shingling), every join is stream-static, and the only
   * state is the watermark-bounded digest store plus one in-flight
   * window group per document — nothing grows with corpus size, which
   * is what lets the same query run against a 100 TB at-rest index.
   *
   * Emission contract (append mode): a document emits once the
   * watermark passes its event-time window — drive test flushes with a
   * later-timestamped drop. Model or index refresh = restart against
   * the same checkpoint; the file-source log guarantees no drop is
   * re-curated. Token-less documents are dropped (the batch
   * eligibility rule). Spec'd batch-parity across ≥3 micro-batches in
   * CurateSpec.
   */
  def curateFollow(spark: SparkSession, sourceDir: String, indexPath: String,
                   model: graft.text.Classifier.Model,
                   minScore: Double = 0.0,
                   nearDupThreshold: Double = 0.5,
                   watermark: String = "0 seconds",
                   windowDur: String = "1 second",
                   n: Int = 3, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("ts", LongType, nullable = false)))
    val docs = spark.readStream.schema(schema).parquet(sourceDir)
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
    val uniq = docs
      .withColumn("__digest", md5(col("text")))
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")
    val gated = uniq
      .withColumn("score",
        round(graft.text.Classifier.probability(col("text"), model), 4))
      .filter(col("score") >= minScore)
    Dedup.minhashFlagStream(spark, indexPath, gated,
        n = n, numHashes = numHashes, bands = bands,
        threshold = nearDupThreshold, windowDur = windowDur,
        carry = Seq("text", "score"))
      .filter(!col("near_dup"))
      .drop("near_dup")
  }

  private def curateFrame(spark: SparkSession, docs: DataFrame, out: String,
                          benchSource: String, qualityMin: Double,
                          lang: String, ngram: Int, segWidth: Int,
                          segMaxDf: Long, bin: Int, shards: Int,
                          classifierMin: Option[Double] = None): Report = {
    val isBench = coalesce(col("source") === benchSource, lit(false))

    // Optional model-scored gate (--classifier-min): distill the
    // heuristic language labeler into a trained linear scorer (one
    // extra pass of training aggregates, only when enabled) and gate
    // on its probability alongside the rule gates. The gate predicate
    // is a pure expression with the model as plan literals.
    val clsGate: Column = classifierMin match {
      case None => lit(true)
      case Some(minP) =>
        val model = graft.text.Classifier.train(
          docs, when(TextOps.langId(col("text")) === lang, 1.0).otherwise(0.0))
        graft.text.Classifier.probability(col("text"), model) >= minP
    }

    // Several frames feed several later stages each: the scored flags
    // below, the boilerplate-stripped text, and (runIncremental) the
    // probe's shingle sets and the corpus dup ids. Each is
    // materialized ONCE as a persisted leaf
    // ([[Leaf]]). Composed lazily instead, an 800-doc increment
    // ran the scoring pass (quality, language, md5 keeper window) 8
    // times: filters inferred on the composed input gave the cut's and
    // strip's shared exchange branches different subtrees, so exchange
    // reuse failed, and in sampled driver stacks re-analyzing the
    // ever-growing tree took about a quarter of the wall. Every leaf is
    // released in the one `finally`, also when the write fails.
    val leaves = collection.mutable.ArrayBuffer.empty[Leaf]
    def leaf(df: DataFrame): DataFrame = {
      val l = Leaf.persist(df); leaves += l; l.df
    }
    try {
      // 1+2. exact-dup collapse + quality/language gates, as FLAGS on
      // one scored frame. Dedup keeps NON-BENCH rows only: if the
      // collapse window spanned bench rows, a training duplicate of a
      // benchmark text with a lower doc_id would DELETE the benchmark
      // copy, and step 3 would then build its window-hash set without
      // that text — the verbatim benchmark content would ship uncut.
      // (The surviving training duplicate is instead fully cut by step 3
      // and drops out at step 4.) Benchmark rows bypass the gates — they
      // are not training data, they exist to be cut AGAINST. The
      // pipeline filters AND the report counters both read these flags,
      // so the JSON report cannot silently diverge from what shipped
      // (the former second copy of the keeper/gate predicates is gone).
      // Materialization point 2: the flags feed the counters, the span
      // cut and the pack join; only the columns they read are persisted.
      val keeperW = Window.partitionBy(md5(col("text")))
      val flagged = leaf(score(docs.withColumn("__b", isBench)
          .withColumn("__k", col("__b") ||
            min(when(!col("__b"), col("doc_id"))).over(keeperW) === col("doc_id")))
        .withColumn("__g", col("__k") && (col("__b") ||
          (col("quality") >= qualityMin && col("lang_pred") === lang && clsGate)))
        .select("doc_id", "text", "source", "quality", "lang_pred",
          "__b", "__k", "__g"))
      val scored = flagged.filter(col("__k"))
      val gated = flagged.filter(col("__g"))
      // stage counters in ONE pass over the flags
      def ones(c: Column) = when(c, 1L).otherwise(0L)
      val Array(nInput, nDeduped, nGated) = foldLongs(flagged.select(lit(1L),
        ones(col("__k")), ones(col("__g") && !col("__b"))), 0L)(_ + _)

      // 3. decontamination span cut (returns the gated non-bench docs,
      // row-for-row — nCut ≡ nGated by construction; text shrinks)
      val cut = Dedup.cutContaminatedSpans(
        gated.select(col("doc_id"), col("text"), col("source")),
        col("source") === benchSource, l = ngram)
      val nCut = nGated

      // 4. boilerplate strip on the decontaminated text; fully-cut or
      // fully-boilerplate docs have no surviving segments and drop out.
      // Materialization point 3: the drop counter, the near-dup pass,
      // the split join and the write all read the stripped text.
      val strippedAll = leaf(Dedup.stripBoilerplateSegments(
          cut.select(col("doc_id"), col("clean_text").as("text")),
          width = segWidth, maxDf = segMaxDf))
      // counted BEFORE the empty filter: fully-boilerplate docs are
      // exactly the ones that dropped the most segments
      val nBoilerDropped =
        foldLongs(strippedAll.select(col("n_dropped").cast("long")), 0L)(_ + _).head
      val stripped = strippedAll.filter(length(col("clean_text")) > 0)

      // 5. leakage-safe split: near-dup groups (MinHash+LSH over the
      // FINAL text) share a content-keyed split bucket
      val grp = Dedup.duplicateGroups(
        Dedup.minhashLshPairs(
            stripped.select(col("doc_id"), col("clean_text").as("text")),
            n = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("id_a"), col("id_b")))
      val split = stripped.join(grp, Seq("doc_id"), "left")
        .withColumn("gid", coalesce(col("group_id"), col("doc_id")))
        .withColumn("bucket",
          conv(substring(md5(concat(lit("g#"), col("gid").cast("string"))),
            1, 4), 16, 10).cast("long") % 100)
        .withColumn("split",
          when(col("bucket") < 90, Splits(0))
            .when(col("bucket") < 95, Splits(1)).otherwise(Splits(2)))

      // 6. deterministic shard + token packing offsets per (split, shard)
      val packed = split
        .join(scored.select(col("doc_id"), col("source"), col("quality"),
          col("lang_pred")), "doc_id")
        .withColumn("n_tok",
          size(TextOps.tokens(col("clean_text"))).cast("long"))
        .withColumn("shard",
          conv(substring(md5(concat(lit("s#"), col("doc_id").cast("string"))),
            1, 4), 16, 10).cast("long") % shards)
        .withColumn("start_off", coalesce(
          sum(col("n_tok")).over(Window.partitionBy("split", "shard")
            .orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("bin_first", expr(s"start_off div $bin"))
        .select("doc_id", "clean_text", "source", "quality", "lang_pred",
          "n_tok", "shard", "start_off", "bin_first", "split")

      // shard-clustered, offset-ordered files: a trainer reading shard s
      // gets its documents contiguous and in packing order. The rows per
      // split are counted by the write itself; an empty write observes
      // no rows and returns no metrics, so a missing split is 0 and
      // a fully-filtered corpus reports nFinal=0
      val written = Observation()
      val perSplitCounts = Splits.map(s => count(when(col("split") === s, 1)).as(s))
      packed
        .observe(written, perSplitCounts.head, perSplitCounts.tail: _*)
        .repartition(col("split"), col("shard"))
        .sortWithinPartitions(col("split"), col("shard"), col("start_off"))
        .write.mode("overwrite").partitionBy("split").parquet(out)
      val perSplit = Splits.flatMap(s => written.get.get(s).collect {
        case n: Long if n > 0 => s -> n
      }).toMap
      Report(nInput, nDeduped, nGated, nCut, perSplit.values.sum,
        nBoilerDropped, perSplit)
    } finally leaves.foreach(_.release())
  }

  /** Folds each long column of `df` over its rows with `op`, a null
    * counting as `zero`, in ONE job. `df` must be a per-row projection
    * of a scan or a [[Leaf]], with no exchange: the SQL form of a
    * global aggregate plans one, which adaptive execution runs as a
    * job of its own. */
  private def foldLongs(df: DataFrame, zero: Long)(op: (Long, Long) => Long): Array[Long] = {
    val n = df.columns.length
    df.queryExecution.toRdd
      .map(r => Array.tabulate(n)(i => if (r.isNullAt(i)) zero else r.getLong(i)))
      .fold(Array.fill(n)(zero))((a, b) => Array.tabulate(n)(i => op(a(i), b(i))))
  }

  /** The values of the output's `split` column. */
  private val Splits = Seq("train", "val", "test")

  private val KnownOpts = Set("in", "out", "index", "bench-source",
    "quality-min", "lang", "ngram", "seg-width", "seg-maxdf", "bin", "shards",
    "classifier-min")

  def main(args: Array[String]): Unit = {
    // loud argument parsing: a bare --flag or a misspelled option must
    // not silently fall back to a default and curate a different corpus
    args.foreach { a =>
      require(a.startsWith("--") && a.drop(2).contains("="),
        s"bad argument '$a' — options are --key=value")
    }
    val opts = args.map { a =>
      val Array(k, v) = a.drop(2).split("=", 2); k -> v
    }.toMap
    opts.keys.foreach(k =>
      require(KnownOpts(k), s"unknown option --$k (known: " +
        KnownOpts.toSeq.sorted.mkString(", ") + ")"))
    val in = opts.getOrElse("in",
      sys.error("--in=<documents parquet> is required"))
    val out = opts.getOrElse("out", sys.error("--out=<dir> is required"))
    val spark = graft.SparkInit.session(sys.env.getOrElse("GRAFT_MASTER", "local[4]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try {
      val benchSource = opts.getOrElse("bench-source", "src1")
      val qualityMin = opts.get("quality-min").map(_.toDouble).getOrElse(0.3)
      val lang = opts.getOrElse("lang", "en")
      val ngram = opts.get("ngram").map(_.toInt).getOrElse(8)
      val segWidth = opts.get("seg-width").map(_.toInt).getOrElse(4)
      val segMaxDf = opts.get("seg-maxdf").map(_.toLong).getOrElse(5L)
      val bin = opts.get("bin").map(_.toInt).getOrElse(512)
      val shards = opts.get("shards").map(_.toInt).getOrElse(16)
      val clsMin = opts.get("classifier-min").map(_.toDouble)
      val r = opts.get("index") match {
        case Some(idx) => runIncremental(spark, in, out, idx, benchSource,
          qualityMin, lang, ngram, segWidth, segMaxDf, bin, shards, clsMin)
        case None => run(spark, in, out, benchSource, qualityMin, lang,
          ngram, segWidth, segMaxDf, bin, shards, clsMin)
      }
      println(r.json)
    } finally spark.stop()
  }
}
