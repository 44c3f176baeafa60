package graft

import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the training-data pipeline operators (SURVEY.md §7.5). */
class PipelineSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("p_curate_emb: docs without a vector pass the embedding gates vacuously") {
    // sf0.1 has 5000 docs but only 2000 embeddings — the left-join
    // contract: every doc appears once, and any doc_id beyond the
    // embedding range has sem_keep = z_ok = true
    val out = PipelineEntry.queries("p_curate_emb")(
      spark, "/root/testdata/sf0.1")
    val rows = out.filter(col("doc_id") >= 2000)
    assert(out.count() == 5000)
    assert(rows.filter(!col("sem_keep") || !col("z_ok")).count() == 0)
    // and the embedding gates really bite for covered docs
    assert(out.filter(col("doc_id") < 2000 && !col("sem_keep")).count() > 0)
  }

  test("keepBest keeps the max-quality member, ties to the lowest id") {
    import spark.implicits._
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "group_id")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (7L, 0.5), (9L, 0.5))
      .toDF("doc_id", "quality")
    val got = graft.dedup.Dedup.keepBest(groups, quality)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    // group 1: 2 and 3 tie at 0.9 -> lowest id 2; group 7: tie -> 7
    assert(got === Set((1L, 2L, 0.9, 3L), (7L, 7L, 0.5, 2L)))
  }

  test("p_split_safe: near-dup group members never straddle splits") {
    val df = SparkEntry.queries("p_split_safe")(spark, "/root/testdata/sf0.001")
    val leaked = df.groupBy("gid")
      .agg(count_distinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(leaked == 0)
    // and it really groups: at least one group with >1 member exists
    // in the fixture, or the test is vacuous
    assert(df.groupBy("gid").count().filter(col("count") > 1).count() > 0)
  }

  test("tokens / shingles / winnow shapes") {
    val df = docs((1L, "a b c d e"))
      .select(
        size(TextOps.tokens(col("text"))).as("nt"),
        size(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("ns"),
        size(TextOps.winnow(col("text"), 3, 4)).as("nw"))
    val r = df.head()
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == 3) // 5 tokens -> 3 trigram shingles
    assert(r.getInt(2) == 1) // 3 hashes <= w=4 -> single min fingerprint
  }

  test("h60 matches the known md5 of 'abc'") {
    // md5('abc') = 900150983cd24fb0...; first 15 hex = 0x900150983cd24fb
    val r = docs((1L, "x")).select(TextOps.h60(lit("abc"))).head()
    assert(r.getLong(0) == 648541476951500027L)
  }

  test("cdc chunks: lossless, deterministic, edit-local") {
    val rnd = new scala.util.Random(42)
    def randDoc() = (0 until 40 + rnd.nextInt(400))
      .map(_ => "abcdefgh XY.,"(rnd.nextInt(13))).mkString
    val texts = (0 until 30).map(_ => randDoc()) :+ "" :+ "ab" :+ "abc"
    val df = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val out = df.select(col("doc_id"), col("text"),
        Dedup.cdcChunks(col("text"), 4, 32).as("ch"))
      .collect()
    out.foreach { r =>
      val text = r.getString(1)
      val chunks = r.getSeq[String](2)
      // concat identity: chunking is a partition of the document
      assert(chunks.mkString == text, s"lossy chunking of '$text'")
      assert(chunks.forall(_.nonEmpty))
      if (text.isEmpty) assert(chunks.isEmpty)
    }
    // edit-locality: inserting one char near the front re-chunks only a
    // bounded prefix — the suffix chunk lists must converge again
    val base = randDoc() * 4
    val edited = base.substring(0, 10) + "Z" + base.substring(10)
    val Seq(cBase, cEdit) = docs((1L, base), (2L, edited))
      .orderBy("doc_id")
      .select(Dedup.cdcChunks(col("text"), 4, 32))
      .collect().toSeq.map(_.getSeq[String](0))
    val tailLen = cBase.reverse.zip(cEdit.reverse).takeWhile { case (a, b) => a == b }.length
    assert(tailLen >= cBase.length - 3,
      s"edit was not local: only $tailLen of ${cBase.length} tail chunks survived")
  }

  test("cdc shared-chunk pairs find the containment pair") {
    // varied text: a repeated sentence would collapse to ONE distinct
    // chunk under array_distinct and never reach minShared
    val shared = (1 to 12).map(i =>
      s"Sentence number $i talks about topic-$i with detail level ${i * 7}. ").mkString
    val df = docs(
      (1L, shared + "unique suffix one two three"),
      (2L, "a completely different prefix here. " + shared),
      (3L, "nothing in common with the others at all, not one phrase."))
    val pairs = Dedup.cdcSharedChunkPairs(df, 4, 32, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("exact dedup collapses identical texts, keeps min id") {
    val df = docs((3L, "same text"), (1L, "same text"), (2L, "other"))
    val out = Dedup.exact(df).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("containment catches the pasted-subdocument pair that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen " + short +
      " seventeen eighteen nineteen twenty twentyone twentytwo twentythree"
    val df = docs((1L, short), (2L, long),
      (3L, "completely unrelated text with nothing shared at all here"))
    // jaccard at 0.5 misses: |A∩B|/|A∪B| is small
    assert(Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.5).count() === 0)
    val out = Dedup.ngramContainmentPairs(df, n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(out.length === 1)
    val (a, b, ca, cb) = out.head
    assert((a, b) === ((1L, 2L)))
    assert(ca === 1.0, "every shingle of the short doc is inside the long one")
    assert(cb < 0.5, "the long doc is mostly NOT the short one")
  }

  test("ngram jaccard finds the planted near-dup pair only") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog tonight"
    val df = docs((1L, a), (2L, b), (3L, "completely different words here entirely"))
    val pairs = Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("duplicateSpans: maximal shared runs, merged overlaps, guards") {
    // docs 1/2 share an 10-token boilerplate prefix AND a separate
    // 8-token tail run; doc 3 is unrelated filler long enough to form
    // windows of its own
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tail = "one two three four five six seven eight"
    val df = docs(
      (1L, s"$boiler mid1a mid1b mid1c $tail"),
      (2L, s"$boiler mid2a mid2b mid2c mid2d $tail"),
      (3L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12"))
    val out = Dedup.duplicateSpans(df, l = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // boilerplate: 10 tokens → windows at pos 1..3 merge into [1, 11);
    // tail: 8 tokens → one window each, spans differ by doc offset
    assert(out == Set(
      (1L, 1L, 11L, 10L), (1L, 14L, 22L, 8L),
      (2L, 1L, 11L, 10L), (2L, 15L, 23L, 8L)),
      s"got $out")
    // doc-frequency cap drops everything here (both runs are in 2 docs)
    assert(Dedup.duplicateSpans(df, l = 8, maxDf = 1L).count() == 0)
    // a window repeated within ONE doc is not a cross-doc duplicate
    val selfRep = docs((7L, (tail + " ") * 3))
    assert(Dedup.duplicateSpans(selfRep, l = 8).count() == 0)
    // maxOccurrences caps WITHIN-doc repetition: doc 8 repeats the
    // shared run 3x (its windows recur >=3x within the doc), doc 9 has
    // it once — the pair IS a duplicate (df=2) but a within-doc cap of
    // 2 drops it, while widely-shared-but-unrepeated runs (boiler in
    // docs 1/2, max per-doc occurrence 1) are untouched by the cap
    val rep = docs((8L, (tail + " ") * 3), (9L, tail))
    assert(Dedup.duplicateSpans(rep, l = 8).count() > 0)
    assert(Dedup.duplicateSpans(rep, l = 8, maxOccurrences = 2L).count() == 0)
    assert(Dedup.duplicateSpans(df, l = 8, maxOccurrences = 1L)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the cut: shared runs removed, untouched docs pass through intact
    val clean = Dedup.cutSpans(df, Dedup.duplicateSpans(df, l = 8))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean == Map(
      1L -> "mid1a mid1b mid1c",
      2L -> "mid2a mid2b mid2c mid2d",
      3L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12"))
    // exact duplicate docs are fully covered -> empty string
    val twins = docs((1L, boiler), (2L, boiler))
    val cleanTwins = Dedup.cutSpans(twins, Dedup.duplicateSpans(twins, l = 8))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleanTwins == Map(1L -> "", 2L -> ""))
  }

  test("minhash LSH surfaces high-jaccard pairs with exact verify") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog tonight"
    val df = docs((1L, a), (2L, b), (3L, "completely different words here entirely"))
    // 16 single-row bands: P(candidate) = 1-(1-j)^16 ≈ 1-3e-11 at j=0.78,
    // so the assertion is deterministic in practice (4-row bands would
    // miss this moderate-jaccard pair ~16% of the time by design).
    val pairs = Dedup.minhashLshPairs(df, n = 3, numHashes = 16, bands = 16,
      threshold = 0.5).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L)
  }

  test("minhash cross-lookup: probes pair against the corpus, never within a side") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog tonight"
    val c = "the quick brown fox jumps over the lazy dog tomorrow"
    val corpus = docs((1L, a), (3L, "completely different words here entirely"))
    val probes = docs((2L, b), (4L, c))
    // probes 2 and 4 are each near-dups of corpus doc 1 AND of each
    // other — the within-probe pair (2,4) must NOT surface
    val out = Dedup.minhashCrossPairs(corpus, probes,
        n = 3, numHashes = 16, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (4L, 1L)), s"got $out")
  }

  test("minhash index append lands identically to a full rebuild") {
    val a = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words here entirely my friend"))
    val b = docs(
      (5L, "the quick brown fox jumps over the lazy dog tomorrow"),
      (7L, "yet another unrelated pile of words to index later"))
    val probes = docs((2L, "the quick brown fox jumps over the lazy dog tonight"))
    val base = java.nio.file.Files.createTempDirectory("graft_app").toString
    Dedup.minhashIndex(a, s"$base/mh_inc", n = 3, numHashes = 16, bands = 16)
    Dedup.minhashAppend(b, s"$base/mh_inc", n = 3, numHashes = 16, bands = 16)
    Dedup.minhashIndex(a.unionByName(b), s"$base/mh_full",
      n = 3, numHashes = 16, bands = 16)
    def mh(p: String) = Dedup.minhashLookup(spark, p, probes,
        n = 3, numHashes = 16, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh(s"$base/mh_inc") == mh(s"$base/mh_full"))
    // the appended near-dup is actually findable through the index
    assert(mh(s"$base/mh_inc").map(_._2).contains(5L))
  }

  test("at-rest minhash index: lookup and stream probe match the in-memory cross pairs") {
    import spark.implicits._
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words here entirely my friend"))
    val probes = docs(
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "unrelated filler text with nothing shared at all"))
    val path = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString + "/idx"
    Dedup.minhashIndex(corpus, path, n = 3, numHashes = 16, bands = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = rows(Dedup.minhashCrossPairs(corpus, probes,
      n = 3, numHashes = 16, bands = 16, threshold = 0.5))
    assert(expected.map(p => (p._1, p._2)) == Set((2L, 1L)))
    assert(rows(Dedup.minhashLookup(spark, path, probes,
      n = 3, numHashes = 16, bands = 16, threshold = 0.5)) == expected)
    // streaming probe: the same docs arrive as a watermarked stream and
    // each resolves to one near-dup flag (minhashFlagStream, the probe
    // Curate's follow mode runs)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val docStream = mem.toDF().toDF("doc_id", "text", "ts")
      .withColumn("event_time",
        org.apache.spark.sql.functions.timestamp_millis(col("ts")))
      .withWatermark("event_time", "0 seconds")
    val streamDf = Dedup.minhashFlagStream(spark, path, docStream,
      n = 3, numHashes = 16, bands = 16, threshold = 0.5)
    // every join must be stream-STATIC: a stream-stream join (e.g.
    // re-attaching shingles by joining back to the probe side) keeps
    // unbounded state and can pair stale probe rows across batches
    val ssJoins = streamDf.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.left.isStreaming && j.right.isStreaming => j
    }
    assert(ssJoins.isEmpty, "minhashFlagStream plans a stream-stream join")
    val q = streamDf
      .writeStream.format("memory").queryName("mh_flag_out")
      .outputMode("append").start()
    mem.addData((2L, "the quick brown fox jumps over the lazy dog tonight", 1000L),
      (4L, "unrelated filler text with nothing shared at all", 2000L))
    q.processAllAvailable()
    // a later document moves the watermark past the first window,
    // which closes it and emits its verdicts
    mem.addData((6L, "late filler words far ahead in time", 600000L))
    q.processAllAvailable()
    val flags = spark.table("mh_flag_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    assert(flags == Map(2L -> true, 4L -> false), s"got $flags")
    assert(flags.filter(_._2).keySet == expected.map(_._1))
  }

  test("cdc probe via foreachBatch: 3 micro-batches match the one-shot lookup, zero stream state") {
    // cdcCrossPairs cannot stream directly (its per-pair shared-chunk
    // COUNT is an aggregation that append streaming would hold for the
    // watermark) — the live pattern is foreachBatch, where each batch
    // runs the STATIC lookup plan against the held corpus. This pins that pattern's
    // two contracts across ≥3 micro-batches: (1) correctness — the
    // union of per-batch outputs equals the one-shot batch lookup, and
    // each batch emits only its own probes (nothing leaks across
    // batches); (2) state bound — the streaming query keeps ZERO state
    // store rows (all aggregation lives inside the per-batch static
    // plan), so state growth per batch is exactly nothing.
    import spark.implicits._
    val dup1 = "the quick brown fox jumps over the lazy dog every single day"
    val dup3 = "pack my box with five dozen liquor jugs again and once more"
    val corpus = docs((1L, dup1), (3L, dup3))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val probesAll = docs((2L, dup1), (4L, "unrelated filler text with nothing shared"),
      (6L, dup3))
    val expected = rows(Dedup.cdcCrossPairs(corpus, probesAll))
    assert(expected.map(p => (p._1, p._2)) == Set((2L, 1L), (6L, 3L)),
      s"one-shot lookup sanity: $expected")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val perBatch = scala.collection.mutable.Map[Long, Set[(Long, Long, Long)]]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val out = rows(Dedup.cdcCrossPairs(corpus, batch))
        perBatch.synchronized { perBatch(id) = out }
        ()
      }.start()
    mem.addData((2L, dup1)); q.processAllAvailable()
    mem.addData((4L, "unrelated filler text with nothing shared")); q.processAllAvailable()
    mem.addData((6L, dup3)); q.processAllAvailable()
    val state = Option(q.lastProgress).map(_.stateOperators.toSeq).getOrElse(Nil)
    q.stop()
    assert(state.isEmpty,
      s"foreachBatch probe must keep no streaming state, got $state")
    assert(perBatch.keySet == Set(0L, 1L, 2L), s"expected 3 batches: $perBatch")
    assert(perBatch.values.flatten.toSet == expected,
      s"3-batch union diverged from one-shot: $perBatch vs $expected")
    assert(perBatch(0L).forall(_._1 == 2L) && perBatch(1L).isEmpty &&
      perBatch(2L).forall(_._1 == 6L),
      s"a batch emitted another batch's probes: $perBatch")
  }

  test("index format markers: every at-rest family fails loudly on parameter drift") {
    // One path/_format marker per at-rest index: its layout bakes in
    // parameters its probes must reproduce exactly; a mismatch silently
    // returns zero matches (LSH band keys never collide). Build stamps
    // path/_format, every reader/appender verifies, marker-absent
    // (pre-marker index) refuses too.
    val base = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words here entirely my friend"))
    val probes = docs((2L, "the quick brown fox jumps over the lazy dog tonight"))
    def refused(body: => Any): String =
      intercept[IllegalStateException](body).getMessage

    // minhash: wrong banding refused, rebuild-from-sets migrates
    Dedup.minhashIndex(corpus, s"$base/mh", n = 3, numHashes = 16, bands = 16)
    assert(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 16, threshold = 0.3).count() >= 1)
    assert(refused(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 4)).contains("minhash-lsh"))
    assert(refused(Dedup.minhashAppend(probes, s"$base/mh",
      n = 3, numHashes = 16, bands = 4)).contains("minhash-lsh"))
    // marker-absent = pre-marker index: not trusted, also when the
    // marker is deleted OUT-OF-BAND after a verified check
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/mh/_format"), false)
    refused(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 16))
    // migration: re-band from the stored sets without re-tokenizing
    // (bands=16 = single-hash bands, so the near-dup's collision is
    // deterministic; the point here is restamp + re-band, not recall)
    Dedup.minhashRebuildBands(spark, s"$base/mh", n = 3, numHashes = 16, bands = 16)
    assert(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 16, threshold = 0.3).count() >= 1)
  }

  test("format marker: verified once per session (zero re-reads), adopt migrates pre-marker indexes") {
    import graft.model.IndexFormat
    val base = java.nio.file.Files.createTempDirectory("graft_fmt_memo").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def refused(body: => Any): String =
      intercept[IllegalStateException](body).getMessage

    // streaming probes check per micro-batch: while the marker file
    // is unchanged a check is a cache hit that never re-reads it, and
    // an OUT-OF-BAND delete is refused on the very next check
    def markerHits = SessionCache.stats.collectFirst {
      case (SessionCache.Marker, _, hits, _) => hits }.get
    val p1 = s"$base/idx1"
    fs.mkdirs(new org.apache.hadoop.fs.Path(p1))
    IndexFormat.write(spark, p1, "fam v1 a=1")
    IndexFormat.check(spark, p1, "fam v1 a=1", "rebuild")
    val hits = markerHits
    IndexFormat.check(spark, p1, "fam v1 a=1", "rebuild")
    assert(markerHits == hits + 1, "an unchanged marker must be a cache hit")
    fs.delete(new org.apache.hadoop.fs.Path(s"$p1/${IndexFormat.MarkerFile}"), false)
    assert(refused(IndexFormat.check(spark, p1, "fam v1 a=1", "rebuild"))
      .contains("pre-marker"))
    // a mismatched expectation is never served from the cache
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/idx2"))
    IndexFormat.write(spark, s"$base/idx2", "fam v1 a=1")
    IndexFormat.check(spark, s"$base/idx2", "fam v1 a=1", "rebuild")
    assert(refused(IndexFormat.check(spark, s"$base/idx2", "fam v1 a=2",
      "rebuild")).contains("fam v1 a=1"))

    // adopt: the upgrade path for known-good pre-marker indexes —
    // stamps on explicit operator assertion, but refuses to re-stamp
    // an already-marked index (that would launder a real mismatch)
    IndexFormat.adopt(spark, p1, "fam v1 a=1")
    IndexFormat.check(spark, p1, "fam v1 a=1", "rebuild")
    assert(refused(IndexFormat.adopt(spark, p1, "fam v2 a=9"))
      .contains("already carries marker"))

    // end-to-end on a real family: a pre-marker minhash index becomes
    // usable after adopt without a rebuild
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words here entirely my friend"))
    val probes = docs((2L, "the quick brown fox jumps over the lazy dog tonight"))
    Dedup.minhashIndex(corpus, s"$base/mh", n = 3, numHashes = 16, bands = 16)
    // out-of-band delete: simulate pre-marker
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/mh/${IndexFormat.MarkerFile}"), false)
    refused(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 16))
    IndexFormat.adopt(spark, s"$base/mh",
      Dedup.minhashFormat(n = 3, numHashes = 16, bands = 16))
    assert(Dedup.minhashLookup(spark, s"$base/mh", probes,
      n = 3, numHashes = 16, bands = 16, threshold = 0.3).count() >= 1)
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"))
    val sigs = Dedup.simhashSignatures(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) < 20)
    val pairs = Dedup.simhashPairs(df, maxDist = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
  }

  test("brute-force knn: cosine ranks the aligned vector first") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Ann.bruteTopK(emb, emb.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(out.head.getDouble(2) > 0.99)
  }

  test("refineTopK: full candidate set reproduces bruteTopK bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val emb = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4)
    // with every non-self pair as a candidate, refine IS brute force
    val cand = q.select($"vec_id".as("qid"))
      .crossJoin(emb.select($"vec_id".as("nid")))
      .filter($"qid" =!= $"nid")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(Ann.refineTopK(cand, emb, q, k = 5))
      == rows(Ann.bruteTopK(emb, q, k = 5)))
  }

  test("sq8 codes honor the round(v/s) contract and sq8TopK tracks brute recall") {
    import spark.implicits._
    // hand-checkable vector: s = 1/127, codes = round(127·v/max|v|)
    val one = Seq((0L, Array(1.0f, -0.5f, 0.25f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Ann.sq8Codes(one).collect()(0)
    assert(math.abs(r.getDouble(1) - 1.0 / 127.0) < 1e-12)
    assert(r.getSeq[Byte](2) == Seq[Byte](127, -63, 32, 0))
    // codes stay in the int8 range on random data, and quantized top-k
    // recalls nearly all exact neighbors (SQ8's error is ~0.4% of max)
    val rnd = new scala.util.Random(23)
    val emb = (0L until 64L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val codes = Ann.sq8Codes(emb).collect()
    assert(codes.forall(_.getSeq[Byte](2).forall(b => b >= -127 && b <= 127)))
    val q = emb.filter($"vec_id" < 5)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = ids(Ann.sq8TopK(emb, q, k = 5))
      .intersect(ids(Ann.bruteTopK(emb, q, k = 5)))
    assert(overlap.size >= 20, s"sq8 recall too low: ${overlap.size}/25")
  }

  test("ivfSq8TopK with nprobe = nlist is bit-identical to sq8TopK") {
    import spark.implicits._
    val rnd = new scala.util.Random(24)
    val emb = (0L until 48L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4)
    val cents = Ann.pinnedCentroids(emb, nlist = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // probing every list removes the candidate restriction entirely —
    // the quantized ranking must match the flat SQ8 search exactly
    assert(rows(Ann.ivfSq8TopK(cents, emb, q, k = 5, nprobe = 4))
      == rows(Ann.sq8TopK(emb, q, k = 5)))
  }

  test("powerIteration recovers a planted dominant direction") {
    import spark.implicits._
    val rnd = new scala.util.Random(26)
    val dim = 16
    val d = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val dn = { val n = math.sqrt(d.map(x => x * x).sum); d.map(_ / n) }
    // x = t·d + small noise, t ~ N(0, 4); dominant variance is along d
    val emb = (0L until 200L).map { i =>
      val t = rnd.nextGaussian() * 2.0
      (i, Array.tabulate(dim)(j =>
        (t * dn(j) + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val v = Ann.powerIteration(emb, dim, iters = 12)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    val cos = v.zip(dn).map { case (a, b) => a * b }.sum
    assert(math.abs(cos) > 0.97, s"recovered direction off: |cos|=$cos")
    // deterministic sign convention: largest-|component| is positive
    assert(v(v.indices.maxBy(i => math.abs(v(i)))) > 0)
  }

  test("cosinePairs refuses corpora above the verification fence") {
    import spark.implicits._
    // the one deliberately-quadratic plan in the library must be
    // structurally un-invokable on a production-sized corpus: above
    // maxRows it throws with the scale-path pointer instead of
    // launching a rows²/2 job
    val big = (0L until 2000L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.cosinePairs(big, threshold = 0.9, maxRows = 1000)
    }
    assert(e.getMessage.contains("lshPairsAuto"), e.getMessage)
    // under the fence the baseline is unchanged: 3 identical unit
    // vectors -> all 3 pairs at sim 1.0
    val out = Ann.cosinePairs(big.limit(3), threshold = 0.9).collect()
    assert(out.length == 3 && out.forall(_.getDouble(2) == 1.0))
  }

  test("remaining opt-in quadratic baselines are fenced: bruteTopK and uncapped ngram join") {
    import spark.implicits._
    // bruteTopK: |corpus|×|queries| comparisons — linear only under the
    // small-query contract; a fat query set must be refused, not
    // scanned. The guard rides the broadcast side's plan (zero extra
    // jobs), so it fires at execution, while the broadcast materializes
    // — before any corpus task
    val emb = (0L until 50L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Ann.bruteTopK(emb, emb, k = 3, maxQueries = 10).count()
    }
    def msgChain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgChain(t.getCause)
    assert(msgChain(e1).contains("ivfTopK"), msgChain(e1))
    assert(Ann.bruteTopK(emb, emb.limit(2), k = 3).count() > 0)
    // uncapped shingle blocking (maxDf=Long.MaxValue): the exact
    // variant refuses corpora above the fence with the linear-path
    // pointer (maxRows overridable like cosinePairs' for bounded
    // verification samples); the default df-capped path is unfenced
    val docs = (0L until 30L).map(i => (i, s"some repeated words $i here"))
      .toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      graft.dedup.Dedup.ngramJaccardPairs(docs, n = 2,
        threshold = 0.1, maxDf = Long.MaxValue, maxRows = 10L)
    }
    assert(e2.getMessage.contains("DefaultShingleMaxDf"), e2.getMessage)
    // under the fence the exact variant still runs
    assert(graft.dedup.Dedup.ngramJaccardPairs(docs, n = 2,
      threshold = 0.9, maxDf = Long.MaxValue).count() >= 0)
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.ngramContainmentPairs(docs, n = 2,
        threshold = 0.5, maxDf = Long.MaxValue, maxRows = 10L)
    }
  }

  test("refineTopK over PQ candidates reports exact cosines") {
    import spark.implicits._
    val rnd = new scala.util.Random(22)
    val emb = (0L until 64L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 3)
    val books = Ann.pinnedCodebooks(emb, m = 4, ksub = 8, dim = 16)
    val refined = Ann.refineTopK(Ann.pqTopK(books, emb, q, k = 12),
      emb, q, k = 4).collect()
    assert(refined.nonEmpty)
    // every refined sim equals the directly computed exact cosine, and
    // per-query ranks descend in sim (exact re-rank, not ADC order)
    val brute = Ann.bruteTopK(emb, q, k = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    refined.foreach { r =>
      assert(math.abs(brute((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
    refined.groupBy(_.getLong(0)).values.foreach { g =>
      val bySim = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(bySim.zip(bySim.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lsh knn returns a subset consistent with brute force scores") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 50L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val out = Ann.lshTopK(emb, emb.filter($"vec_id" < 3), k = 3,
      tables = 4, planes = 3, dim = 8).collect()
    assert(out.nonEmpty)
    // every reported sim must equal the directly computed cosine
    val brute = Ann.bruteTopK(emb, emb.filter($"vec_id" < 3), k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      assert(math.abs(brute((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("lshPairs: deterministic subset of exact cosinePairs, decent recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // pairs of near-identical vectors so high-sim pairs exist
    val emb = (0L until 40L).flatMap { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      Seq((2 * i, base.map(_.toFloat)),
        (2 * i + 1, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosinePairs(emb, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Ann.lshPairs(emb, threshold = 0.8, tables = 6, planes = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // subset with identical sims
    lsh.foreach { case (k, v) => assert(exact.contains(k) && exact(k) == v) }
    // the 80 planted near-identical pairs are nearly all recovered
    val planted = (0L until 40L).map(i => (2 * i, 2 * i + 1)).filter(exact.contains)
    val hit = planted.count(lsh.contains)
    assert(hit.toDouble / planted.size >= 0.9, s"recall $hit/${planted.size}")
    // run twice: seed-deterministic
    val again = Ann.lshPairs(emb, threshold = 0.8, tables = 6, planes = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == lsh.keySet)
  }

  test("lshAutoPlanes sizing is integer-exact; auto pairs stay a subset " +
       "of exact cosinePairs with the planted pairs recovered") {
    import spark.implicits._
    // sizing: smallest p in [6,24] with 64·2^p >= n — boundary cases
    // exercised exactly (a log2 float formula would wobble here)
    assert(Ann.lshAutoPlanes(200) == 6)
    assert(Ann.lshAutoPlanes(64L << 6) == 6)       // 4096: boundary holds at 6
    assert(Ann.lshAutoPlanes((64L << 6) + 1) == 7) // 4097: first over
    assert(Ann.lshAutoPlanes(20000) == 9)          // the sf1 embeddings count
    assert(Ann.lshAutoPlanes(600000) == 14)        // the decorr-sf30 OOM scale
    assert(Ann.lshAutoPlanes(Long.MaxValue / 4) == 24) // cap
    // the extended ladder NEVER moves a pre-extension coefficient: the
    // first 12 planes of every table equal the historical 12-plane
    // master draw bit-for-bit (the frozen-base contract every verified
    // hash and at-rest signature depends on), and the continuation
    // planes come from an independent stream
    val old = Ann.hyperplanes(tables = 8, planes = 12, dim = 64, seed = 42L)
    val ext = Ann.masterDraw(tables = 8, dim = 64, seed = 42L, maxPlanes = 24)
    assert(ext.forall(_.length == 24))
    old.zip(ext).foreach { case (o, e) =>
      o.zip(e.take(12)).foreach { case (po, pe) => assert(po.sameElements(pe)) }
    }
    assert(!ext(0)(12).sameElements(old(0)(11)))
    // extension-stability holds at EVERY depth, not just the base: a
    // continuation coefficient depends only on (table, plane, seed),
    // so raising the ceiling past 24 (the documented >1.07B-row escape
    // hatch) appends planes without re-dealing 13..24 — masterDraw at
    // maxPlanes=32 and at maxPlanes=13 agree with the 24-deep draw on
    // every shared plane bit-for-bit
    val ext32 = Ann.masterDraw(tables = 8, dim = 64, seed = 42L, maxPlanes = 32)
    val ext13 = Ann.masterDraw(tables = 8, dim = 64, seed = 42L, maxPlanes = 13)
    ext.zip(ext32).foreach { case (e24, e32) =>
      e24.zip(e32.take(24)).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
    ext.zip(ext13).foreach { case (e24, e13) =>
      assert(e13.length == 13 && e13(12).sameElements(e24(12)))
    }
    // and the per-plane streams are genuinely distinct across tables
    // and planes (the derived seeds decorrelate, not repeat)
    assert(!ext(0)(12).sameElements(ext(1)(12)))
    assert(!ext(0)(12).sameElements(ext(0)(13)))
    val rnd = new scala.util.Random(17)
    val emb = (0L until 40L).flatMap { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      Seq((2 * i, base.map(_.toFloat)),
        (2 * i + 1, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosinePairs(emb, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // 80 vectors → planes stays at the 6 floor, but the ACTIVE
    // coefficients are the sliced master draw the oracle inlines
    val auto = Ann.lshPairsAuto(emb, threshold = 0.8, tables = 6, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    auto.foreach { case (k, v) => assert(exact.contains(k) && exact(k) == v) }
    val planted = (0L until 40L).map(i => (2 * i, 2 * i + 1)).filter(exact.contains)
    val hit = planted.count(auto.contains)
    assert(hit.toDouble / planted.size >= 0.85, s"recall $hit/${planted.size}")
    // seed-deterministic across runs
    val again = Ann.lshPairsAuto(emb, threshold = 0.8, tables = 6, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == auto.keySet)
  }

  test("extension planes (p > 12) drive bucketing end-to-end: subset of " +
       "exact, planted pairs recovered") {
    import spark.implicits._
    // targetLoad = 1 + a declared rowCount force the sizing past the
    // frozen 12-plane base: 2^13 = 8192 >= 5000 > 2^12, so the
    // continuation planes (seed+1 stream) actually gate every bucket
    // here — the configuration the decorr-sf30 rung runs at 600k rows.
    assert(Ann.lshAutoPlanes(5000, targetLoad = 1L) == 13)
    val rnd = new scala.util.Random(29)
    val emb = (0L until 300L).flatMap { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      Seq((2 * i, base.map(_.toFloat)),
        (2 * i + 1, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosinePairs(emb, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val auto = Ann.lshPairsAuto(emb, threshold = 0.8, tables = 6, dim = 8,
        targetLoad = 1L, rowCount = Some(5000L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    auto.foreach { case (k, v) => assert(exact.contains(k) && exact(k) == v) }
    val planted = (0L until 300L).map(i => (2 * i, 2 * i + 1)).filter(exact.contains)
    val hit = planted.count(auto.contains)
    // 13 planes over dim-8 vectors is a much finer partition than the
    // production dim-64 shape — recall floor set accordingly
    assert(hit.toDouble / planted.size >= 0.6, s"recall $hit/${planted.size}")
  }

  test("lshPairs bucket cap drops a degenerate all-identical bucket") {
    import spark.implicits._
    // 50 identical vectors: every pair is a perfect near-dup and all
    // land in the same bucket in every table — the quadratic worst case
    val vec = Array.fill(8)(1.0f)
    val degenerate = (0L until 50L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val uncapped = Ann.lshPairs(degenerate, threshold = 0.9,
      tables = 2, planes = 4, dim = 8)
    assert(uncapped.count() == 50L * 49 / 2) // all pairs surface
    val capped = Ann.lshPairs(degenerate, threshold = 0.9,
      tables = 2, planes = 4, dim = 8, maxBucket = 10)
    assert(capped.count() == 0) // oversized buckets skipped, no blowup
  }

  test("fitBox: aspect-preserving box fit, no upscale, floor+min-1px") {
    import graft.multimodal.Multimodal.fitBox
    assert(fitBox(2000, 100, 64, 64) == ((64, 3)))   // wide: scale 0.032
    assert(fitBox(100, 2000, 64, 64) == ((3, 64)))   // tall
    assert(fitBox(32, 32, 64, 64) == ((32, 32)))     // fits: no upscale
    assert(fitBox(10000, 10, 64, 64) == ((64, 1)))   // floor clamps to 1px
  }

  test("imageAHash: stable under re-encode/rescale, far for different content") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    def png(w: Int, h: Int, f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, f(x, y))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val grad: (Int, Int) => Int = (x, _) => (x * 255 / 199) * 0x010101
    val media = Seq(
      (1L, "image", png(200, 100, grad)),
      (2L, "image", png(100, 50, (x, y) => grad(x * 2, y))), // same scene, half size
      (3L, "image", png(200, 100, (x, y) => grad(199 - x, y))), // mirrored gradient
      (4L, "image", "junk".getBytes("UTF-8")), // undecodable -> dropped
      (5L, "audio", png(8, 8, grad))) // non-image -> dropped
      .toDF("item_id", "modality", "content")
    val h = Multimodal.imageAHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keySet == Set(1L, 2L, 3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a rescaled copy hashes within a few bits; mirrored content is far
    assert(ham(h(1L), h(2L)) <= 4, s"rescale moved ${ham(h(1L), h(2L))} bits")
    assert(ham(h(1L), h(3L)) >= 16, s"mirror only ${ham(h(1L), h(3L))} bits away")
  }

  test("imageNearDupPairs: banded aHash finds the tweaked copy, not the stranger") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    def png(w: Int, h: Int, f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, f(x, y))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val grad: (Int, Int) => Int = (x, _) => (x * 255 / 199) * 0x010101
    val media = Seq(
      (1L, "image", png(200, 100, grad)),
      // same scene with a small bright patch — a few pixels of the 8×8
      (2L, "image", png(200, 100, (x, y) =>
        if (x < 12 && y < 12) 0xFFFFFF else grad(x, y))),
      (3L, "image", png(200, 100, (x, y) => grad(199 - x, y)))) // mirrored
      .toDF("item_id", "modality", "content")
    val pairs = Multimodal.imageNearDupPairs(media, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"tweaked copy not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"mirrored stranger matched: $pairs")
  }

  test("resizeToFit: REAL resample for parseable images, stub for the rest") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // a real 200x100 PNG generated in-process (red/blue halves)
    val png = {
      val img = new java.awt.image.BufferedImage(
        200, 100, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 100).foreach(y => (0 until 200).foreach(x =>
        img.setRGB(x, y, if (x < 100) 0xFF0000 else 0x0000FF)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, "image", png),                              // real decode path
      (2L, "image", "not an image".getBytes("UTF-8")), // stub fallback
      (3L, "video", png),                              // video: PNG is not a GIF container -> stub
      (4L, "audio", png))                              // dropped
      .toDF("item_id", "modality", "content")
    val out = Multimodal.resizeToFit(media, 64, 64)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getAs[Array[Byte]](4)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // real path: 200x100 -> 64x32, and the output bytes are a REAL PNG
    // with exactly those pixel dimensions whose halves kept their hues
    val (_, w1, h1, bytes1) = out(1L)
    assert((w1, h1) == ((64, 32)))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes1))
    assert(back != null && back.getWidth == 64 && back.getHeight == 32)
    val left = back.getRGB(10, 16)
    val right = back.getRGB(54, 16)
    assert(((left >> 16) & 0xFF) > ((left) & 0xFF), "left half stays red-ish")
    assert(((right) & 0xFF) > ((right >> 16) & 0xFF), "right half stays blue-ish")
    // stub path: dims from the content-hash fake, "sha:WxH" blob
    val (_, w2, h2, bytes2) = out(2L)
    assert(new String(bytes2, "UTF-8").endsWith(s":${w2}x$h2"))
    // video attempts only the GIF container decode: parseable PNG
    // bytes under a video modality are a mislabeled blob -> stub
    val (_, _, _, bytes3) = out(3L)
    assert(new String(bytes3, "UTF-8").contains(":"),
      "non-GIF video bytes must take the stub branch")
  }

  test("null-key docs survive the de-skewed rank gates (no silent join drop)") {
    // the cut-point/counts-table rewrites replaced rank windows with
    // joins back to the corpus; those joins must be NULL-SAFE — a doc
    // with a null lang/source/quality ranks within its null group
    // (nulls-last, the SQL window convention) instead of vanishing
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullkeys").toString
    Seq(
      (1L, "the of and to in a", "en", "srcA", 18L),
      (2L, "the of and in to a", null.asInstanceOf[String], "srcA", 18L),
      (3L, "le la et les des du", "fr", null.asInstanceOf[String], 19L),
      (4L, null.asInstanceOf[String], "en", "srcA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // t_ppl_bucket: doc 2 (null lang) must keep a bucket; doc 4 has no
    // tokens so it legitimately has no surprisal row
    val ppl = AnalyticsEntry.queries("t_ppl_bucket")(spark, dir).collect()
    assert(ppl.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L),
      s"null-lang doc dropped: ${ppl.mkString(", ")}")
    assert(ppl.forall(r => Set("head", "middle", "tail")(r.getAs[String]("bucket"))))
    // t_quality_norm: the null-source doc (3) and the null-text doc
    // (4 — quality scores 0.0, greatest() ignores nulls in both
    // engines) must both keep a pr
    val qn = PipelineEntry.queries("t_quality_norm")(spark, dir).collect()
    assert(qn.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L, 4L),
      s"null-key doc dropped: ${qn.mkString(", ")}")
    assert(qn.forall(r => !r.isNullAt(r.fieldIndex("pr"))))
    // doc 4's 0.0 is srcA's unique minimum -> first rank
    val pr4 = qn.find(_.getAs[Long]("doc_id") == 4L).get.getAs[Double]("pr")
    assert(pr4 == 0.0, s"zero-quality doc must rank first (pr=0.0), got $pr4")
  }

  /** A solid-color JPEG via the stock ImageIO writer. */
  private def jpegFrame(w: Int, h: Int, shade: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(new java.awt.Color(shade % 256, (255 - shade) % 256, 40))
      g.fillRect(0, 0, w, h)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** A Motion-JPEG AVI assembled by hand (RIFF little-endian chunks:
    * hdrl/avih header + movi list of `00dc` JPEG frames, even-padded)
    * — the container AviDecoder walks. */
  private def mjpegAvi(frames: Int, w: Int = 20, h: Int = 10): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      id.getBytes("ISO-8859-1") ++ le32(payload.length) ++ payload ++ pad
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ body)
    val avih = new Array[Byte](56)
    System.arraycopy(le32(40000), 0, avih, 0, 4)   // us/frame
    System.arraycopy(le32(frames), 0, avih, 16, 4) // dwTotalFrames
    System.arraycopy(le32(w), 0, avih, 32, 4)      // dwWidth
    System.arraycopy(le32(h), 0, avih, 36, 4)      // dwHeight
    val hdrl = list("hdrl", chunk("avih", avih))
    val movi = list("movi",
      (0 until frames).map(i => chunk("00dc", jpegFrame(w, h, 70 * i)))
        .reduce(_ ++ _))
    val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** A minimal ISO-BMFF file assembled by hand: leading ftyp, then
    * moov/trak with a v0 tkhd (16.16 dims), a 'vide' hdlr, and an
    * stts totaling `frames` samples — the boxes Mp4Meta walks. */
  private def minimalMp4(w: Int, h: Int, frames: Int): Array[Byte] = {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8) ++ typ.getBytes("ISO-8859-1") ++ payload
    val tkhd = new Array[Byte](84) // v0: ver/flags + 20 + 16 + matrix 36 + dims
    System.arraycopy(be32(w << 16), 0, tkhd, 76, 4)
    System.arraycopy(be32(h << 16), 0, tkhd, 80, 4)
    val hdlr = new Array[Byte](24) // ver/flags + predefined + type + reserved
    System.arraycopy("vide".getBytes("ISO-8859-1"), 0, hdlr, 8, 4)
    val stts = be32(0) ++ be32(1) ++ be32(frames) ++ be32(1)
    val trak = box("trak", box("tkhd", tkhd) ++
      box("mdia", box("hdlr", hdlr) ++
        box("minf", box("stbl", box("stts", stts)))))
    box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0)) ++
      box("moov", trak)
  }

  test("video path: REAL MJPEG-AVI frame decode — count, dims, features, thumbnail") {
    import graft.multimodal.Multimodal
    val avi = mjpegAvi(3)
    val Some((w, h, n, feat)) = Multimodal.VideoDecoder.decode(avi)
    assert((w, h, n) == (20, 10, 3), s"got ($w, $h, $n)")
    assert(feat.length == Multimodal.StubDecoder.FeatureDim)
    assert(feat.exists(_ != 0f), "feature must come from decoded pixels")
    // thumbnail source: the first frame really decodes
    val img = Multimodal.VideoDecoder.firstFrame(avi)
    assert(img.exists(i => i.getWidth == 20 && i.getHeight == 10))
    // end-to-end through the partition-local extract
    import spark.implicits._
    val media = Seq((1L, "video", avi)).toDF("item_id", "modality", "content")
    val row = Multimodal.extractFeatures(media).collect()(0)
    assert(row.getAs[Int]("width") == 20 && row.getAs[Int]("n_frames") == 3)
    // and resizeToFit resamples the real first frame, not the stub
    val rz = Multimodal.resizeToFit(media, 8, 8).collect()(0)
    assert(rz.getAs[Int]("out_w") == 8 && rz.getAs[Int]("out_h") == 4)
    assert(Multimodal.ImageDecoder.decode(
      rz.getAs[Array[Byte]]("content")).exists { case (w2, h2, _, _) =>
        w2 == 8 && h2 == 4 },
      "resized video thumbnail must be a real decodable image")
  }

  /** A minimal WebM/Matroska file assembled by hand: EBML magic, then
    * Segment{Tracks{TrackEntry{num=1, type=video, Video{W,H}}},
    * Cluster{SimpleBlock × frames on track 1}}. */
  private def minimalWebm(w: Int, h: Int, frames: Int): Array[Byte] = {
    def el(id: Array[Byte], payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 127)
      id ++ Array((0x80 | payload.length).toByte) ++ payload
    }
    def id(bs: Int*) = bs.map(_.toByte).toArray
    def u16(v: Int) = Array((v >> 8).toByte, v.toByte)
    val video = el(id(0xE0),
      el(id(0xB0), u16(w)) ++ el(id(0xBA), u16(h)))
    val entry = el(id(0xAE),
      el(id(0xD7), Array(1.toByte)) ++ el(id(0x83), Array(1.toByte)) ++ video)
    val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), entry)
    // SimpleBlock: vint track (0x81 = 1), s16 timecode, flags, 2 data bytes
    val block = el(id(0xA3),
      Array(0x81.toByte, 0, 0, 0, 7.toByte, 9.toByte))
    val cluster = el(id(0x1F, 0x43, 0xB6, 0x75),
      (0 until frames).map(_ => block).reduce(_ ++ _))
    val header = el(id(0x1A, 0x45, 0xDF, 0xA3), Array.empty)
    header ++ el(id(0x18, 0x53, 0x80, 0x67), tracks ++ cluster)
  }

  test("video path: REAL WebM metadata from the EBML walk") {
    import graft.multimodal.Multimodal
    val webm = minimalWebm(320, 180, 5)
    assert(Multimodal.WebmMeta.parse(webm).contains((320, 180, 5)))
    val Some((w, h, n, feat)) = Multimodal.VideoDecoder.decode(webm)
    assert((w, h, n) == (320, 180, 5), s"got ($w, $h, $n)")
    assert(feat.length == Multimodal.StubDecoder.FeatureDim)
    assert(Multimodal.WebmMeta.parse(
      "random text that is not ebml at all".getBytes("UTF-8")).isEmpty)
  }

  test("video path: REAL MP4 metadata from the box walk; non-media bytes still stub") {
    import graft.multimodal.Multimodal
    val mp4 = minimalMp4(640, 360, 240)
    val Some((w, h, n, feat)) = Multimodal.VideoDecoder.decode(mp4)
    assert((w, h, n) == (640, 360, 240), s"got ($w, $h, $n)")
    assert(feat.length == Multimodal.StubDecoder.FeatureDim)
    assert(Multimodal.Mp4Meta.parse(mp4).contains((640, 360, 240)))
    // brand gate: arbitrary text bytes parse as neither container
    val text = "not a video at all just some plain bytes".getBytes("UTF-8")
    assert(Multimodal.Mp4Meta.parse(text).isEmpty)
    assert(Multimodal.AviDecoder.decode(text).isEmpty)
    assert(Multimodal.VideoDecoder.decode(text).isEmpty,
      "unrecognized bytes must stay on the stub path")
  }

  /** A `frames`-frame animated GIF (20×10, solid color per frame)
    * written with the JDK's own GIF sequence writer. */
  private def animatedGif(frames: Int, w: Int = 20, h: Int = 10): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      (0 until frames).foreach { i =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try {
          g.setColor(new java.awt.Color(80 * i % 256, 255 - 60 * i % 256, 40))
          g.fillRect(0, 0, w, h)
        } finally g.dispose()
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      wr.endWriteSequence()
    } finally { wr.dispose(); ios.close() }
    bos.toByteArray
  }

  test("compressed audio: real MP3/OGG header walks yield exact sample counts") {
    import graft.multimodal.Multimodal.CompressedAudio
    // MPEG1 Layer III, 128 kbps, 44100 Hz, no padding:
    // header FF FB 90 00, frame length 144*128000/44100 = 417 bytes
    def mp3(frames: Int, id3: Boolean): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      if (id3) { // "ID3" v2.3, no flags, syncsafe size 130 (0x01 0x02)
        bos.write(Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 1, 2))
        bos.write(new Array[Byte](130))
      }
      (0 until frames).foreach { _ =>
        bos.write(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0))
        bos.write(new Array[Byte](417 - 4))
      }
      bos.toByteArray
    }
    assert(CompressedAudio.mp3Samples(mp3(3, id3 = false)) == Some(3 * 1152L))
    assert(CompressedAudio.mp3Samples(mp3(5, id3 = true)) == Some(5 * 1152L))
    assert(CompressedAudio.mp3Samples("plain text".getBytes("UTF-8")).isEmpty)
    assert(CompressedAudio.mp3Samples(mp3(1, id3 = false)).isEmpty,
      "a single frame must not satisfy the >=2-frame validity guard")
    // the ubiquitous ID3v1 trailer ("TAG" + 125 bytes) is accepted...
    val id3v1 = "TAG".getBytes("US-ASCII") ++ new Array[Byte](125)
    assert(CompressedAudio.mp3Samples(mp3(3, id3 = false) ++ id3v1) ==
      Some(3 * 1152L))
    // ...arbitrary trailing junk is not
    assert(CompressedAudio.mp3Samples(
      mp3(3, id3 = false) ++ "junk".getBytes("UTF-8")).isEmpty)
    // a leading Xing/Info metadata frame is structurally valid but
    // carries no audio — excluded from the count like real decoders do
    val xingFrame = {
      val f = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0) ++
        new Array[Byte](413)
      System.arraycopy("Xing".getBytes("US-ASCII"), 0, f, 40, 4)
      f
    }
    assert(CompressedAudio.mp3Samples(xingFrame ++ mp3(4, id3 = false)) ==
      Some(4 * 1152L))
    // OGG: two pages, the EOS page carries granule = total samples
    def oggPage(granule: Long, hdrType: Int, payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("OggS".getBytes("US-ASCII"))
      bos.write(0); bos.write(hdrType)
      (0 until 8).foreach(i => bos.write(((granule >> (8 * i)) & 0xFF).toInt))
      bos.write(new Array[Byte](8)) // serial + seq
      bos.write(new Array[Byte](4)) // crc (unchecked)
      bos.write(1); bos.write(payload.length) // one segment
      bos.write(payload)
      bos.toByteArray
    }
    val ogg = oggPage(0L, 0x02, Array[Byte](1, 2, 3)) ++
      oggPage(88200L, 0x04, Array[Byte](4, 5))
    assert(CompressedAudio.oggSamples(ogg) == Some(88200L))
    assert(CompressedAudio.oggSamples(ogg.dropRight(1)).isEmpty,
      "truncated trailing page invalidates the walk")
    // a tail fragment starting at a page boundary has no BOS flag:
    // its absolute granule would report the FULL stream's samples
    assert(CompressedAudio.oggSamples(
      oggPage(88200L, 0x04, Array[Byte](4, 5))).isEmpty,
      "fragment without beginning-of-stream must not parse")
    // the audio pipeline surfaces the real sample count as n_frames
    val got = graft.multimodal.Multimodal.AudioDecoder.decode(mp3(4, id3 = false))
    assert(got.map(_._3) == Some(4 * 1152))
  }

  test("video path: REAL multi-frame GIF decode — frame count, dims, features, thumbnail") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val gif = animatedGif(3)
    // decoder level: real frame count and per-frame dims
    val Some((w, h, n, feat)) = Multimodal.VideoDecoder.decode(gif)
    assert((w, h, n) == ((20, 10, 3)))
    assert(feat.length == Multimodal.StubDecoder.FeatureDim)
    assert(Multimodal.VideoDecoder.frameDims(gif).get == Seq.fill(3)((20, 10)))
    // non-GIF bytes refuse the video decode (no mislabeled-blob decode)
    assert(Multimodal.VideoDecoder.decode("junk".getBytes("UTF-8")).isEmpty)
    // pipeline level: extractFeatures reports the REAL n_frames for a
    // GIF video row, stub n_frames for an undecodable one
    val media = Seq(
      (1L, "video", gif),
      (2L, "video", "not a gif".getBytes("UTF-8")))
      .toDF("item_id", "modality", "content")
      .withColumn("mime", lit("application/octet-stream"))
      .withColumn("meta", map().cast("map<string,string>"))
    val feats = Multimodal.extractFeatures(media)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(feats(1L) == ((20, 10, 3)))
    assert(feats(2L)._3 != 3, "undecodable video bytes keep the stub frame count")
    // resize level: the GIF's first frame gets a REAL thumbnail (20x10
    // fits 64x64 -> no upscale; bytes decode back as a real PNG)
    val rz = Multimodal.resizeToFit(media, 64, 64)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getAs[Array[Byte]](4))).toMap
    assert((rz(1L)._1, rz(1L)._2) == ((20, 10)))
    val thumb = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rz(1L)._3))
    assert(thumb != null && thumb.getWidth == 20 && thumb.getHeight == 10)
  }

  test("count-min sketch: one-sided estimates, exact at generous width") {
    import spark.implicits._
    import graft.sketch.CountMin
    val words = Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
      Seq.fill(9)("gamma") ++ Seq("delta")
    val toks = words.toDF("tok")
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = exact.keys.toSeq.toDF("tok")
    // narrow sketch: estimates are ONE-SIDED (est >= true), never under
    val estNarrow = CountMin.estimate(
        CountMin.cells(toks, "tok", depth = 3, width = 4),
        probes, "tok", depth = 3, width = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(estNarrow(t) >= c, s"$t: ${estNarrow(t)} < $c") }
    // generous width: 4 tokens in 2^16 buckets × 4 rows — a collision in
    // EVERY row is (4/65536)^4-improbable and md5 is fixed, so exact
    val estWide = CountMin.estimate(
        CountMin.cells(toks, "tok", depth = 4, width = 65536),
        probes, "tok", depth = 4, width = 65536)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estWide == exact)
    // probe columns named r/col (the grid's own names) resolve
    // unambiguously — internals use the reserved __cms_ prefix
    val trickyProbes = exact.keys.toSeq.map(t => (t, 7, 9))
      .toDF("tok", "r", "col")
    val estTricky = CountMin.estimate(
        CountMin.cells(toks, "tok", depth = 4, width = 65536),
        trickyProbes, "tok", depth = 4, width = 65536)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(estTricky == exact.map { case (t, c) => (t, 7, 9) -> c })
    // the batch pre-aggregated build is bit-identical to the stream
    // build: a cell is the sum of its colliding tokens' counts
    val counts = exact.toSeq.toDF("tok", "cnt")
    Seq((3, 4), (4, 65536)).foreach { case (d, w) =>
      val a = CountMin.cells(toks, "tok", d, w)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val b = CountMin.cellsFromCounts(counts, "tok", "cnt", d, w)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(a == b, s"cellsFromCounts diverges from cells at $d x $w")
    }
  }

  test("ivfPqTopK: probing every list reproduces pqTopK bit-exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Ann.pinnedCentroids(emb, nlist = 16)
    val books = Ann.pinnedCodebooks(emb, m = 8, ksub = 16, dim = 64)
    val q = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    // nprobe = nlist → the IVF restriction admits every candidate, so
    // the ADC ranking must be byte-for-byte the PQ-only ranking
    assert(rows(Ann.ivfPqTopK(cents, books, emb, q, k = 4, nprobe = 16))
      == rows(Ann.pqTopK(books, emb, q, k = 4)))
    // narrow probing returns a subset of pairs with identical distances
    val narrow = rows(Ann.ivfPqTopK(cents, books, emb, q, k = 4, nprobe = 1))
    val full = rows(Ann.pqTopK(books, emb, q, k = 4))
      .map { case (a, b, d, _) => (a, b, d) }
    narrow.foreach { case (qid, nid, d, _) =>
      assert(full.contains((qid, nid, d)) ||
        !full.exists(p => p._1 == qid && p._2 == nid),
        s"($qid,$nid) adist $d disagrees with the PQ-only ranking") }
  }

  test("topCentroids: argmin matches a reference scan, best-first order") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val centroids = Array.fill(5)(Array.fill(4)(rnd.nextGaussian()))
    val vecs = (0L until 30L).map(i => (i, Array.fill(4)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select($"vec_id",
        graft.functions.VectorOps.topCentroids($"embedding", centroids, 3).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val d2 = centroids.map(c =>
        c.zip(v.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum)
      val expect = d2.zipWithIndex.sortBy(_._1).map(_._2).take(3).toSeq
      assert(got(id) == expect, s"vec $id: ${got(id)} vs $expect")
    }
  }

  test("duplicateGroups: components collapse to min-id representative") {
    import spark.implicits._
    // two components: {1,2,3} (chain) and {7,9}; 5 is isolated (absent)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (7L, 9L, 0.95))
      .toDF("id_a", "id_b", "jaccard")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val groups = Dedup.duplicateGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == expected)
    // distributed label-propagation path (driverLimit=0 forces it)
    val dist = Dedup.duplicateGroups(pairs, driverLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // duplicate and reversed pairs (the multi-detector union case):
    // the driver path collects RAW pairs — no distinct, no
    // symmetrize — because union-find is duplicate-tolerant and
    // symmetric; the output must not change
    val noisy = Seq((1L, 2L, 0.9), (2L, 1L, 0.9), (1L, 2L, 0.7),
        (2L, 3L, 0.8), (3L, 2L, 0.8), (7L, 9L, 0.95), (7L, 9L, 0.95))
      .toDF("id_a", "id_b", "jaccard")
    val viaNoisy = Dedup.duplicateGroups(noisy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNoisy == expected)
    val viaNoisyDist = Dedup.duplicateGroups(noisy, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNoisyDist == expected)
  }

  test("duplicateGroups: over many partitions past driverLimit, the driver " +
       "receives counts, not pairs") {
    import spark.implicits._
    // 20,000 two-node components in 40 partitions of 500 pairs; a
    // limit of 400 leaves each task a share of 10 pairs, so every task
    // returns its count alone (a per-task cap of 401 pairs would ship
    // 16,040 of them)
    val pairs = (0L until 20000L).map(i => (2 * i, 2 * i + 1, 0.9))
      .toDF("id_a", "id_b", "jaccard").repartition(40)
    def run(driverLimit: Long): (Map[Long, Long], Long) = {
      val probe = new ResultBytes
      spark.sparkContext.addSparkListener(probe)
      try {
        val groups = Dedup.duplicateGroups(pairs, driverLimit = driverLimit)
        probe.drain(spark)
        (groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, probe.bytes)
      } finally spark.sparkContext.removeSparkListener(probe)
    }
    // driverLimit 0 takes the same distributed path and ships no pairs
    val (viaZero, zeroBytes) = run(0L)
    val (viaLimit, limitBytes) = run(400L)
    val expected = (0L until 40000L).map(d => d -> (d - d % 2)).toMap
    assert(viaZero == expected && viaLimit == expected)
    // (400 + 40) pairs of two longs at 48 serialized bytes each is
    // 21,120 bytes; the task metrics in each result vary a little
    // from run to run
    assert(limitBytes < zeroBytes + 21120 + 16384,
      s"the driver received $limitBytes result bytes, $zeroBytes at driverLimit 0")
  }

  test("Collect.countedAtMost: the count, and the rows when at most n, " +
       "also when one partition holds most of them") {
    // 900 of 1000 rows in one of 10 partitions: that task holds more
    // than its share of n / 10, so the rows come from a second job
    val skewed = spark.range(0, 1000)
      .withColumn("p", when(col("id") < 900, lit(0L)).otherwise(col("id")))
      .repartition(10, col("p"))
    val even = spark.range(0, 1000, 1, 10).withColumn("p", col("id"))
    for ((df, what) <- Seq(skewed -> "skewed", even -> "even")) {
      for (n <- Seq(1000L, 5000L)) {
        val (count, rows) = Collect.countedAtMost(df, n)
        assert(count == 1000L, s"$what, n = $n")
        assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 1000L),
          s"$what, n = $n")
      }
      assert(Collect.countedAtMost(df, 999L) == ((1000L, None)), what)
      assert(Collect.countedAtMost(df, 0L) == ((1000L, None)), what)
    }
    val (count, rows) = Collect.countedAtMost(spark.range(0, 0, 1, 4).toDF(), 0L)
    assert(count == 0L && rows.map(_.length) == Some(0))
  }

  test("duplicateGroups distributed path: long chain + cycle converge and " +
       "match the driver union-find bit-for-bit") {
    import spark.implicits._
    // a 40-node chain (diameter 39 — the min label must propagate
    // through MANY rounds, exercising the convergence loop, not just
    // one hop), a 6-node cycle (each node has two paths to the min —
    // the propagation must not livelock or split it), and a far-id
    // pair; ids deliberately descending so min-label flows against
    // edge direction too
    val chain = (0 until 39).map(i => (100L + i, 101L + i, 0.9))
    val cycle = (0 until 6).map(i => (500L + i, 500L + (i + 1) % 6, 0.9))
    val extra = Seq((9000L, 8000L, 0.9))
    val pairs = (chain ++ cycle ++ extra).toDF("id_a", "id_b", "jaccard")
    val viaDriver = Dedup.duplicateGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaDist = Dedup.duplicateGroups(pairs, driverLimit = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaDist == viaDriver,
      "distributed min-label propagation must equal driver union-find")
    // jumpThreshold = 0 forces the pointer-jump variant (the big-graph
    // path: grp ← grp(grp) composed onto every neighbor-min round) —
    // the 39-hop chain is exactly the diameter stress the jump exists
    // for, and the labeling must be identical either way
    val viaJump = Dedup.duplicateGroups(pairs, driverLimit = 0L,
        jumpThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaJump == viaDriver,
      "pointer-jump propagation must equal driver union-find")
    // spot-check semantics, not just agreement
    val m = viaDist.toMap
    assert((100L to 139L).forall(m(_) == 100L), "chain collapses to min id")
    assert((500L to 505L).forall(m(_) == 500L), "cycle collapses to min id")
    assert(m(8000L) == 8000L && m(9000L) == 8000L)
    // convergence safety valve still trips loudly when too low
    val e = intercept[IllegalStateException] {
      Dedup.duplicateGroups(pairs, maxIters = 2, driverLimit = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the loop must leave no cached frames behind (unpersist hygiene)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.size}")
  }

  test("ivf knn: high recall vs brute force on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // three well-separated clusters in 8-d
    val centers = Seq.fill(3)(Array.fill(8)(rnd.nextGaussian() * 5))
    val emb = (0L until 120L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 5)
    val brute = Ann.bruteTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, queries, k = 5, nlist = 6, nprobe = 3, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("residual IVF-PQ: corpus-sized codebook makes ADC distances exact L2") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4)
    val cents = Ann.pinnedCentroids(emb, nlist = 4)
    // ksub = corpus size: every vector's residual IS a codeword, so its
    // code reproduces the residual exactly and, because candidates meet
    // in the corpus row's own list (whose centroid built the query's
    // table), adist collapses to the TRUE ||q - x||^2 — the property
    // that makes the residual convention the accurate one near
    // centroids.
    val books = Ann.pinnedResidualCodebooks(cents, emb, m = 4, ksub = 40, dim = 8)
    val got = Ann.ivfPqResidualTopK(cents, books, emb, queries,
        k = 36, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val byId = vecs.toMap
    got.foreach { case ((qid, nid), adist) =>
      val q = byId(qid).map(_.toDouble); val x = byId(nid).map(_.toDouble)
      val l2 = q.indices.map(i => (q(i) - x(i)) * (q(i) - x(i))).sum
      assert(math.abs(adist - math.rint(l2 * 1e4) / 1e4) <= 2e-4,
        s"($qid,$nid): adist $adist != exact L2 $l2")
    }
    assert(got.nonEmpty)
  }

  test("production search composition: IVF-PQ candidates -> exact refine") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4)
    val cents = Ann.pinnedCentroids(emb, nlist = 8)
    val books = Ann.pinnedCodebooks(emb, m = 4, ksub = 8, dim = 8)
    // candidates come off the ADC scoring of the PQ codes; the raw
    // vectors are scored exactly ONLY in the refine join over the
    // deduped candidate ids
    val cand = Ann.ivfPqTopK(cents, books, emb, queries, k = 30, nprobe = 8)
    val refined = Ann.refineTopK(cand, emb, queries, k = 3)
    // nprobe = nlist probes every list and the 30-of-79 over-fetch
    // absorbs this codebook's quantization error (k = 12 measurably
    // does NOT — a true top-3 neighbor drops out, which is the
    // k_fetch/accuracy dial refine exposes), so the refined result
    // must equal brute force bit-exactly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(rows(refined) == rows(Ann.bruteTopK(emb, queries, k = 3)))
  }

  test("clusterSample caps every cluster and honors a custom quality rank") {
    import spark.implicits._
    // two well-separated clusters on a 2d axis; quality = vec_id so the
    // HIGHEST ids win under a descending custom rank
    val rows = (0 until 10).map(i => (i.toLong, Seq(1.0f, 0.0f))) ++
      (10 until 20).map(i => (i.toLong, Seq(0.0f, 1.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val got = graft.similarity.Ann.clusterSample(cents, emb, perList = 3,
        rank = Some(org.apache.spark.sql.functions.col("vec_id") * -1L))
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got(0L) === Seq(7L, 8L, 9L))   // top-3 ids of cluster 0
    assert(got(1L) === Seq(17L, 18L, 19L))
    // default deterministic draw: same call twice = same sample
    val a = graft.similarity.Ann.clusterSample(cents, emb, perList = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.similarity.Ann.clusterSample(cents, emb, perList = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b && a.size === 8)
  }

  test("randomProject: deterministic; planted-cluster neighbors survive projection") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val proj = graft.similarity.Ann.randomProject(emb, k = 16, seed = 7L)
    // same seed twice = identical projection
    val a = proj.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = graft.similarity.Ann.randomProject(emb, k = 16, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
    // JL contract where neighborhoods actually exist: 4 tight planted
    // clusters in 64-dim — projected top-3 must stay within-cluster.
    // (The driver's synthetic embeddings are near-uniform — max cosine
    // 0.49 — so ranking there is noise for ANY distance-preserving
    // sketch; structure is what JL preserves.)
    import spark.implicits._
    val planted = (0 until 20).map { i =>
      val cl = i % 4
      val v = Array.fill(64)(0.0f)
      v(cl * 16) = 1.0f
      v(cl * 16 + 1) = 0.02f * (i / 4) // small within-cluster spread
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val pp = graft.similarity.Ann.randomProject(planted, k = 16, seed = 7L)
    val top3 = graft.similarity.Ann.bruteTopK(pp, pp, k = 3, vecCol = "p")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top3.nonEmpty)
    top3.foreach { case (q, n) =>
      assert(q % 4 == n % 4,
        s"projected neighbor $n of $q crossed clusters")
    }
  }

  test("centroidProbe is perfect on separable clusters, reports misses") {
    import spark.implicits._
    // two tight clusters on the axes + one planted mislabel
    val emb = (
      (0 until 5).map(i => (i.toLong, Seq(1.0f, 0.1f * i), 0)) ++
      (5 until 10).map(i => (i.toLong, Seq(0.1f * (i - 5), 1.0f), 1)) :+
      ((10L, Seq(1.0f, 0.0f), 1))).toDF("vec_id", "embedding", "label")
    val got = graft.similarity.Ann.centroidProbe(emb)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    (0 until 5).foreach(i => assert(got(i.toLong) == (0L, true)))
    (5 until 10).foreach(i => assert(got(i.toLong) == (1L, true)))
    assert(got(10L) == (0L, false), "planted mislabel must surface as a miss")
  }

  test("semDedup drops lower-id-shadowed near-dups within clusters only") {
    import spark.implicits._
    // cluster 0 (x-axis): 0 and 2 are near-identical (cos ~ 0.9998),
    // 4 is at ~45 degrees in-plane (cos ~ 0.71 < tau to both).
    // cluster 1 (y-axis): 1 alone. 6 duplicates 0 but would land in
    // cluster 0 too — its removal must come from the same-cluster rule.
    val emb = Seq(
      (0L, Seq(1.0f, 0.02f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.9f)),
      (6L, Seq(0.99f, 0.01f))).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val got = graft.similarity.Ann.semDedup(cents, emb, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(0L), "lowest id of its neighborhood survives")
    assert(got(1L), "solo cluster member survives")
    assert(!got(2L), "near-dup of lower id 0 is removed")
    assert(got(4L), "sub-threshold cluster-mate survives")
    assert(!got(6L), "near-dup of 0 within cluster 0 is removed")
  }

  test("langid picks the dominant stopword language, unk below threshold") {
    val df = docs(
      (1L, "the cat and the dog is in a house of wonders"),
      (2L, "der hund und die katze ist von hier"),
      (3L, "zzz yyy xxx www vvv"))
    val out = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "unk"))
  }

  test("stripBoilerplateSegments drops only corpus-hot segments, keeps order") {
    // "nav bar" (width 2) appears in 3 docs -> hot at maxDf = 3;
    // every other segment is unique. Doc 4 is pure boilerplate ->
    // empty rebuild; doc 5 is empty -> absent (no segments).
    val df = docs(
      (1L, "nav bar alpha beta gamma delta"),
      (2L, "nav bar epsilon zeta"),
      (3L, "theta iota nav bar"),
      (4L, "nav bar"),
      (5L, ""))
    val out = Dedup.stripBoilerplateSegments(df, width = 2, maxDf = 3L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "empty doc has no segments")
    assert(out(1L) == (("alpha beta gamma delta", 3L, 1L)))
    assert(out(2L) == (("epsilon zeta", 2L, 1L)))
    // doc 3's segments are "theta iota" / "nav bar" (segment grid is
    // positional): the trailing "nav bar" IS a hot segment and goes
    assert(out(3L) == (("theta iota", 2L, 1L)))
    assert(out(4L) == (("", 1L, 1L)))
  }

  test("strip/cut identity: no hot segments and no bench slice = whitespace-normalized originals") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "  spaced   out\ttokens  here one two three four "))
    val strip = Dedup.stripBoilerplateSegments(df, width = 3,
        maxDf = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strip(1L) == "alpha beta gamma delta epsilon zeta eta theta iota")
    assert(strip(2L) == "spaced out tokens here one two three four")
    val cut = Dedup.cutContaminatedSpans(
        df.withColumn("kind", lit("train")), col("kind") === "bench", l = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut == strip, "empty bench slice must pass docs through unchanged")
  }

  test("cutContaminatedSpans cuts the leaked window, keeps everything else") {
    // doc 10 is the benchmark; doc 1 embeds its 4-token run verbatim
    // mid-document; doc 2 is clean. l = 4.
    val df = spark.createDataFrame(Seq(
      (10L, "secret eval question four", "bench"),
      (1L, "intro words here secret eval question four outro tail", "train"),
      (2L, "totally unrelated training text", "train")))
      .toDF("doc_id", "text", "kind")
    val out = Dedup.cutContaminatedSpans(df, col("kind") === "bench", l = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L), "benchmark docs never appear")
    assert(out(1L) == "intro words here outro tail")
    assert(out(2L) == "totally unrelated training text")
  }

  test("multi-probe LSH: 4 tables + flip probes beat plain 4-table recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Ann.bruteTopK(emb, q, k = 5))
    val plain = hits(Ann.lshTopK(emb, q, k = 5, tables = 4))
    val multi = hits(Ann.lshTopKMultiProbe(emb, q, k = 5, tables = 4))
    val rPlain = (brute & plain).size.toDouble / brute.size
    val rMulti = (brute & multi).size.toDouble / brute.size
    assert(rMulti >= rPlain,
      s"multi-probe recall $rMulti fell below plain 4-table $rPlain")
    assert(rMulti >= 0.5, s"multi-probe recall too low: $rMulti")
  }

  test("kmeans||: bit-deterministic training that beats the pinned baseline on phi") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val c1 = Ann.lloydRefine(emb,
      Ann.kmeansParallelCentroids(emb, nlist = 16, dim = 64), iters = 5)
    val c2 = Ann.lloydRefine(emb,
      Ann.kmeansParallelCentroids(emb, nlist = 16, dim = 64), iters = 5)
    assert(c1.length == 16)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "two trainings over the same corpus must be bit-identical")
    // quantizer quality: the whole-corpus-initialized clustering must
    // beat BOTH untrained and sample-trained layouts on the objective
    val phiK = Ann.kmeansObjective(emb, c1)
    val phiPinned = Ann.kmeansObjective(emb, Ann.pinnedCentroids(emb, 16))
    val phiSample = Ann.kmeansObjective(emb,
      Ann.trainCentroids(emb, 16, 64, sampleOrderCol = Some("vec_id")))
    assert(phiK < phiPinned, s"phi $phiK !< pinned $phiPinned")
    assert(phiK < phiSample, s"phi $phiK !< sample-trained $phiSample")
    // the gate's recall floor: every query keeps >= 2/5 probing 6/16
    val q = emb.filter(col("vec_id") < 10)
    val ivf = Ann.ivfTopKWith(c1, emb, q, k = 5, nprobe = 6)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val brute = Ann.bruteTopK(emb, q, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val per = (0L until 10L).map(qid => (ivf & brute).count(_._1 == qid))
    assert(per.forall(_ >= 2), s"recall floor broken: ${per.mkString(",")}")
    assert(per.sum >= 35, s"total recall regressed: ${per.sum}/50")
  }

  test("kCenter: greedy farthest-point from the min-id seed, ties to low id") {
    import spark.implicits._
    // 1-D line: seed 0 at x=0; farthest is 3 (x=10); then 1 (x=4,
    // min-dist 16 beats 2's 4); then 2.
    val emb = Seq(
      (0L, Seq(0.0f)), (1L, Seq(4.0f)), (2L, Seq(6.0f)), (3L, Seq(10.0f)))
      .toDF("vec_id", "embedding")
    val got = Ann.kCenter(emb, k = 4)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(0L, 3L, 1L, 2L))
    // k beyond distinct points: terminates and returns what exists
    val dup = Seq((7L, Seq(1.0f)), (8L, Seq(1.0f))).toDF("vec_id", "embedding")
    val small = Ann.kCenter(dup, k = 5).collect()
    assert(small.map(_.getLong(1)).toSet == Set(7L, 8L))
  }
}

/** The serialized result bytes of the result tasks of every job
  * started before `drain`. */
private final class ResultBytes extends DrainedListener {
  private var total = 0L
  def bytes: Long = synchronized(total)
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    synchronized {
      if (e.taskType == "ResultTask" && e.taskMetrics != null)
        total += e.taskMetrics.resultSize
    }
}
