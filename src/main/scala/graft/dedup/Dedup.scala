package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (SURVEY.md §7.5):
 * exact, MinHash+LSH, SimHash, and n-gram Jaccard. All are built-in
 * column expressions + relational ops — codegen'd hashing, shuffles
 * only on the blocking keys (hash / shingle / LSH band), which is the
 * shape that scales: at 100 TB every variant is
 * "explode a bounded sketch → shuffle on sketch key → verify within
 * tiny buckets", never an all-pairs comparison.
 *
 * Hashes are md5-derived 60-bit ints ([[TextOps.h60]]) so the DuckDB
 * oracle can reproduce them bit-identically.
 */
object Dedup {

  /**
   * Exact dedup keyed on content hash: one row per distinct text with
   * the surviving (minimum) id and the duplicate count. Single shuffle
   * on the 128-bit hash; at scale this is the cheapest possible dedup.
   */
  def exact(df: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /**
   * Snapshot diff — the audit step between two corpus versions of an
   * incremental pipeline: per doc_id, `added` (new only), `removed`
   * (old only), `changed` (both, content hash differs), `unchanged`.
   * One full outer join on the id, content compared by md5 so the
   * shuffle carries a fixed-width digest, never the document bodies.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val o = oldDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h_old"))
    val n = newDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Canonical text: lowercase, non-alphanumerics collapsed to single
    * spaces, trimmed — the normalization pass before [[canonical]]
    * dedup (catches case/punctuation/whitespace-edited duplicates
    * exact hashing misses). Pure codegen'd column expression. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /**
   * Keep-best collapse: for every duplicate group, the member with the
   * HIGHEST quality survives (ties break to the lowest id) — the
   * production curation policy. [[exact]]/[[canonical]]/
   * [[duplicateGroups]] keep the lowest id, which is arbitrary; when a
   * document appears N times across crawls, real pipelines keep the
   * best-scored copy and drop the rest.
   *
   * `groups` is any (idCol, groupCol) membership table (e.g.
   * [[duplicateGroups]] output); `quality` maps idCol → `qualityCol`.
   * The winner is an ordinary map-side-combinable `max(struct(q,-id))`
   * aggregate — no window, no per-group materialization — and the
   * membership join is un-hinted so AQE broadcasts whichever side is
   * actually small (dup membership is corpus-sized in the worst case).
   */
  def keepBest(groups: DataFrame, quality: DataFrame,
               idCol: String = "doc_id", groupCol: String = "group_id",
               qualityCol: String = "quality"): DataFrame =
    groups.join(quality, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(max(struct(col(qualityCol).as("q"),
          (-col(idCol)).as("nid"))).as("b"),
        count(lit(1)).as("n_members"))
      .select(col(groupCol), (-col("b.nid")).cast("long").as("keep_id"),
        col("b.q").as("keep_quality"), col("n_members"))

  /** Exact dedup on the canonical form — same single-shuffle shape as
    * [[exact]], keyed on md5(canonicalText). */
  def canonical(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    df.groupBy(md5(canonicalText(col(textCol))).as("canon_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /**
   * Distinct word n-gram shingle set per document. Tokens are
   * materialized as their own projection first: `shingles` references
   * its token array once per window, and Catalyst re-evaluates nested
   * argument subtrees per element — tokenizing inline would be O(n²).
   */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          n: Int, carry: Seq[String] = Nil): DataFrame =
    df.withColumn("__toks", TextOps.tokens(col(textCol)))
      // Filter on the TOKEN count, not `size(sh) > 0` (equivalent:
      // ShingleHash60 emits ≥ 1 distinct shingle iff #tokens ≥ n, and
      // is null iff __toks is null): Catalyst pushes the filter below
      // the projection by alias substitution, so a filter phrased over
      // `sh` re-evaluates the whole tokenize+md5 shingle chain per row
      // inside the single scan task — 3× the per-row work of the
      // family's most expensive expression (measured; the pushed
      // tokens-only re-check is the cheap part of the chain).
      .filter(size(col("__toks")) >= n)
      .select(col(idCol).as("id") +:
        graft.functions.VectorOps.shingleHash60(col("__toks"), n).as("sh") +:
        carry.map(col): _*)

  /**
   * n-gram Jaccard near-dup pairs: block on shared shingles, then
   * exact Jaccard = |A∩B| / (|A|+|B|-|A∩B|) from the per-pair shared
   * count. Emits (id_a < id_b, jaccard ≥ threshold).
   *
   * @param maxDf shingles occurring in more than `maxDf` documents are
   *              dropped from blocking (stopword-shingle skew guard —
   *              at scale a hot shingle would otherwise shuffle-join
   *              quadratically). Pairs sharing ONLY ultra-common
   *              shingles are missed, the standard trade-off.
   *              NOTE: default changed in r12 from exact
   *              (`Long.MaxValue`) to [[DefaultShingleMaxDf]] — see the
   *              BEHAVIOR CHANGE section there; pass `Long.MaxValue`
   *              explicitly for pre-r12 exact semantics.
   */
  /** Default hot-shingle document-frequency cap for the blocked-join
    * n-gram pair families. The blocking self-join costs Σ_shingle df²,
    * which grows QUADRATICALLY with corpus size for boilerplate
    * shingles (measured on the bench corpus: 10× the docs → 76× the
    * join pairs, 34.9M → 2.67B, uncapped). A fixed absolute cap bounds
    * the join at cap × #shingle-rows — linear at any corpus size
    * (same 10× step capped: 184M pairs, ~5×). Cost of the cap: a
    * shingle in more documents than this carries no near-dup signal
    * (it's template/stopword text), but pairs overlapping ONLY in such
    * shingles are missed and `inter` undercounts hot-shingle overlap —
    * the standard sublinear dedup trade. Pass Long.MaxValue for the
    * exact quadratic (verification-scale only).
    *
    * ==BEHAVIOR CHANGE (r12)==
    * Before r12 the default was `Long.MaxValue` (exact). The default is
    * now CAPPED: a 100 TB engine must be scale-safe by default, and the
    * uncapped blocking join is structurally quadratic in corpus size —
    * a caller who forgets the parameter should get the linear plan, not
    * the one that falls over at the first real corpus. Callers that
    * need exact hot-shingle semantics (pairs overlapping only in
    * shingles shared by > 300 docs; `inter` counting every shared
    * shingle however common) MUST now opt in with
    * `maxDf = Long.MaxValue`. The cap is a measured no-op on every
    * shipped fixture (max shingle df at sf1 = 168 < 300). */
  val DefaultShingleMaxDf = 300L

  def ngramJaccardPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxDf: Long = DefaultShingleMaxDf,
                        maxRows: Long = UncappedShingleMaxRows): DataFrame =
    shingleBlockedCounts(df, n, idCol, textCol, maxDf, maxRows)
      .withColumn("jaccard",
        col("inter") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /**
   * n-gram CONTAINMENT near-dup pairs — the asymmetric companion of
   * [[ngramJaccardPairs]]: `cont_a = |A∩B| / |A|` ("how much of A is
   * inside B"). A short document pasted into a long one scores
   * containment ≈ 1 while its Jaccard stays near |A|/|B| — the
   * sub-document-duplication measure Jaccard structurally misses.
   * Emits pairs where EITHER direction reaches `threshold`, with both
   * directional scores.
   *
   * Same shingle blocking and `maxDf` hot guard as the Jaccard path —
   * and the same blocking caveat applies doubly here: a pair sharing
   * ONLY ultra-common shingles is missed, and containment-heavy pairs
   * with tiny Jaccard still collide on their shared (uncommon)
   * shingles, so blocking recall does not depend on Jaccard.
   */
  def ngramContainmentPairs(df: DataFrame, n: Int = 3,
                            threshold: Double = 0.8,
                            idCol: String = "doc_id", textCol: String = "text",
                            maxDf: Long = DefaultShingleMaxDf,
                            maxRows: Long = UncappedShingleMaxRows): DataFrame =
    shingleBlockedCounts(df, n, idCol, textCol, maxDf, maxRows)
      .withColumn("cont_a", col("inter") / col("sza").cast("double"))
      .withColumn("cont_b", col("inter") / col("szb").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a"), 4).as("cont_a"),
        round(col("cont_b"), 4).as("cont_b"))

  /**
   * Per-document duplicate-n-gram fraction — the cross-document
   * repetition signal (RefinedWeb-style): of a document's DISTINCT
   * word n-gram shingles, what fraction also occurs in at least one
   * OTHER document. Unlike the pairwise detectors this never forms
   * pairs — it answers "how much of this doc is boilerplate shared
   * with the corpus" in two aggregations, so it stays linear where
   * the pair set would explode quadratically.
   *
   * Shape: one spread-key exchange over the exploded (id, sz, shingle)
   * rows feeds both the per-shingle document-frequency aggregate
   * (map-side combinable) and the probe side of the join back — all
   * three columns ride the repartition expression so column pruning
   * cannot specialize either branch's subtree and the tokenize+hash
   * pass compiles once (same posture as [[shingleBlockedCounts]]).
   * The df side is one row per shingle post-aggregate, so the left
   * join cannot duplicate rows; a hot (stopword) shingle skews only
   * its join partition, which AQE skew-split handles. The per-doc
   * re-aggregation is the second and final shuffle.
   */
  def dupNgramFraction(df: DataFrame, n: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val rows = shingleSets(df, idCol, textCol, n)
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      .filter(col("id").isNotNull && col("s").isNotNull)
    val ex = rows.repartition(col("id"), col("sz"), col("s"))
    val dfc = ex.groupBy("s").agg(count(lit(1)).as("__df"))
    ex.join(dfc, Seq("s"), "left")
      // sz in the grouping key, not first() — functionally determined
      // by id; keeps the aggregate on the fast hash path (see
      // shingleBlockedCounts)
      .groupBy(col("id").as(idCol), col("sz").as("n_shingles"))
      .agg(sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup") / col("n_shingles").cast("double"), 4))
  }

  /** Shared-shingle blocked pair counts: (id_a < id_b, inter, sza,
    * szb) for every pair sharing ≥ 1 surviving blocking shingle — the
    * common core of [[ngramJaccardPairs]] and [[ngramContainmentPairs]].
    *
    * The blocking rows feed both sides of the self-join (and, under
    * maxDf, the hot-shingle aggregation). A `.cache()` here would pin
    * partitions for the caller's session lifetime with no unpersist
    * hook; instead an explicit repartition plants ONE exchange that
    * every consumer's subplan shares byte-identically, so exchange/
    * stage reuse evaluates the tokenize+hash subtree exactly once and
    * nothing stays pinned. Without a hot guard the exchange key is the
    * blocking key itself (the self-join needs that clustering anyway —
    * a single shuffle total); with maxDf the key set includes `id` so
    * a hot shingle's stratum spreads across tasks and the anti-join
    * drops it BEFORE the join's s-clustered exchange.
    *
    * The per-doc set size rides each exploded blocking row (one int
    * per row) instead of joining a (id → sz) side back in afterwards:
    * that side would be one row per document — O(corpus) — which is
    * broadcast-unsafe at scale, and even un-hinted would cost two
    * extra shuffle joins. `sz` is the FULL set size, captured before
    * the hot-shingle anti-join, so the scores stay exact for surfaced
    * pairs even when blocking drops hot shingles. (All three partition
    * columns appear in the repartition expression so column pruning
    * cannot specialize any branch's copy of the subtree below the
    * exchange — byte-identical children are what reuse keys on.)
    */
  /** Structural fence for the OPT-IN uncapped blocking join
    * (`maxDf = Long.MaxValue`): Σ df² grows quadratically with corpus
    * size on boilerplate shingles (measured: 10× docs → 76× join
    * pairs), so the exact variant refuses corpora above this many
    * documents instead of launching a job that can never finish at
    * scale — the [[graft.similarity.Ann.CosinePairsMaxRows]] idiom
    * (including the overridable `maxRows` for bounded verification
    * samples). The df-capped DEFAULT path pays no count job and no
    * cap. */
  val UncappedShingleMaxRows = 100000L

  private def shingleBlockedCounts(df: DataFrame, n: Int, idCol: String,
                                   textCol: String, maxDf: Long,
                                   maxRows: Long = UncappedShingleMaxRows): DataFrame = {
    if (maxDf == Long.MaxValue) {
      val nDocs = df.count()
      require(nDocs <= maxRows,
        s"maxDf=Long.MaxValue is the exact-quadratic verification baseline: " +
        s"corpus has $nDocs docs > maxRows=$maxRows (hot-shingle join " +
        s"volume grows ~quadratically). Use the default " +
        s"maxDf=DefaultShingleMaxDf linear plan for production corpora, or " +
        s"pass maxRows explicitly for a bounded verification sample.")
    }
    val rows = shingleSets(df, idCol, textCol, n)
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      // explicit not-null guards BELOW the exchange: the self-join and
      // the callers' score filters infer them on some branches only;
      // unmatched, the subtree copies differ and reuse is lost
      .filter(col("id").isNotNull && col("s").isNotNull && col("sz").isNotNull)
    val ex =
      if (maxDf == Long.MaxValue) rows.repartition(col("s"))
      else dropHotKeys(rows.repartition(col("id"), col("sz"), col("s")),
        "s", maxDf)
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      // sz rides the GROUPING KEY, not a first() aggregate: sz is
      // functionally determined by id (one set size per document), so
      // the groups are identical — but first()'s two-slot buffer drops
      // this pair-volume HashAggregate off the fast path (measured 15×
      // on the aggregate: 1.39 s → 0.09 s over 1.27 M join rows).
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
  }

  /**
   * Drop rows whose blocking key occurs in more than `maxDf` rows —
   * the hot-key guard shared by the blocked-join dedup paths. Written
   * as a left-outer join + IsNull filter rather than a left-anti join
   * ON PURPOSE: Catalyst pushes semi/anti joins below
   * RepartitionByExpression, which would split the caller's shared
   * exchange into per-branch copies and re-run the tokenize/chunk
   * subtree once per branch; an outer join stays put, so the df-count
   * branch and the join branches all read ONE exchange. The hot side
   * is one row per hot key (post-aggregate), so the outer join cannot
   * duplicate rows, and it stays un-hinted — the side is bounded by
   * distinct-keys/maxDf, not by schema, so AQE must keep the
   * broadcast decision.
   */
  private[graft] def dropHotKeys(ex: DataFrame, keyCol: String, maxDf: Long): DataFrame = {
    val hot = ex.groupBy(keyCol).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col(keyCol), lit(1).as("__hot"))
    ex.join(hot, Seq(keyCol), "left")
      .filter(col("__hot").isNull)
      .drop("__hot")
  }

  /** Universal-hash family modulus (2³¹ − 1, Mersenne prime). */
  val P: Long = 2147483647L

  /**
   * Deterministic (a, b) parameters for `numHashes` universal hash
   * functions h_j(x) = (a_j·(x mod P) + b_j) mod P. Fixed seed so the
   * DuckDB oracle can interpolate identical constants.
   */
  def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(12345L)
    Seq.fill(numHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong,
        rnd.nextInt(Int.MaxValue).toLong))
  }

  /**
   * MinHash signature over an array of 60-bit shingle hashes: one md5
   * per shingle (already done by [[shingleSets]]) + `numHashes` cheap
   * arithmetic rehashes — not `numHashes` md5 passes, which would cost
   * 16× the hashing work for identical sketch quality. Native fused
   * expression ([[graft.functions.MinHashSignature]]); the HOF form
   * costs k·n interpreted lambda calls per row.
   */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.VectorOps.minHashSignature(sh, hashParams(numHashes))

  /**
   * MinHash + LSH near-dup pairs (shingle → minhash → band → bucket
   * join → exact-Jaccard verify). Candidate generation is linear in
   * corpus size (explode `bands` keys per doc, shuffle on band key);
   * only bucket-mates are verified. With r rows/band, the usual
   * s-curve: P(candidate) = 1-(1-j^r)^bands.
   *
   * Output matches [[ngramJaccardPairs]] (id_a, id_b, jaccard) but only
   * for pairs LSH surfaces — the scalable approximation.
   */
  def minhashLshPairs(df: DataFrame, n: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // sets feeds the signature path AND the two verify joins — four
    // consumers of the tokenize+hash pass. Instead of a `.cache()`
    // (pinned partitions, no unpersist hook), repartition on the
    // unique doc id: one exchange whose map side tokenizes once, and
    // whose output every consumer reads via exchange/stage reuse. The
    // id-hash partitioning also already satisfies the verify joins'
    // clustering requirement, so they add no shuffle of the shingle
    // arrays.
    val sets = shingleSets(df, idCol, textCol, n).repartition(col("id"))
    // The band self-join carries ONLY (id, band): candidate shuffle
    // volume is O(candidates), not O(candidates × avg-shingle-set).
    // Shingle arrays are re-attached per DISTINCT candidate pair below
    // — the cdcSharedChunkPairs pattern. Both self-join sides share the
    // band exchange (byte-identical subplans → one ReusedExchange).
    val banded = bandRows(sets, numHashes, bands).repartition(col("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb")))
          / size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** (id, band[, carry…]) LSH band keys from (id, sh[, carry…])
    * shingle-set rows: minhash signature → `bands` md5 band keys,
    * exploded. The shared candidate generator behind
    * [[minhashLshPairs]] (self-join), the at-rest [[minhashIndex]],
    * and the [[minhashLookup]]/[[minhashLookupStream]] probe sides. */
  private def bandRows(sets: DataFrame, numHashes: Int, bands: Int,
                       carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sets.withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id") +:
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat(b.cast("string"), lit(":"),
            concat_ws("_", transform(slice(col("sig"), b * r + 1, lit(r)),
              x => x.cast("string"))))))).as("band") +:
        carry.map(col): _*)
  }

  /**
   * Near-dup pairs of `probes` AGAINST `corpus` (not within either
   * side) — the incremental-crawl question "is this new document a
   * near-dup of anything we already hold", answered without re-pairing
   * the corpus against itself. Same shingle/minhash/band/verify
   * pipeline as [[minhashLshPairs]]; the band join is probe×corpus
   * instead of a self-join, so cost is linear in the probe batch with
   * the corpus side read once. Output: (probe_id, corpus_id, jaccard ≥
   * threshold). Ids present on BOTH sides pair with themselves and are
   * excluded.
   */
  def minhashCrossPairs(corpus: DataFrame, probes: DataFrame, n: Int = 3,
                        numHashes: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    lookupFromSets(
      shingleSets(corpus, idCol, textCol, n).repartition(col("id")),
      shingleSets(probes, idCol, textCol, n).repartition(col("id")),
      numHashes, bands, threshold)

  /**
   * Materialize the at-rest MinHash/LSH near-dup index under `path`:
   * `path/sets` = (id, sh) shingle sets, `path/bands` = (id, band) LSH
   * band keys. Bands derive from the WRITTEN sets (read back, not
   * recomputed from text), so the two halves cannot disagree and the
   * corpus tokenizes exactly once. [[minhashLookup]] /
   * [[minhashLookupStream]] probe it; refreshing after ingest is a
   * rewrite (or a partition append at fleet scale).
   */
  /** On-disk layout contract of a [[minhashIndex]]: the shingle size
    * baked into `sets` plus the hash-family/banding scheme baked into
    * `bands`. Probing with different parameters silently returns zero
    * matches (band keys never collide), so every reader/appender
    * verifies the `path/_format` marker (IndexFormat pattern, proven by
    * the simhash `_band_format` marker). */
  def minhashFormat(n: Int, numHashes: Int, bands: Int): String =
    s"minhash-lsh v1 n=$n numHashes=$numHashes bands=$bands"
  private def minhashCheck(spark: org.apache.spark.sql.SparkSession,
                           path: String, n: Int, numHashes: Int,
                           bands: Int): Unit =
    graft.model.IndexFormat.check(spark, path,
      minhashFormat(n, numHashes, bands),
      "Rebuild with Dedup.minhashIndex, or — for a banding-only change " +
      "(same n) — Dedup.minhashRebuildBands regenerates path/bands from " +
      "the stored sets without re-tokenizing.")

  def minhashIndex(df: DataFrame, path: String, n: Int = 3,
                   numHashes: Int = 16, bands: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    shingleSets(df, idCol, textCol, n)
      .write.mode("overwrite").parquet(s"$path/sets")
    val stored = df.sparkSession.read.parquet(s"$path/sets")
    bandRows(stored, numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    graft.model.IndexFormat.write(df.sparkSession, path,
      minhashFormat(n, numHashes, bands))
  }

  /** Migrate a [[minhashIndex]] to a new banding scheme: regenerate
    * `path/bands` from the stored (banding-independent) `path/sets`
    * and restamp the marker. `n` must state the shingle size the sets
    * were built with — it is not recoverable from the hashed shingles,
    * and it still gates probe compatibility. One linear pass, no
    * re-tokenize. */
  def minhashRebuildBands(spark: org.apache.spark.sql.SparkSession,
                          path: String, n: Int = 3, numHashes: Int = 16,
                          bands: Int = 4): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // sets and bands are disjoint directories, so the rebuild reads
    // one and overwrites the other directly — no staging hop (an
    // earlier staging dir was deleted via the DEFAULT filesystem,
    // which targets the wrong store for an s3a/hdfs-resident index)
    bandRows(spark.read.parquet(s"$path/sets"), numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    graft.model.IndexFormat.write(spark, path,
      minhashFormat(n, numHashes, bands))
  }

  /**
   * Append new documents to a materialized [[minhashIndex]] — the
   * incremental-crawl ingest path, the text-side twin of
   * [[graft.similarity.Ann.ivfAppend]]. Shingle sets and band keys are
   * pure per-document functions of the text and the fixed-seed hash
   * family — this layout carries NO corpus statistic (contrast
   * [[cdcIndex]]/[[winnowIndex]], whose denormalized df freezes at
   * build and makes refresh a full rewrite) — so appended rows land
   * exactly where a full rebuild would put them and subsequent lookups
   * are bit-identical to a from-scratch index (DedupSpec asserts it).
   * Parameters must match the build. New sets stage under
   * `path/staging-sets` so the band half derives from the WRITTEN rows
   * (the [[minhashIndex]] invariant: the halves cannot disagree, one
   * tokenize total); both halves then extend via parquet append — only
   * new files appear, existing data is never rewritten.
   */
  def minhashAppend(df: DataFrame, path: String, n: Int = 3,
                    numHashes: Int = 16, bands: Int = 4,
                    idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    minhashCheck(spark, path, n, numHashes, bands) // mixed schemes corrupt recall
    val staged = s"$path/staging-sets"
    shingleSets(df, idCol, textCol, n)
      .write.mode("overwrite").parquet(staged)
    val stored = spark.read.parquet(staged)
    stored.write.mode("append").parquet(s"$path/sets")
    bandRows(stored, numHashes, bands)
      .write.mode("append").parquet(s"$path/bands")
    // resolve the filesystem FROM the staging path — FileSystem.get
    // returns the default FS and would miss an s3a/hdfs-resident index
    val stagedPath = new org.apache.hadoop.fs.Path(staged)
    stagedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stagedPath, true)
  }

  /**
   * Probe a [[minhashIndex]] with a batch of new documents: (probe_id,
   * corpus_id, jaccard) for every probe near-dup already in the index.
   * `numHashes`/`bands`/`n` must match the index build (same pinned
   * hash family — [[hashParams]] is fixed-seed, so equal parameters
   * reproduce equal bands).
   */
  def minhashLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                    probes: DataFrame, n: Int = 3, numHashes: Int = 16,
                    bands: Int = 4, threshold: Double = 0.5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    minhashCheck(spark, path, n, numHashes, bands)
    lookupFromSets(
      spark.read.parquet(s"$path/sets"),
      shingleSets(probes, idCol, textCol, n).repartition(col("id")),
      numHashes, bands, threshold,
      corpusBands = Some(spark.read.parquet(s"$path/bands")))
  }

  /**
   * Streaming probe of a [[minhashIndex]]: a document stream (idCol,
   * textCol, `tsCol` ms) is checked live against the at-rest corpus —
   * the near-dup half of the continuous-ingest dedup story
   * ([[graft.streaming.StreamIngest.dedupStream]] is the exact half).
   * Stateless per micro-batch except the final
   * dropDuplicatesWithinWatermark (a pair re-surfacing across batches
   * within the watermark is emitted once; state is bounded by the
   * watermark). Index refresh = restart the query against the
   * rewritten path.
   */
  def minhashLookupStream(spark: org.apache.spark.sql.SparkSession,
                          path: String, probeStream: DataFrame, n: Int = 3,
                          numHashes: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5, tsCol: String = "ts",
                          watermark: String = "1 hour",
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    minhashCheck(spark, path, n, numHashes, bands)
    // The probe side shares [[shingleSets]] with the index build —
    // the two MUST produce bit-identical sets or lookups silently
    // stop matching.
    val psets = shingleSets(
      probeStream.withColumn("event_time", timestamp_millis(col(tsCol))),
      idCol, textCol, n, carry = Seq("event_time"))
    // Streaming shape: sh + event_time RIDE the probe band rows, so
    // both joins below are stream-STATIC (bands, then corpus sets) —
    // stateless per micro-batch. Re-attaching sh by joining back to
    // psets (the batch shape) would be a stream-STREAM self-join:
    // unbounded state and stale-row hazards. Likewise no mid-plan
    // dropDuplicates (a second stateful operator): a pair surfacing
    // via several bands just verifies redundantly (≤ bands× on
    // identical micro-batch rows) and the ONE watermarked dedup below
    // emits it once with watermark-bounded state.
    val verified = lookupFromSets(
      spark.read.parquet(s"$path/sets"), psets,
      numHashes, bands, threshold,
      corpusBands = Some(spark.read.parquet(s"$path/bands")),
      carryCols = Seq("event_time"), probeCarriesSets = true)
    verified
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("probe_id", "corpus_id")
      .drop("event_time")
  }

  /**
   * Per-document near-dup FLAG over a watermarked stream against an
   * at-rest [[minhashIndex]] — the decision form of
   * [[minhashLookupStream]] (which emits the matching PAIRS): each
   * arriving document resolves to one row `(idCol, carry…, near_dup)`
   * where `near_dup` = "some indexed document verifies at ≥
   * `threshold` Jaccard". This is the shape a continuous CURATION
   * pipeline needs — novel docs flow on, near-dups are gated — so the
   * carry columns (score, text, …) ride through to the sink.
   *
   * Plan shape: shingles + carries ride the probe band rows (the
   * [[minhashLookupStream]] trick — every join is stream-STATIC), the
   * band join is LEFT OUTER so candidate-less documents survive with
   * `near_dup = false`, and the per-document verdict is a watermarked
   * event-time-window aggregation (`max(jaccard ≥ threshold)` over the
   * ≤ bands× candidate rows). State is one group per in-flight
   * document window, expired by the watermark; emission happens when
   * the watermark passes the document's window — the standard
   * append-mode contract. Documents with no tokens (empty text) have
   * no shingle rows and are dropped, matching the batch pipeline's
   * eligibility rule (`size(sh) > 0`).
   *
   * `docStream` must already carry a watermarked `event_time`
   * timestamp column (the caller owns watermarking so an upstream
   * stateful stage — e.g. exact dedup — shares the same watermark).
   */
  def minhashFlagStream(spark: org.apache.spark.sql.SparkSession,
                        path: String, docStream: DataFrame, n: Int = 3,
                        numHashes: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5,
                        windowDur: String = "1 minute",
                        idCol: String = "doc_id", textCol: String = "text",
                        carry: Seq[String] = Nil): DataFrame = {
    minhashCheck(spark, path, n, numHashes, bands)
    val keep = carry.distinct
    val psets = shingleSets(docStream, idCol, textCol, n,
      carry = "event_time" +: keep)
    val pb = bandRows(psets, numHashes, bands,
      carry = "sh" +: "event_time" +: keep)
    val cb = spark.read.parquet(s"$path/bands")
    val cs = spark.read.parquet(s"$path/sets")
    // left joins: a document whose bands hit nothing (or whose id
    // collides with nothing in the sets half) must still emit a row
    val cand = pb.as("p")
      .join(cb.as("c"),
        col("p.band") === col("c.band") && col("p.id") =!= col("c.id"),
        "left")
      .select(col("p.id").as("id") +: col("p.sh").as("sha") +:
        col("p.event_time").as("event_time") +: col("c.id").as("corpus_id") +:
        keep.map(k => col("p." + k).as(k)): _*)
    val verified = cand
      .join(cs.select(col("id").as("corpus_id"), col("sh").as("shb")),
        Seq("corpus_id"), "left")
      .withColumn("__j", when(col("shb").isNotNull,
        size(array_intersect(col("sha"), col("shb")))
          / size(array_union(col("sha"), col("shb"))).cast("double"))
        .otherwise(lit(0.0)))
    verified
      .groupBy(window(col("event_time"), windowDur).as("__w") +:
        col("id").as(idCol) +: keep.map(col): _*)
      .agg(max(col("__j") >= lit(threshold)).as("near_dup"))
      .drop("__w")
  }

  /**
   * The shared lookup tail. Batch shape (`probeCarriesSets = false`):
   * probe bands × corpus bands candidate join carrying ids only (the
   * [[minhashLshPairs]] volume argument), distinct, then exact-Jaccard
   * verify re-attaching both shingle sets per DISTINCT pair. Streaming
   * shape (`probeCarriesSets = true`): the probe's sh + `carryCols`
   * ride its band rows instead — the re-attach join back to the probe
   * side would be a stream-stream self-join (unbounded state), so the
   * only joins are against the static corpus sides, at the cost of
   * shingle arrays riding ≤ bands× candidate rows within a
   * micro-batch. The corpus side arrives as at-rest (id, sh)
   * [+ optional pre-built (id, band)] or is banded here.
   */
  private def lookupFromSets(corpusSets: DataFrame, probeSets: DataFrame,
                             numHashes: Int, bands: Int, threshold: Double,
                             corpusBands: Option[DataFrame] = None,
                             carryCols: Seq[String] = Nil,
                             probeCarriesSets: Boolean = false): DataFrame = {
    val cb = corpusBands.getOrElse(bandRows(corpusSets, numHashes, bands))
    val cand =
      if (probeCarriesSets) {
        val pb = bandRows(probeSets, numHashes, bands, carry = "sh" +: carryCols)
        pb.as("p").join(cb.as("c"),
            col("p.band") === col("c.band") && col("p.id") =!= col("c.id"))
          .select(col("p.id").as("probe_id") +: col("c.id").as("corpus_id") +:
            col("p.sh").as("sha") +: carryCols.map(c => col("p." + c).as(c)): _*)
      } else {
        val pb = bandRows(probeSets.select("id", "sh"), numHashes, bands)
        pb.as("p").join(cb.as("c"),
            col("p.band") === col("c.band") && col("p.id") =!= col("c.id"))
          .select(col("p.id").as("probe_id"), col("c.id").as("corpus_id"))
          .dropDuplicates("probe_id", "corpus_id")
          .join(probeSets.select(col("id").as("probe_id") +:
              col("sh").as("sha") +: carryCols.map(col): _*),
            "probe_id")
      }
    cand
      .join(corpusSets.select(col("id").as("corpus_id"), col("sh").as("shb")),
        "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb")))
          / size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("probe_id") +: col("corpus_id") +:
        round(col("jaccard"), 4).as("jaccard") +: carryCols.map(col): _*)
  }

  /** Token-hash array for [[simhashFromHashes]] — materialize this as
    * its own column before folding bits (nested-HOF re-evaluation would
    * otherwise recompute the md5 pass once per bit, 60×). */
  def tokenHashes(textCol: String): Column = expr(
    s"""transform(filter(split($textCol, '\\\\s+'), t -> length(t) > 0),
       |          t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))""".stripMargin)

  /**
   * 60-bit SimHash over the document's (multiset of) token hashes: bit
   * b of the signature is the sign of Σ_tokens (2·bit_b(h) − 1).
   * Native codegen'd expression ([[graft.functions.SimHash60]]); the
   * equivalent HOF fold costs 60·n interpreted lambda calls per row.
   */
  def simhashFromHashes(hashCol: String): Column =
    graft.functions.VectorOps.simHash60(col(hashCol))

  /** (doc_id, sig) simhash signatures with the hash pass materialized. */
  def simhashSignatures(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        carry: Seq[String] = Nil): DataFrame =
    // Token-less (empty/whitespace) docs are excluded — the same
    // eligibility rule as the minhash paths' size(sh) > 0. They all
    // fold to sig 0, so keeping them would (a) claim every empty pair
    // as a dist-0 near-dup and (b) make the 0-sig bands permanent hot
    // keys in every banded join — all-empty-pairs is the degenerate
    // quadratic the banding exists to avoid.
    df.withColumn("__hs", tokenHashes(textCol))
      .filter(size(col("__hs")) > 0)
      .select(col(idCol).as("id") +: simhashFromHashes("__hs").as("sig") +:
        carry.map(col): _*)

  /**
   * Collapse near-duplicate clusters: connected components over a
   * pair list, labeling every member with the minimum doc id of its
   * component (the canonical representative a dedup pipeline keeps).
   * Iterative min-label propagation — each round is one shuffle join
   * on the edge list; rounds needed = graph diameter (tiny for dup
   * clusters), with a convergence check so dense components don't
   * over-iterate. Only documents that appear in `pairs` are returned.
   */
  def duplicateGroups(pairs: DataFrame, maxIters: Int = 1000,
                      driverLimit: Long = 1000000L,
                      jumpThreshold: Long = 100000L): DataFrame = {
    // Hybrid: dup-pair graphs are usually tiny relative to the corpus
    // (bounded by near-dup density); below the limit a driver-side
    // union-find is exact and avoids per-iteration job overhead. The
    // distributed loop below is the path for genuinely huge graphs.
    //
    // The driver path collects the RAW pair list: union-find is
    // symmetric (union(a,b) == union(b,a)) and duplicate-tolerant, so
    // the symmetrize-Generate and the distinct's full exchange+agg —
    // needed only by the label-propagation joins below — are pure
    // overhead here (guide §2.4: remove shuffles outright). One cache
    // keeps the possibly-expensive `pairs` subtree single-execution
    // across the count and the collect. Output identical: the root of
    // every component is its min id regardless of edge order or
    // multiplicity, and the node set is the same endpoints.
    val raw = pairs.select(col("id_a").as("a"), col("id_b").as("b")).cache()
    val nRaw = raw.count()
    if (nRaw <= driverLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = raw.as[(Long, Long)].collect()
      raw.unpersist(false)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      return nodes.toSeq.sorted.map(n => (n, find(n)))
        .toDF("doc_id", "group_id")
    }
    // Distributed path: symmetrize via explode, NOT
    // union-of-two-selects — a union embeds the (possibly expensive)
    // `pairs` subtree twice, and while AQE stage reuse dedupes the
    // exchanges below, the work ABOVE each branch's last exchange —
    // for LSH pairs, the whole candidate verify join — executes once
    // per branch (measured: e_dup_groups at decorr-sf30 cost exactly
    // 2× the e_lsh_pairs gate it wraps). One Generate over the CACHED
    // raw pairs emits both directions in one pass. The jump-threshold
    // decision reads 2·nRaw (an upper bound on the symmetrized edge
    // count — only a path heuristic; both paths converge to the
    // identical labeling, spec-pinned) so no extra count action runs.
    val nEdges = 2L * nRaw
    val edges = raw.select(
        explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().cache()
    // Each round is rebased onto a persisted RDD leaf
    // ([[graft.Leaf]]): the naive `labels = f(labels)`
    // loop embeds the previous round's LOGICAL PLAN twice per round
    // (both join sides derive from `labels`), so the plan TREE doubles
    // every iteration — a diameter-40 component OOMs the planner at
    // ~2^40 nodes long before any data moves. RDD lineage dedupes by
    // object identity (a DAG, not a tree), so flattening keeps
    // planning O(1) per round while shuffle outputs still reuse.
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    var cur = graft.Leaf.persist(edges.select(col("a").as("id")).distinct()
      .withColumn("grp", col("id")), labelSchema)
    // Convergence check rides the monotonicity: labels only ever
    // DECREASE, so the exact decimal label sum is strictly smaller
    // after any change — an unchanged sum IS convergence, with no
    // extra next⋈previous comparison join per round.
    val sumGrp = (df: DataFrame) =>
      df.agg(sum(col("grp").cast("decimal(38,0)"))).head().getDecimal(0)
    var curSum = sumGrp(cur.df)
    // maxIters is a safety valve only — a silent cap would SPLIT
    // components, so we fail loudly if it's ever hit
    var converged = false
    var i = 0
    while (!converged) {
      if (i >= maxIters) {
        edges.unpersist(false); raw.unpersist(false)
        cur.release() // no cache leak on abort
        throw new IllegalStateException(
          s"duplicateGroups did not converge in $maxIters iterations")
      }
      val viaNeighbors = edges
        .join(cur.df.withColumnRenamed("id", "b")
          .withColumnRenamed("grp", "ngrp"), "b")
        .groupBy(col("a").as("id"))
        .agg(min("ngrp").as("ngrp"))
      val steppedDf = cur.df.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("grp"), coalesce(col("ngrp"), col("grp"))).as("grp"))
      // Pointer jump (grp ← grp(grp)) on large graphs: neighbor-min
      // alone needs O(diameter) rounds, and chained near-dups make
      // dup-graph diameters grow with the corpus (measured: the
      // decorr-sf30 e_dup_groups CC loop cost ~180 s in tail rounds).
      // The jump composes each label with its label's label, so
      // remaining propagation distance shrinks geometrically —
      // O(log diameter) rounds. grp always names a node of the same
      // component (it starts as self and only ever adopts a neighbor's
      // or the label-target's label), so the fixpoint — labels constant
      // per component, hence the component min — is unchanged; the
      // convergence check (monotone label-sum) is also untouched.
      // `stepped` feeds BOTH sides of the self-join, so it is rebased
      // onto its own persisted RDD leaf first: leaving it as a logical
      // subtree would make single-execution hostage to exchange/stage
      // reuse (with AQE or reuse disabled, the neighbor-min join —
      // the round's expensive half — would silently run twice per
      // round). The leaf guarantees it by construction; the persist is
      // released as soon as the round's output materializes. Below
      // `jumpThreshold` edges the extra join per round costs more than
      // the rounds it saves (toy graphs have toy diameters: +2.6 s on
      // the sf0.1 d_dup_groups_dist gate), so small graphs keep the
      // plain neighbor-min round — both paths converge to the
      // identical labeling, spec-pinned.
      val (nextDf, steppedLeaf) =
        if (nEdges > jumpThreshold) {
          val stepped = graft.Leaf.persist(steppedDf, labelSchema)
          (stepped.df.as("s").join(
              stepped.df.select(col("id").as("gid"), col("grp").as("ggrp")).as("t"),
              col("s.grp") === col("t.gid"), "left")
            .select(col("s.id").as("id"),
              least(col("s.grp"), coalesce(col("t.ggrp"), col("s.grp"))).as("grp")),
            Some(stepped))
        } else (steppedDf, None)
      val next = graft.Leaf.persist(nextDf, labelSchema)
      val nextSum = sumGrp(next.df) // materializes next's rows
      cur.release() // previous round no longer referenced
      steppedLeaf.foreach(_.release()) // round-local intermediate
      cur = next
      converged = nextSum.compareTo(curSum) == 0
      curSum = nextSum
      i += 1
    }
    edges.unpersist(false)
    raw.unpersist(false)
    // release the loop's last persist too: the library leaves NO
    // caches behind. A consumer replaying the lineage reuses the
    // loop's still-materialized shuffle outputs (stage reuse), so the
    // uncached handoff costs shuffle-file reads, not a re-run of the
    // propagation.
    val out = cur.df.select(col("id").as("doc_id"), col("grp").as("group_id"))
    cur.release()
    out
  }

  /**
   * SimHash near-dup pairs: block on 4 × 15-bit bands of the signature
   * (any pair within Hamming distance `maxDist` ≤ 3 of each other
   * shares at least one exact band by pigeonhole when maxDist < 4),
   * verify with popcount of XOR.
   */
  def simhashPairs(df: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Both self-join sides consume the banded rows: repartition on the
    // band (the clustering the join needs anyway) plants one exchange
    // that both sides share via exchange/stage reuse — the token-hash +
    // simhash pass runs once, with nothing cached/pinned. (sig rides
    // the 16-byte banded row, so no re-attach join is needed.)
    val banded = simhashBandRows(simhashSignatures(df, idCol, textCol))
      .repartition(col("band"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("siga"), col("b.sig").as("sigb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", expr("bit_count(siga ^ sigb)"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** 3-of-6-block compound band keys (Manku et al., WWW'07 §3): the
    * 60-bit signature splits into six 10-bit blocks; each row emits
    * the C(6,3) = 20 concatenations of three blocks as its band keys.
    * Any pair at hamming distance ≤ 3 differs in ≤ 3 blocks, so some
    * untouched 3-block combo matches — the same pigeonhole guarantee
    * as 4 × 15-bit single bands, but with 30-bit keys: random
    * (non-near-dup) bucket collisions are birthday-bounded by
    * N²/2³¹ per table instead of N²/2¹⁶, which is what turned the
    * banded self-join quadratic once corpora passed ~10⁵ docs
    * (measured: candidate volume grew 70× for 10× docs under 15-bit
    * bands; near-flat under 30-bit keys). 20 vs 4 band rows per doc
    * is the linear price. Output of every consumer is unchanged —
    * both schemes are recall-complete for dist ≤ 3 and the popcount
    * verify is exact. */
  private val SimhashBlockCombos: Seq[(Int, Int, Int)] =
    for { i <- 0 to 5; j <- (i + 1) to 5; k <- (j + 1) to 5 } yield (i, j, k)

  /** (id, sig, band[, carry…]) from (id, sig[, carry…]) signature
    * rows — shared by [[simhashPairs]], the at-rest [[simhashIndex]]
    * (band layout on disk follows this scheme) and its probe sides. */
  private def simhashBandRows(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    def block(b: Int) = s"((sig div shiftleft(1L, ${b * 10})) % 1024)"
    val keys = SimhashBlockCombos.map { case (i, j, k) =>
      s"concat('$i$j$k:', ${block(i)}, ':', ${block(j)}, ':', ${block(k)})"
    }
    sigs.select(col("id") +: col("sig") +:
      explode(expr(s"array(${keys.mkString(", ")})")).as("band") +:
      carry.map(col): _*)
  }

  /**
   * SimHash near-dup pairs of `probes` AGAINST `corpus` — the SimHash
   * sibling of [[minhashCrossPairs]] (same incremental-crawl shape,
   * linear in the probe batch). Cheaper still: the 60-bit signature
   * rides every band row, so the popcount verify needs NO re-attach
   * join on either side. Output: (probe_id, corpus_id, dist ≤
   * maxDist); ids present on both sides excluded.
   */
  def simhashCrossPairs(corpus: DataFrame, probes: DataFrame,
                        maxDist: Int = 3, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    simhashLookupFromSigs(
      simhashBandRows(simhashSignatures(corpus, idCol, textCol)),
      simhashSignatures(probes, idCol, textCol), maxDist)

  /** Persisted band-layout version of [[simhashIndex]], written as the
    * single-line marker file `path/_band_format`. The band-key scheme
    * is part of the ON-DISK contract: probing an index whose bands
    * were exploded under a different scheme silently returns ZERO
    * matches (the keys never collide), and appending mixed-scheme band
    * rows corrupts recall for both generations — so every reader and
    * appender verifies the marker and fails loudly instead.
    * History: v1 = 4 exploded 15-bit single bands (pre-r13);
    * v2 = 20 compound 3-of-6 10-bit-block keys ([[SimhashBlockCombos]]). */
  val SimhashBandFormat = "simhash-bands v2 3of6-blocks"

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeBandFormatMarker(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_band_format")
    val out = hadoopFs(spark, path).create(p, true)
    try out.write((SimhashBandFormat + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Fail-loud guard on every simhash-index read/append path: the
    * marker must exist and match [[SimhashBandFormat]] exactly. A
    * missing marker means the index predates the marker (v1 bands) —
    * treated as a mismatch, not trusted. */
  private def requireBandFormat(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/_band_format")
    val actual =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
        finally in.close()
      }
    if (!actual.contains(SimhashBandFormat)) throw new IllegalStateException(
      s"simhash index at $path has band layout ${actual.getOrElse("<no marker — pre-v2 index>")} " +
      s"but this build probes/writes '$SimhashBandFormat'; old-format bands never " +
      s"collide with new-format probe keys (lookups silently return 0 matches) " +
      s"and mixed appends corrupt recall. Run Dedup.simhashRebuildBands(spark, path) " +
      s"to regenerate path/bands from path/sigs (signatures are format-independent).")
  }

  /** Migrate / repair an at-rest simhash index: regenerate `path/bands`
    * from the stored (format-independent) `path/sigs` under the current
    * [[SimhashBandFormat]] and stamp the marker. One linear pass. */
  def simhashRebuildBands(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit = {
    val staged = s"$path/staging-bands"
    simhashBandRows(spark.read.parquet(s"$path/sigs"))
      .write.mode("overwrite").parquet(staged)
    spark.read.parquet(staged)
      .write.mode("overwrite").parquet(s"$path/bands")
    hadoopFs(spark, path)
      .delete(new org.apache.hadoop.fs.Path(staged), true)
    writeBandFormatMarker(spark, path)
  }

  /**
   * Materialize the at-rest SimHash near-dup index under `path`:
   * `path/sigs` = (id, sig), `path/bands` = (id, sig, band) — 8 bytes
   * of signature per doc plus 20 compound band rows (the 3-of-6-block
   * scheme of [[simhashBandRows]]); at any corpus scale this is the
   * cheapest near-dup index that exists. Bands derive from the WRITTEN
   * sigs so the halves cannot disagree, and the band layout is stamped
   * in `path/_band_format` ([[SimhashBandFormat]]) so a future scheme
   * change cannot silently probe stale bands.
   */
  def simhashIndex(df: DataFrame, path: String, idCol: String = "doc_id",
                   textCol: String = "text"): Unit = {
    simhashSignatures(df, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/sigs")
    simhashBandRows(df.sparkSession.read.parquet(s"$path/sigs"))
      .write.mode("overwrite").parquet(s"$path/bands")
    writeBandFormatMarker(df.sparkSession, path)
  }

  /** Append new documents to a materialized [[simhashIndex]] — same
    * contract and staging shape as [[minhashAppend]]: signatures are
    * corpus-independent, so append ≡ full rebuild for every lookup. */
  def simhashAppend(df: DataFrame, path: String,
                    idCol: String = "doc_id",
                    textCol: String = "text"): Unit = {
    val spark = df.sparkSession
    requireBandFormat(spark, path) // appending v2 bands into v1 bands mixes schemes
    val staged = s"$path/staging-sigs"
    simhashSignatures(df, idCol, textCol)
      .write.mode("overwrite").parquet(staged)
    val stored = spark.read.parquet(staged)
    stored.write.mode("append").parquet(s"$path/sigs")
    simhashBandRows(stored)
      .write.mode("append").parquet(s"$path/bands")
    // path-resolved FS, not the default FS (s3a/hdfs-resident indexes)
    val stagedPath = new org.apache.hadoop.fs.Path(staged)
    stagedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stagedPath, true)
  }

  /** Probe a [[simhashIndex]] with a batch of new documents:
    * (probe_id, corpus_id, dist) per near-dup already held. */
  def simhashLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                    probes: DataFrame, maxDist: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireBandFormat(spark, path)
    simhashLookupFromSigs(
      spark.read.parquet(s"$path/bands"),
      simhashSignatures(probes, idCol, textCol), maxDist)
  }

  /**
   * Streaming probe of a [[simhashIndex]]: live SimHash near-dup
   * check of a document stream against the at-rest corpus. All joins
   * are stream-static (the signature rides the probe band rows); the
   * one stateful operator is the final watermark-bounded pair dedup —
   * the same shape as [[minhashLookupStream]].
   */
  def simhashLookupStream(spark: org.apache.spark.sql.SparkSession,
                          path: String, probeStream: DataFrame,
                          maxDist: Int = 3, tsCol: String = "ts",
                          watermark: String = "1 hour",
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    requireBandFormat(spark, path)
    // shares simhashSignatures with the index build — bit-identical
    // signatures or lookups silently stop matching
    val sigs = simhashSignatures(
      probeStream.withColumn("event_time", timestamp_millis(col(tsCol))),
      idCol, textCol, carry = Seq("event_time"))
    simhashLookupFromSigs(spark.read.parquet(s"$path/bands"), sigs, maxDist,
        carryCols = Seq("event_time"), dedupCandidates = false)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("probe_id", "corpus_id")
      .drop("event_time")
  }

  /** Shared SimHash lookup tail: probe bands × corpus bands on the
    * band key (signatures riding both sides), popcount verify.
    * `dedupCandidates = false` on streams — the final watermarked
    * dedup absorbs band-duplicate candidates instead of a second
    * stateful operator (the [[lookupFromSets]] rationale). */
  private def simhashLookupFromSigs(corpusBands: DataFrame, probeSigs: DataFrame,
                                    maxDist: Int, carryCols: Seq[String] = Nil,
                                    dedupCandidates: Boolean = true): DataFrame = {
    val pb = simhashBandRows(probeSigs, carry = carryCols)
    val raw = pb.as("p").join(corpusBands.as("c"),
        col("p.band") === col("c.band") && col("p.id") =!= col("c.id"))
      .select(col("p.id").as("probe_id") +: col("c.id").as("corpus_id") +:
        col("p.sig").as("sigp") +: col("c.sig").as("sigc") +:
        carryCols.map(c => col("p." + c).as(c)): _*)
    val cand =
      if (dedupCandidates) raw.dropDuplicates("probe_id", "corpus_id") else raw
    cand
      .withColumn("dist", expr("bit_count(sigp ^ sigc)"))
      .filter(col("dist") <= maxDist)
      .select(col("probe_id") +: col("corpus_id") +: col("dist") +:
        carryCols.map(col): _*)
  }

  /** Content-defined chunks of a string column (native single-pass
    * rolling-hash expression, [[graft.functions.CdcChunks]]). */
  def cdcChunks(c: Column, window: Int = 4, divisor: Int = 32): Column =
    org.apache.spark.sql.GraftBridge.toColumn(
      graft.functions.CdcChunks(
        org.apache.spark.sql.GraftBridge.toExpression(c), window, divisor))

  /**
   * Chunk-level near-dup pairs: documents sharing ≥ `minShared`
   * identical content-defined chunks. Edit-robust sub-document dedup —
   * a doc that copies half of another still shares that half's chunks
   * verbatim even though every fixed-size block would shift.
   *
   * Plan shape (the 100 TB path): chunk → md5 → explode → distinct
   * (id, chunk) → optional hot-chunk anti-join (boilerplate chunks
   * occurring in more than `maxDf` docs would join quadratically) →
   * one equi-join shuffle on chunk hash → per-pair count. Never
   * all-pairs.
   */
  def cdcSharedChunkPairs(df: DataFrame, window: Int = 4, divisor: Int = 32,
                          minShared: Int = 2, idCol: String = "doc_id",
                          textCol: String = "text",
                          maxDf: Long = Long.MaxValue): DataFrame = {
    // The chunk-hash projection feeds the hot-df aggregation, the
    // anti-join probe, and both sides of the self-join. As in
    // [[ngramJaccardPairs]], a repartition — not a `.cache()` — makes
    // the chunk+md5 subtree evaluate once: every consumer shares the
    // one exchange byte-identically. With a hot guard the key set
    // includes `id` so a boilerplate chunk's stratum spreads across
    // tasks and is dropped before the join's c-clustered exchange;
    // without one, the blocking key is the join's own clustering.
    val rows = chunkRows(df, idCol, textCol, window, divisor)
    val ex =
      if (maxDf == Long.MaxValue) rows.repartition(col("c"))
      else dropHotKeys(rows.repartition(col("id"), col("c")), "c", maxDf)
    ex.as("a").join(ex.as("b"),
        col("a.c") === col("b.c") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Distinct (id, chunk-md5) rows — the blocking projection shared by
    * [[cdcSharedChunkPairs]], [[cdcCrossPairs]], and [[cdcIndex]].
    * Explicit not-null guards stay BELOW the callers' exchanges: the
    * joins infer them on their branches, and without matching filters
    * in every branch the subtree copies differ and reuse is lost. */
  private def chunkRows(df: DataFrame, idCol: String, textCol: String,
                        window: Int, divisor: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_distinct(transform(
          cdcChunks(col(textCol), window, divisor), md5(_)))).as("c"))
      .filter(col("id").isNotNull && col("c").isNotNull)

  /**
   * Chunk-level near-dup pairs of `probes` AGAINST `corpus` — the
   * sub-document sibling of [[minhashCrossPairs]]: a probe that copies
   * half of a held document still shares that half's content-defined
   * chunks verbatim. One equi-join on chunk hash, linear in the probe
   * batch. The `maxDf` hot-chunk guard counts CORPUS documents only
   * (boilerplate-ness is a property of the held corpus — the same df
   * the at-rest [[cdcIndex]] precomputes), so probe-side composition
   * cannot shift which chunks block. Output: (probe_id, corpus_id,
   * shared ≥ minShared); shared ids excluded.
   */
  def cdcCrossPairs(corpus: DataFrame, probes: DataFrame, window: Int = 4,
                    divisor: Int = 32, minShared: Int = 2,
                    maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val cc0 = chunkRows(corpus, idCol, textCol, window, divisor)
    val cc =
      if (maxDf == Long.MaxValue) cc0.repartition(col("c"))
      else dropHotKeys(cc0.repartition(col("id"), col("c")), "c", maxDf)
    sharedChunkTail(cc, chunkRows(probes, idCol, textCol, window, divisor),
      minShared)
  }

  /**
   * Materialize the at-rest CDC chunk index under `path/chunks`:
   * (id, c, df) — each document's distinct chunk hashes with the
   * chunk's corpus document frequency DENORMALIZED onto the row, so a
   * probe-time `maxDf` guard is a pushed parquet filter instead of an
   * aggregation over the whole index. One chunk pass, one exchange
   * (the df aggregation and the re-attach join share it).
   *
   * `maxDf` caps what the index even stores: chunks in more than
   * `maxDf` corpus docs are dropped AT BUILD, with the (id, maxDf∨c)
   * spread-key guard, so no single task ever holds a boilerplate
   * chunk's whole stratum — the df re-attach join is then ≤ maxDf rows
   * per key by construction. The default (unbounded) keeps everything
   * but concentrates each hot chunk's rows in one join task; set
   * `maxDf` for any corpus that can contain fleet-wide boilerplate.
   *
   * REFRESH IS A FULL REWRITE. df is frozen per build — appending new
   * docs (the [[minhashIndex]] refresh note does NOT transfer) would
   * leave stale df on existing rows, so a chunk crossing the hot
   * threshold across appends would silently keep passing probe-time
   * `df <=` filters.
   */
  def cdcIndex(df: DataFrame, path: String, window: Int = 4,
               divisor: Int = 32, maxDf: Long = Long.MaxValue,
               idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val rows = chunkRows(df, idCol, textCol, window, divisor)
    val ex =
      if (maxDf == Long.MaxValue) rows.repartition(col("c"))
      else dropHotKeys(rows.repartition(col("id"), col("c")), "c", maxDf)
    val dfc = ex.groupBy("c").agg(count(lit(1)).as("df"))
    ex.join(dfc, "c").select("id", "c", "df")
      .write.mode("overwrite").parquet(s"$path/chunks")
    graft.model.IndexFormat.write(df.sparkSession, path,
      cdcFormat(window, divisor))
  }

  /** On-disk chunking contract of a [[cdcIndex]]: the Rabin window and
    * cut-point divisor baked into the stored chunk hashes. Probing with
    * different parameters produces chunk hashes that never collide with
    * the stored ones — silent zero matches — so [[cdcLookup]] verifies
    * the marker. (Build-time `maxDf` is a data prune, not a layout
    * parameter: it is recorded in the stored `df` column and probes may
    * tighten it freely.) A chunking change has no format-independent
    * stored half — rebuild = re-run [[cdcIndex]] over the corpus. */
  def cdcFormat(window: Int, divisor: Int): String =
    s"cdc-chunks v1 window=$window divisor=$divisor"

  /**
   * Probe a [[cdcIndex]] with a batch of new documents: (probe_id,
   * corpus_id, shared) per held document sharing ≥ `minShared`
   * chunks. `maxDf` filters on the index's precomputed df column —
   * plan-check: the filter reaches the parquet scan. For a LIVE
   * probe stream, run this per micro-batch via `foreachBatch`: the
   * per-pair shared-chunk COUNT is an aggregation, which in append
   * streaming would wait on the watermark instead of answering now
   * (the [[minhashLookupStream]]/[[simhashLookupStream]] per-row
   * verifies have no such step, which is why they stream directly).
   */
  def cdcLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                probes: DataFrame, window: Int = 4, divisor: Int = 32,
                minShared: Int = 2, maxDf: Long = Long.MaxValue,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.model.IndexFormat.check(spark, path, cdcFormat(window, divisor),
      "Rebuild with Dedup.cdcIndex under the chunking parameters you probe with.")
    sharedChunkTail(
      spark.read.parquet(s"$path/chunks").filter(col("df") <= maxDf),
      chunkRows(probes, idCol, textCol, window, divisor), minShared)
  }

  /** Probe chunks × corpus chunks on the hash, per-pair shared count. */
  private def sharedChunkTail(corpusChunks: DataFrame, probeChunks: DataFrame,
                              minShared: Int): DataFrame =
    probeChunks.as("p").join(corpusChunks.as("c"),
        col("p.c") === col("c.c") && col("p.id") =!= col("c.id"))
      .groupBy(col("p.id").as("probe_id"), col("c.id").as("corpus_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)

  // ----------------------------------------------------- winnow family

  /** Distinct (id, c) winnowing fingerprints — the blocking projection
    * of the winnow detector family, fingerprint column named `c` so
    * the shared-key tail, hot-df guard, and index layout are the cdc
    * machinery verbatim. Each array stage is materialized as its own
    * column ([[graft.text.TextOps.winnowFromHashes]] perf note: a
    * nested argument re-evaluates per window — O(n²·w)). */
  private def fpRows(df: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int): DataFrame =
    df.withColumn("__toks", graft.text.TextOps.tokens(col(textCol)))
      .withColumn("__sh", graft.text.TextOps.shingles(col("__toks"), k))
      .withColumn("__hs", transform(col("__sh"),
        s => graft.text.TextOps.h60(s)))
      .select(col(idCol).as("id"),
        explode(graft.text.TextOps.winnowFromHashes(col("__hs"), w)).as("c"))
      .filter(col("id").isNotNull && col("c").isNotNull)

  /**
   * Winnow-fingerprint near-dup pairs of `probes` AGAINST `corpus` —
   * the plagiarism-sketch sibling of [[cdcCrossPairs]] (winnowing
   * guarantees any shared substring of the guarantee length surfaces
   * a shared fingerprint, where CDC needs the copy to span chunk
   * boundaries verbatim). One equi-join on fingerprint, linear in the
   * probe batch; `maxDf` counts CORPUS docs only, so probe-side
   * composition cannot shift which fingerprints block.
   */
  def winnowCrossPairs(corpus: DataFrame, probes: DataFrame, k: Int = 3,
                       w: Int = 4, minShared: Int = 2,
                       maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val cc0 = fpRows(corpus, idCol, textCol, k, w)
    val cc =
      if (maxDf == Long.MaxValue) cc0.repartition(col("c"))
      else dropHotKeys(cc0.repartition(col("id"), col("c")), "c", maxDf)
    sharedChunkTail(cc, fpRows(probes, idCol, textCol, k, w), minShared)
  }

  /**
   * Materialize the at-rest winnow-fingerprint index under
   * `path/fps`: (id, c, df) with the corpus document frequency
   * denormalized per row — identical layout and maxDf-at-build
   * semantics as [[cdcIndex]], including its REFRESH IS A FULL
   * REWRITE caveat (df is frozen per build).
   */
  def winnowIndex(df: DataFrame, path: String, k: Int = 3, w: Int = 4,
                  maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
                  textCol: String = "text"): Unit = {
    val rows = fpRows(df, idCol, textCol, k, w)
    val ex =
      if (maxDf == Long.MaxValue) rows.repartition(col("c"))
      else dropHotKeys(rows.repartition(col("id"), col("c")), "c", maxDf)
    val dfc = ex.groupBy("c").agg(count(lit(1)).as("df"))
    ex.join(dfc, "c").select("id", "c", "df")
      .write.mode("overwrite").parquet(s"$path/fps")
    graft.model.IndexFormat.write(df.sparkSession, path, winnowFormat(k, w))
  }

  /** On-disk fingerprint contract of a [[winnowIndex]]: shingle size
    * and winnowing window baked into the stored fingerprints — the cdc
    * marker rationale verbatim (maxDf likewise a probe-time prune). */
  def winnowFormat(k: Int, w: Int): String = s"winnow-fps v1 k=$k w=$w"

  /**
   * Probe a [[winnowIndex]] with a batch of new documents:
   * (probe_id, corpus_id, shared ≥ minShared). `maxDf` filters the
   * index's precomputed df — a pushed parquet filter. Live probes run
   * per micro-batch via `foreachBatch`, as with [[cdcLookup]] (the
   * shared-count aggregation is why this one doesn't stream directly).
   */
  def winnowLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                   probes: DataFrame, k: Int = 3, w: Int = 4,
                   minShared: Int = 2, maxDf: Long = Long.MaxValue,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.model.IndexFormat.check(spark, path, winnowFormat(k, w),
      "Rebuild with Dedup.winnowIndex under the fingerprint parameters you probe with.")
    sharedChunkTail(
      spark.read.parquet(s"$path/fps").filter(col("df") <= maxDf),
      fpRows(probes, idCol, textCol, k, w), minShared)
  }

  /**
   * Exact duplicate-substring spans: maximal runs of ≥ `l` consecutive
   * tokens that occur verbatim in at least `minDocs` distinct
   * documents — the "remove long repeated substrings" curation op,
   * complementary to document-level near-dup detection (a boilerplate
   * header shared by thousands of otherwise-distinct pages never
   * crosses a Jaccard threshold, but its span should still be cut).
   *
   * Shape: md5 of each `l`-token sliding window, computed map-side
   * from the token array (the array is one doc's tokens — the same
   * per-row working set every whole-text operator holds)
   * → window hashes kept if their distinct-doc count is in
   * [`minDocs`, `maxDf`] (the hot guard: a fleet-wide boilerplate
   * window in millions of docs is capped by `maxDf`, and
   * `maxOccurrences` additionally caps within-doc repetition blowups)
   * → per doc, overlapping/adjacent surviving windows merge into
   * maximal spans (gaps-and-islands over one more per-doc sort).
   * Every shuffle is on a natural bounded key (doc id or window
   * hash); nothing is quadratic in corpus size.
   *
   * Output: (idCol, span_start, span_end, span_tokens, n_windows) with
   * 1-based token positions, `span_end` exclusive.
   */
  def duplicateSpans(df: DataFrame, l: Int = 8, minDocs: Long = 2L,
                     maxDf: Long = Long.MaxValue,
                     maxOccurrences: Long = Long.MaxValue,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    spansFromArrays(tokenArrays(df, idCol, textCol), l, minDocs, maxDf,
        maxOccurrences)
      .withColumnRenamed("id", idCol)

  /**
   * The shared (id, __toks) token-array projection the span ops build
   * on: ONE tokenize, null ids dropped. A null/empty text yields a
   * null/empty array and rides through — [[spansFromArrays]] drops it
   * at the `size >= l` filter, [[cutFromArrays]] keeps the doc via its
   * outer explode.
   */
  private def tokenArrays(df: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__toks"))

  /** [[duplicateSpans]] over a pre-built [[tokenArrays]] projection —
    * the seam that lets [[cutDuplicateSpans]] feed BOTH the detect and
    * the cut sides from one id-partitioned exchange. Returns spans
    * keyed by the generic `id` column. */
  private def spansFromArrays(arrays: DataFrame, l: Int, minDocs: Long,
                              maxDf: Long, maxOccurrences: Long): DataFrame = {
    require(l >= 2, "window length must be at least 2 tokens")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // Window hashes compute MAP-SIDE from the token array (1-based
    // slice per start position — tokens never contain whitespace, so
    // the space-joined window string is unambiguous and cheap for a
    // SQL oracle to rebuild): no shuffle and no per-doc sort of the
    // full token stream, which a lead()-window formulation would pay
    // twice (once per consumer). The token array is materialized as
    // its own column first — Catalyst re-evaluates nested HOF argument
    // subtrees per element (the shingleSets note). The one exchange is
    // the explicit repartition below, keyed on ALL projected columns
    // so neither consumer's column pruning can specialize its copy of
    // the hash subtree (the ngramJaccardPairs idiom). No wh null-guard
    // is needed: md5∘concat_ws over the non-null slice is statically
    // non-nullable, so Catalyst would prune such a filter anyway.
    // Short/null docs are excluded by the `when` INSIDE the explode
    // projection, not a Filter: a Filter here would push down through
    // the caller's shared tokenArrays repartition and specialize this
    // branch's copy of the scan+tokenize subtree — splitting the one
    // exchange [[cutDuplicateSpans]] relies on into two corpus scans.
    val win = arrays
      .select(col("id"),
        posexplode(when(size(col("__toks")) >= l, transform(
            sequence(lit(1), size(col("__toks")) - l + 1),
            i => md5(concat_ws(" ", slice(col("__toks"), i, lit(l))))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("p0", "wh")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("wh"))
      .repartition(col("id"), col("pos"), col("wh"))
    // Two-level aggregate: per-(hash, doc) occurrence counts first —
    // the same two-phase shape an exact count_distinct would expand to,
    // but the intermediate also yields the per-doc maximum, so
    // maxOccurrences caps WITHIN-doc repetition (its documented
    // contract) rather than corpus-wide totals (which would wrongly
    // drop a boilerplate window occurring once in each of many docs —
    // the operator's primary target).
    val dup = win.groupBy("wh", "id").agg(count(lit(1)).as("__docOcc"))
      .groupBy("wh")
      .agg(count(lit(1)).as("df"), max(col("__docOcc")).as("__maxOcc"))
      .filter(col("df") >= minDocs && col("df") <= maxDf &&
        col("__maxOcc") <= maxOccurrences)
      .select("wh")
    val occ = win.join(dup, "wh").select("id", "pos")
    val prevEnd = max(col("pos") + l)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    occ
      .withColumn("__brk", when(prevEnd >= col("pos"), 0).otherwise(1))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col("id"), col("__island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + l).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"))
  }

  /**
   * Cut [[duplicateSpans]]-shaped spans out of the text: every doc
   * keeps its tokens outside all its spans, space-joined in order
   * (tokenization is whitespace-splitting, so the join is lossless up
   * to whitespace normalization). Docs with no spans pass through
   * re-joined; docs entirely covered come back as the empty string.
   *
   * Scale shape: one anti join on (doc id, position-range) — the span
   * side is a few rows per affected doc — then a per-doc rebuild.
   * The rebuild materializes one doc's surviving tokens as an array,
   * which is bounded by document length, the same working set any
   * whole-text operator (canonicalText, resize, chunking) already
   * holds per row.
   */
  def cutSpans(df: DataFrame, spans: DataFrame,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cutFromArrays(
        tokenArrays(df, idCol, textCol).repartition(col("id")),
        spans.withColumnRenamed(idCol, "id"))
      .withColumnRenamed("id", idCol)

  /**
   * Detect AND cut in one plan — the composed curation pass the
   * `d_cut_spans` gate runs. Both sides build on ONE id-partitioned
   * [[tokenArrays]] exchange: the detect branch explodes window hashes
   * off it, the cut branch explodes tokens off it, and exchange reuse
   * makes the corpus scan + tokenize happen exactly once (composing
   * the two public ops instead would pay that heaviest pass twice).
   */
  def cutDuplicateSpans(df: DataFrame, l: Int = 8, minDocs: Long = 2L,
                        maxDf: Long = Long.MaxValue,
                        maxOccurrences: Long = Long.MaxValue,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val base = tokenArrays(df, idCol, textCol).repartition(col("id"))
    cutFromArrays(base, spansFromArrays(base, l, minDocs, maxDf, maxOccurrences))
      .withColumnRenamed("id", idCol)
  }

  /** [[cutSpans]] over a pre-built, id-clustered [[tokenArrays]]
    * projection; `spans` is keyed by the generic `id` column. */
  private def cutFromArrays(arrays: DataFrame, spans: DataFrame): DataFrame = {
    // Outer explode: a doc whose token array is empty (or null text)
    // emits one (null, null) row, so every input doc survives the
    // groupBy — no ids-only rescan + outer join to re-attach missing
    // docs. The arrays side arrives id-clustered (caller contract),
    // which serves both the span join and the rebuild groupBy.
    val toks = arrays.select(col("id"),
      posexplode_outer(col("__toks")).as(Seq("pos0", "tok")))
    val sp = spans.select(col("id").as("__sid"),
      col("span_start"), col("span_end"))
    // Left-outer join + conditional collect rather than a left-anti
    // join: Catalyst pushes semi/anti joins below
    // RepartitionByExpression, which would specialize the token
    // subtree and undo the exchange unification above (the dropHotKeys
    // rationale). collect_list skips nulls, so only tokens matching NO
    // span (and not the outer-explode null row) are kept; a cut token
    // matching several overlapping spans yields several rows, all
    // null under the `when` — overlap cannot duplicate output.
    toks.join(sp,
        col("id") === col("__sid") &&
          col("pos0") + 1 >= col("span_start") &&
          col("pos0") + 1 < col("span_end"),
        "left")
      .groupBy("id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(
            when(col("__sid").isNull && col("tok").isNotNull,
              struct((col("pos0") + 1).as("pos"), col("tok"))))),
          _.getField("tok"))).as("clean_text"))
  }

  /**
   * Boilerplate-segment removal — the line-level dedup pass of
   * CCNet/RefinedWeb-style curation (headers, footers, navigation
   * chrome repeated verbatim across a crawl), re-expressed over
   * corpora without hard newlines: each document splits into
   * consecutive `width`-token segments, every distinct segment's
   * document frequency is counted corpus-wide, segments appearing in
   * ≥ `maxDf` documents are dropped, and the survivors re-join in
   * order (empty string when everything was boilerplate).
   *
   * Scale shape: one segment exchange for the df count (two-phase:
   * distinct (segment, doc) then count — the exact-count_distinct
   * expansion), then the hot-segment set joins back BROADCAST — by
   * definition it holds only segments recurring in ≥ maxDf documents,
   * a set bounded by corpus boilerplate (≪ corpus) the same way the
   * winnowing hot-fingerprint and CDC hot-chunk guards are. The
   * rebuild is a per-doc sort of its own segments, bounded by
   * document length. The df branch and the rebuild share ONE tokenize
   * pass only when `df` is a leaf (a scan or a persisted frame, see
   * [[graft.Leaf]]): on a composed input, filters the optimizer
   * infers from upstream operators can differ between the two
   * branches, and the shared exchange splits into one tokenize pass
   * per branch.
   */
  def stripBoilerplateSegments(df: DataFrame, width: Int = 4,
                               maxDf: Long = 5L,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(width >= 1, "segment width must be at least 1 token")
    // Empty/null-text docs have no segments and are simply absent from
    // the output (inner semantics — the oracle mirrors this).
    val segs = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        posexplode(when(size(col("__toks")) > 0, transform(
            sequence(lit(0),
              ceil(size(col("__toks")) / lit(width.toDouble)).cast("long") - 1),
            g => concat_ws(" ",
              slice(col("__toks"), (g * width + 1).cast("int"), lit(width)))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("seg_idx", "seg")))
      // explicit not-null guards BELOW the exchange: the hot-df join
      // infers them on its build side; with matching filters already
      // present the inferred copies are subsumed and both branches'
      // subtrees stay byte-identical (the shingleBlockedCounts note)
      .filter(col("id").isNotNull && col("seg").isNotNull)
      // spread-key repartition on ALL projected columns (the
      // ngramJaccardPairs idiom): the hot-df branch and the rebuild
      // join read ONE copy of the scan+tokenize+segment subtree via
      // exchange reuse — column pruning can't specialize either copy
      // because every column is a partitioning input.
      .repartition(col("id"), col("seg_idx"), col("seg"))
    val hot = segs.select("seg", "id").distinct()
      .groupBy("seg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= maxDf)
      .select(col("seg"), lit(true).as("__hot"))
    segs.join(broadcast(hot), Seq("seg"), "left")
      .groupBy("id")
      .agg(
        concat_ws(" ", transform(array_sort(collect_list(
            when(col("__hot").isNull, struct(col("seg_idx"), col("seg"))))),
          _.getField("seg"))).as("clean_text"),
        count(lit(1)).as("n_seg"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("id").as(idCol), col("clean_text"), col("n_seg"),
        col("n_dropped"))
  }

  /**
   * Benchmark decontamination by SPAN CUT: every `l`-token window of a
   * non-benchmark document that appears verbatim anywhere in the
   * benchmark slice (`isBench` rows) marks a contaminated region;
   * overlapping windows merge into maximal spans, and the spans are
   * cut out of the text (Lee et al.-style surgical decontamination —
   * the doc survives minus the leaked passage, where the flag-only
   * `p_decontam` variant would drop it whole).
   *
   * Returns (idCol, clean_text) for every NON-benchmark document;
   * untouched docs pass through whitespace-normalized.
   *
   * Scale shape: ONE corpus scan + tokenize feeds the window-hash
   * branch and the rebuild branch through a single id-keyed exchange
   * (the [[cutDuplicateSpans]] idiom — bench/train row routing is
   * `when`-projected, never a Filter, so predicate pushdown cannot
   * split the exchange; plan-audited). The benchmark window-hash set
   * joins BROADCAST — eval suites are fixed-size and tiny relative to
   * any training corpus (the `p_decontam` argument). The single scan
   * + tokenize holds for a leaf `df` (a scan or a persisted frame, see
   * [[graft.Leaf]]). On a composed input, filters the optimizer infers
   * from upstream operators can differ between the branches, so they
   * stop sharing the exchange and each branch tokenizes on its own.
   */
  def cutContaminatedSpans(df: DataFrame, isBench: Column, l: Int = 8,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(l >= 2, "window length must be at least 2 tokens")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // A NULL bench predicate (e.g. source IS NULL under
    // `source === bench`) means "not the benchmark": without the
    // coalesce such rows would vanish — excluded from the occurrence
    // join by their null-keyed windows AND dropped by the final
    // filter, a silent data loss.
    val base = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__toks"),
        coalesce(isBench.cast("boolean"), lit(false)).as("__bench"))
      .repartition(col("id"))
    val win = base.select(col("id"), col("__bench"),
        posexplode(when(size(col("__toks")) >= l, transform(
            sequence(lit(1), size(col("__toks")) - l + 1),
            i => md5(concat_ws(" ", slice(col("__toks"), i, lit(l))))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("p0", "wh")))
      .select(col("id"), col("__bench"), (col("p0") + 1).as("pos"), col("wh"))
    // bench/train routing via null join keys (nulls never equi-match),
    // NOT Filters — a Filter would push below the base repartition and
    // specialize that consumer's copy of the scan+tokenize subtree.
    val benchH = win.select(when(col("__bench"), col("wh")).as("wh"))
      .distinct()
    val occ = win
      .select(col("id"), col("pos"), when(!col("__bench"), col("wh")).as("wh"))
      .join(broadcast(benchH), "wh")
      .select("id", "pos")
    val prevEnd = max(col("pos") + l)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = occ
      .withColumn("__brk", when(prevEnd >= col("pos"), 0).otherwise(1))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col("id"), col("__island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + l).cast("long").as("span_end"))
      .select(col("id").as("__sid"), col("span_start"), col("span_end"))
    // Rebuild (the cutFromArrays shape) with __bench carried through
    // the aggregate: the bench-row drop happens on an AGGREGATED
    // column, which predicate pushdown cannot move below the groupBy —
    // the shared exchange stays whole. Benchmark docs' wasted rebuild
    // is bounded by the (tiny) benchmark slice.
    base.select(col("id"), col("__bench"),
        posexplode_outer(col("__toks")).as(Seq("pos0", "tok")))
      .join(spans,
        col("id") === col("__sid") &&
          col("pos0") + 1 >= col("span_start") &&
          col("pos0") + 1 < col("span_end"),
        "left")
      .groupBy("id")
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(
              when(col("__sid").isNull && col("tok").isNotNull,
                struct((col("pos0") + 1).as("pos"), col("tok"))))),
            _.getField("tok"))).as("clean_text"),
        first(col("__bench")).as("__b"))
      .filter(!col("__b"))
      .select(col("id").as(idCol), col("clean_text"))
  }
}
