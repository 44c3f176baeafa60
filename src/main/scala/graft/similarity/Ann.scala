package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`) —
 * SURVEY.md §7.5. Two paths:
 *
 *  - [[bruteTopK]]: exact cosine top-k via a **broadcast** of the
 *    (small) query set against the corpus — one corpus scan, no
 *    shuffle of the corpus, codegen'd `zip_with`/`aggregate` dot
 *    product. This is also how the 100 TB path works when the query
 *    set is small: broadcast queries, scan corpus once, per-partition
 *    top-k (partial aggregation) before the final k-merge.
 *
 *  - [[lshTopK]]: sign-random-projection LSH — bucket corpus and
 *    queries by the sign-bit signature of `planes` fixed hyperplanes
 *    (deterministic seed), search only bucket-mates across `tables`
 *    independent tables. Candidate volume is corpus/2^planes per
 *    table: the scale path when the query set is itself large.
 *
 * Dot products run in double precision in element order, matching
 * DuckDB's `list_inner_product(CAST(… AS DOUBLE[]))` bit-for-bit.
 */
object Ann {

  /** Σ aᵢbᵢ in element order, double precision — native codegen'd
    * expression ([[graft.functions.DotProduct]]); the HOF equivalent
    * `aggregate(zip_with(...))` is interpreted and ~10× slower in the
    * all-pairs inner loop. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Driver-side collects must accept the same `array<float|double>`
    * embeddings the distributed paths do (TopCentroids casts either). */
  private def toDoubles(s: Seq[Any]): Array[Double] =
    s.map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue()
      case n: java.lang.Number => n.doubleValue()
    }.toArray

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact cosine top-k: for every row of `queries`, the `k` nearest
   * corpus rows (self-match excluded). Output: (qid, nid, sim, rank).
   * Ties break by ascending neighbor id for determinism.
   */
  /** Structural fence for the exact brute-force baseline: its cost is
    * |corpus| × |queries| comparisons, so it is linear ONLY under the
    * small-query contract (queries broadcastable). Above this many
    * query rows the scan is refused with the scale-path pointer — the
    * [[CosinePairsMaxRows]] idiom; raise `maxQueries` explicitly (and
    * only) for a bounded recall audit. */
  val BruteTopKMaxQueries = 10000L

  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxQueries: Long = BruteTopKMaxQueries): DataFrame = {
    // Norms precomputed per row (not per pair); sim = dot/(n_a·n_b) is
    // arithmetically identical to dot/(√dot(a,a)·√dot(b,b)).
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
      norm(col(vecCol)).as("nn"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    // The fence rides INSIDE the broadcast side's plan (global-window
    // count + raise_error) instead of an eager count() job: a separate
    // count re-executed the query subtree per call and measurably taxed
    // every recall gate built on this baseline, while a cosinePairs-
    // style eager count is only free when the input is a bare table.
    // The guarded branch raises while the (small-by-contract) broadcast
    // side materializes — BEFORE any corpus task is scheduled — so the
    // refusal still costs nothing against the full scan it prevents.
    val w = Window.partitionBy(lit(1))
    val qGuarded = q.withColumn("__nq", count(lit(1)).over(w))
      .filter(when(col("__nq") > maxQueries, raise_error(concat(
          lit("bruteTopK is the exact full-scan baseline: "),
          col("__nq").cast("string"),
          lit(s" query rows > maxQueries=$maxQueries means that many full " +
            "corpus scans' worth of comparisons. Use ivfTopK/ivfPqTopK/" +
            "lshTopK for production-scale ANN, refineTopK to exact-re-rank " +
            "their candidates, or pass maxQueries explicitly for a bounded " +
            "recall audit."))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__nq")
    cosScoreTail(c.crossJoin(broadcast(qGuarded)), k)
  }

  /**
   * The exact-cosine ranking tail shared by [[bruteTopK]] and
   * [[refineTopK]]: self-pair exclusion, sim = dot/(qn·nn), per-query
   * row_number ranked by (sim desc, nid asc), top `k`, 4-decimal
   * rounding. Like [[adcScoreTail]] for the ADC paths, the rank/tie/
   * rounding convention lives in exactly ONE place — it is the
   * bit-equality contract between the exact baseline and every
   * refine/re-rank stage, so a change here moves all of them together.
   * Input must carry (qid, nid, qvec, nvec, qn, nn).
   */
  private def cosScoreTail(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qvec"), col("nvec")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rank"))

  /**
   * Per-vector symmetric int8 scalar quantization (SQ8) — the classic
   * 4× memory cut sitting between exact floats and PQ's 32×:
   * `code_i = round(v_i / s)` with `s = max|v_i| / 127`, stored as
   * `array<tinyint>` plus one double scale. Rounding is spelled as
   * `floor(x + 0.5)` so the oracle replays the identical arithmetic
   * rather than an engine rounding mode; an all-zero vector (s = 0)
   * codes to all zeros.
   */
  def sq8Codes(df: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("id"), sq8ScaleExpr(col(vecCol)).as("scale"),
      sq8CodeExpr(col(vecCol)).as("codes"))

  private def sq8ScaleExpr(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** The SQ8 code array for one vector column — shared by
    * [[sq8Codes]], [[sq8TopK]] and [[ivfSq8TopK]] so every path
    * quantizes identically. */
  private def sq8CodeExpr(vec: Column): Column = {
    val v = transform(vec, x => x.cast("double"))
    val s = sq8ScaleExpr(vec)
    when(s > 0, transform(v, x => floor(x / s + lit(0.5)).cast("tinyint")))
      .otherwise(transform(v, _ => lit(0).cast("tinyint")))
  }

  /**
   * SQ8 top-k: cosine over the int8 codes. Quantized cosine needs no
   * dequantization at all — the per-vector scales cancel, so
   * `sim = Σ qa·qb / (‖qa‖·‖qb‖)` over the raw codes: the corpus scan
   * touches 1 byte/dim at rest (vs 4 for floats), the integer sums are
   * exact in both engines, and the ranking tail is the shared
   * [[cosScoreTail]] contract (same tie-break, same rounding) — which
   * is what lets the gate hash-check an "approximate" index: the
   * approximation is in the CODES, not in any float-order slack.
   */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def prep(df: DataFrame, p: String) = {
      val d = sq8Codes(df, idCol, vecCol)
        .withColumn("dv", transform(col("codes"), x => x.cast("double")))
      d.select(col("id").as(s"${p}id"), col("dv").as(s"${p}vec"),
        norm(col("dv")).as(s"${p}n"))
    }
    cosScoreTail(prep(corpus, "n").crossJoin(broadcast(prep(queries, "q"))), k)
  }

  /**
   * Deterministic pseudo-random hyperplanes: `tables × planes × dim`
   * coefficients from a fixed-seed generator. Shipped inside the
   * [[graft.functions.LshSignature]] expression as a reference object
   * (broadcast with the task binary), not as plan literals — codegen
   * size stays O(1) in tables×planes×dim. `private[graft]` so the
   * DuckDB oracle can embed the same coefficients.
   */
  private[graft] def hyperplanes(tables: Int, planes: Int, dim: Int,
                                 seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, planes, dim)(rnd.nextGaussian())
  }

  /** Plane count of the ORIGINAL master draw. Coefficients for planes
    * 1..BasePlanes are frozen forever: [[masterDraw]] appends any
    * planes beyond this from an independent continuation stream, so
    * raising the adaptive ladder's ceiling never moves a coefficient
    * that an already-verified result (or an at-rest index built before
    * the raise) depended on. */
  private[graft] val BasePlanes = 12

  /** Default ceiling of the adaptive plane ladder. 64·2^24 ≈ 1.07B
    * rows before the sizing saturates — past THAT, pass `maxPlanes`
    * explicitly (each +1 doubles the ceiling; the ladder is cheap, the
    * saturation is not: a saturated ladder lets expected bucket load
    * grow linearly with the corpus, which turns the per-bucket
    * self-join quadratic again — measured as an OOM at 600k rows under
    * the old ceiling of 12, `SCALING_r15.md` §7). */
  private[graft] val DefaultMaxPlanes = 24

  /** SplitMix64 finalizer: full-avalanche 64-bit mix, so the derived
    * per-plane seeds below are decorrelated even though their inputs
    * (seed, table, plane) differ in a handful of low bits. Public
    * constants (Steele et al., "Fast Splittable Pseudorandom Number
    * Generators", OOPSLA'14). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The full `maxPlanes`-deep master draw every adaptive consumer
    * slices: planes 1..[[BasePlanes]] are the historical `seed` draw
    * bit-for-bit; each continuation plane beyond is drawn from its own
    * seed derived ONLY from `(seed, table, absolute plane index)` — so
    * a coefficient's value never depends on `maxPlanes`, and raising
    * the ceiling (the documented >1.07B-row escape hatch) appends
    * planes without moving any plane an already-verified result or
    * at-rest index was built on. (The r15 continuation filled
    * table-major from ONE sequential `seed+1` stream, so a ceiling
    * raise silently re-dealt planes 13..old-ceiling of every table —
    * the extension-stability the BasePlanes doc promised held only for
    * the base. Per-plane derived seeds make it hold at every depth.) */
  private[graft] def masterDraw(tables: Int, dim: Int, seed: Long,
      maxPlanes: Int): Array[Array[Array[Double]]] = {
    val base = hyperplanes(tables, math.min(maxPlanes, BasePlanes), dim, seed)
    if (maxPlanes <= BasePlanes) base
    else {
      val ext = Array.tabulate(tables, maxPlanes - BasePlanes) { (t, p) =>
        val planeSeed = mix64(mix64(seed) ^ (t.toLong << 32) ^
          (BasePlanes + p).toLong)
        val rnd = new scala.util.Random(planeSeed)
        Array.fill(dim)(rnd.nextGaussian())
      }
      base.zip(ext).map { case (b, e) => b ++ e }
    }
  }

  /**
   * Johnson–Lindenstrauss random projection: `k` REAL coordinates
   * `p_i = v · plane_i` against fixed-seed gaussian planes — the
   * distance-preserving (1±ε) dimensionality cut, where the LSH path
   * keeps only the sign bits. Use as a 4× (k=16, dim=64) cheaper
   * pre-rank / at-rest representation whose cosine still tracks the
   * original space. One codegen'd map pass (planes ride the closure);
   * seed-deterministic, so an external oracle rebuilds the identical
   * projection. Output: (idCol, `p` array<double>) + carried columns.
   */
  def randomProject(df: DataFrame, k: Int, seed: Long, dim: Int = 64,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(1, k, dim, seed)(0)
    df.select(col(idCol),
      array(planes.map(p => dot(col(vecCol), lit(p))): _*).as("p"))
  }

  /** Sign-bit signature of `vec` against one table's planes (fused
    * native pass; bit i = sign of vec·planes(i)). */
  private def signature(vec: Column, tplanes: Array[Array[Double]]): Column =
    graft.functions.VectorOps.lshSignature(vec, tplanes)

  /**
   * Approximate cosine top-k via sign-random-projection LSH. Recall
   * grows with `tables`; candidate cost shrinks with `planes`. Output
   * shape matches [[bruteTopK]]; queries with no bucket-mates in any
   * table produce fewer than `k` rows (or none) — approximate by design.
   */
  /** One row per (input row, table): (id, bucket) ONLY. The band join
    * must not carry vector payload — candidate shuffle volume would be
    * O(candidates × dim) instead of O(candidates); callers re-attach
    * (vector, norm) per DISTINCT candidate id, the
    * [[graft.dedup.Dedup.minhashLshPairs]] pattern. */
  private def lshBucketsId(df: DataFrame, hp: Array[Array[Array[Double]]],
                           idCol: String, vecCol: String, id: String): DataFrame = {
    val tables = hp.length
    df.select((0 until tables).map(t =>
        concat(lit(t + ":"), signature(col(vecCol), hp(t)).cast("string"))
          .as(s"b$t")) :+ col(idCol).as(id): _*)
      .withColumn("bucket", explode(array((0 until tables).map(t => col(s"b$t")): _*)))
      .select(id, "bucket")
      .filter(col(id).isNotNull && col("bucket").isNotNull)
  }

  /** [[lshBucketsId]] materialized through one shared exchange: the
    * hyperplane-signature pass (tables×planes dot products per vector
    * — the expensive part at corpus scale) runs once, and every
    * consumer (hot-bucket count, both self-join sides, the query join)
    * reads the exchange back via exchange/stage reuse. The trade is
    * explicit: because the partitioning keys both projected columns
    * (see below), the band joins re-exchange the slim (id, bucket)
    * rows on `bucket` — one extra shuffle of two narrow columns buys
    * running the signature pass once instead of once per consumer.
    * The explicit not-null guards in [[lshBucketsId]] keep inferred
    * join constraints from specializing any branch's subtree copy
    * (the [[graft.dedup.Dedup.minhashLshPairs]] idiom). */
  private def lshBucketsShared(df: DataFrame, hp: Array[Array[Array[Double]]],
                               idCol: String, vecCol: String, id: String,
                               maxBucket: Int): DataFrame =
    // Repartition on BOTH projected columns, not just bucket: the
    // hot-bucket count branch prunes `id`, and a partitioning that
    // doesn't reference it would let that branch compile a narrower
    // (non-reusable) copy of the signature subtree. The band joins add
    // one ENSURE_REQUIREMENTS exchange of the slim (id, bucket) rows
    // above — identical on both sides, so it too compiles once.
    capBuckets(
      lshBucketsId(df, hp, idCol, vecCol, id)
        .repartition(col(id), col("bucket")),
      maxBucket)

  /**
   * Skew guard for the bucket joins: rows in buckets larger than
   * `maxBucket` are dropped from the CANDIDATE pass (the tiny oversized
   * set broadcasts into an anti-join). A degenerate corpus — millions of
   * identical or near-identical vectors hashing to one signature —
   * otherwise concentrates a quadratic join in one task. Lost recall is
   * bounded: an over-full bucket's members still meet in the other
   * `tables−1` independent tables unless those overflow too. The
   * default cap is far above any healthy bucket (corpus/2^planes).
   *
   * Delegates to [[graft.dedup.Dedup.dropHotKeys]] — a left-outer join
   * + IsNull filter rather than a broadcast anti-join, because Catalyst
   * pushes semi/anti joins below RepartitionByExpression and would
   * split [[lshBucketsShared]]'s one signature exchange into per-branch
   * copies (re-running the hyperplane pass per consumer). The hot side
   * is one row per oversized bucket and stays un-hinted, so AQE keeps
   * the broadcast decision.
   */
  private def capBuckets(b: DataFrame, maxBucket: Int): DataFrame =
    graft.dedup.Dedup.dropHotKeys(b, "bucket", maxBucket.toLong)

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, planes: Int = 6, dim: Int = 64,
              seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucket: Int = 100000): DataFrame =
    lshTopKWithPlanes(hyperplanes(tables, planes, dim, seed),
      corpus, queries, k, idCol, vecCol, maxBucket)

  /** [[lshTopK]] with the corpus-adaptive plane count of
    * [[lshPairsAuto]] (same sliced master draw, same integer sizing):
    * per-query candidate volume is ~targetLoad·tables at ANY corpus
    * size instead of growing linearly with it. */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  tables: Int = 8, dim: Int = 64, seed: Long = 42L,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  targetLoad: Long = 64L, minPlanes: Int = 6,
                  maxPlanes: Int = DefaultMaxPlanes,
                  maxBucket: Int = 100000,
                  rowCount: Option[Long] = None): DataFrame = {
    val planes = lshAutoPlanes(rowCount.getOrElse(corpusCount(corpus)),
      targetLoad, minPlanes, maxPlanes)
    lshTopKWithPlanes(hyperplanesSliced(tables, planes, dim, seed, maxPlanes),
      corpus, queries, k, idCol, vecCol, maxBucket)
  }

  private def lshTopKWithPlanes(hp: Array[Array[Array[Double]]],
                                corpus: DataFrame, queries: DataFrame,
                                k: Int, idCol: String, vecCol: String,
                                maxBucket: Int): DataFrame = {
    // id-only band join + dedup, THEN re-attach vectors per distinct
    // (qid, nid) — candidate shuffle volume is O(candidates), not
    // O(candidates × dim). The corpus signature pass materializes once
    // ([[lshBucketsShared]]); the query side stays unrepartitioned —
    // it is small by contract and broadcasts.
    val cand = lshBucketsShared(corpus, hp, idCol, vecCol, "nid", maxBucket)
      .join(lshBucketsId(queries, hp, idCol, vecCol, "qid"), "bucket")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
      norm(col(vecCol)).as("nn"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    cand.join(q, "qid").join(c, "nid")
      .withColumn("sim", dot(col("qvec"), col("nvec")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rank"))
  }

  // ---------------------------------------------------------------- IVF

  /**
   * IVF (inverted-file) coarse quantizer: `nlist` centroids trained
   * with a few Lloyd iterations over a deterministic sample, then the
   * corpus is bucketed by nearest centroid and queries probe only the
   * `nprobe` nearest lists. The standard ANN scale path when the
   * corpus is too large for brute force and recall matters more than
   * LSH's independence guarantees.
   *
   * Training is driver-side over a bounded sample (classic IVF: the
   * coarse quantizer is tiny — nlist × dim doubles); assignment and
   * search are distributed, shuffling only on the centroid id.
   */
  def trainCentroids(corpus: DataFrame, nlist: Int, dim: Int,
                     sampleSize: Int = 4096, iters: Int = 5,
                     vecCol: String = "embedding", seed: Long = 42L,
                     sampleOrderCol: Option[String] = None): Array[Array[Double]] = {
    // With sampleOrderCol the training sample is a pure function of
    // the DATA (the sampleSize smallest ids) rather than of partition
    // order — two runs over the same corpus train identical centroids
    // regardless of file split/listing. Recall-contract gates need
    // this; plain limit() keeps the cheaper no-sort scan otherwise.
    val base = sampleOrderCol.fold(corpus.select(col(vecCol)))(
      o => corpus.select(col(o), col(vecCol)).orderBy(col(o))
        .select(col(vecCol)))
    val sample = base.limit(sampleSize)
      .collect().map(r => toDoubles(r.getSeq[Any](0)))
    require(sample.nonEmpty, "empty corpus")
    val rnd = new scala.util.Random(seed)
    var centroids = Array.tabulate(nlist)(i => sample(
      if (i < sample.length) i else rnd.nextInt(sample.length)).clone())
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nlist, dim)(0.0)
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val c = nearest(v); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /**
   * IVF cosine top-k: corpus bucketed by nearest centroid; each query
   * probes its `nprobe` nearest lists. Output shape matches
   * [[bruteTopK]]; recall < 1 by design (probed lists only).
   *
   * Centroid scoring runs inside one native
   * [[graft.functions.TopCentroids]] expression: the matrix is data
   * carried by the expression (broadcast with the task binary), each
   * score is computed once, and generated-code size is independent of
   * `nlist` — at a real nlist (thousands) the previous literal-tree
   * form would blow past JIT method limits.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              deterministicSample: Boolean = false): DataFrame =
    ivfTopKWith(trainCentroids(corpus, nlist, dim, vecCol = vecCol,
        sampleOrderCol = if (deterministicSample) Some(idCol) else None),
      corpus, queries, k, nprobe, idCol, vecCol)

  /** min squared distance from `vec` to a literal centroid set — the
    * HOF form shared by the k-means|| training passes and the φ
    * objective ([[kCenter]] deliberately uses the polarization-identity
    * form instead: its greedy selection is hash-gated, so its floats
    * are pinned bit-for-bit to the oracle's `nn_a + nn_b − 2·ip`). */
  private def minSqDistToCentroids(cents: Seq[Array[Double]],
                                   vec: Column): Column =
    graft.functions.VectorOps.minSqDist(vec, cents.toArray)

  /** The original higher-order-function form of
    * [[minSqDistToCentroids]], kept ONLY as the bit-equality oracle
    * for the codegen'd [[graft.functions.MinSqDist]] replacement
    * (PropertySpec): the HOF plan is ~nlist×dim literal nodes,
    * re-analyzed per training round, and evaluates interpreted. */
  private[graft] def minSqDistToCentroidsHof(cents: Seq[Array[Double]],
                                             vec: Column): Column = aggregate(
    transform(array(cents.map(c => array(c.toSeq.map(lit): _*)): _*),
      c => aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
        lit(0d), (a, x) => a + x)),
    lit(Double.MaxValue), (a, d) => least(a, d))

  /**
   * k-means|| scalable initialization (Bahmani et al., VLDB'12) — the
   * oversampling init that removes [[trainCentroids]]' bounded-sample
   * bias at corpus scale: that path trains on the first `sampleSize`
   * rows, which at 100 TB sees one corner of the data. Here every
   * round is a LINEAR distributed pass that samples points with
   * probability min(1, l·d²(x,C)/φ) — far-from-center regions are
   * found wherever they live — using deterministic md5 uniforms (the
   * p_wsample idiom), so two runs over the same corpus pick identical
   * seeds. The oversampled set (≈ 1 + rounds·l points) is weighted by
   * its attraction counts in one more pass, and a driver-side weighted
   * Lloyd over that tiny set yields the `nlist` centroids.
   *
   * Scale shape: 2 small actions per round (φ sum, picked collect) +
   * one weighting pass, each with the current center set riding as a
   * plan literal (the [[kCenter]] posture — no shuffle, no cache, no
   * lineage growth); driver state is O(rounds·l·dim).
   */
  /** `seed`: the smallest-`idCol` row's vector, when the caller
    * already holds it (e.g. from [[pinnedCentroids]], whose element 0
    * is exactly that row) — skips this function's own seed-collect
    * action. Passing anything else changes the training trajectory;
    * the default collects it here. */
  def kmeansParallelCentroids(corpus: DataFrame, nlist: Int, dim: Int,
                              rounds: Int = 3, oversample: Int = 32,
                              iters: Int = 5,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              seed: Option[Array[Double]] = None): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seed0 = seed.getOrElse {
      val s = e.orderBy("id").limit(1).as[(Long, Array[Double])].collect()
      require(s.nonEmpty, "kmeansParallelCentroids needs a non-empty corpus")
      s(0)._2
    }
    val centers = scala.collection.mutable.ArrayBuffer(seed0)
    // One corpus pass per round (after the first): φ_r and the round's
    // pick candidates ride the SAME aggregate. The pick threshold needs
    // φ_r, which the pass itself computes — circular — but φ is monotone
    // non-increasing (adding centers can only shrink each row's min-d²),
    // so a pre-filter keyed on K·l/φ_{r-1} collects a guaranteed
    // SUPERSET of the true picks whenever φ_r ≥ φ_{r-1}/K; the exact
    // condition (identical arithmetic to the old Catalyst filter: IEEE
    // double (l·d2)/φ and min with 1) then re-filters that few-hundred-
    // row set on the driver. If φ ever collapses by more than K× in one
    // round, the validity check fails and the round falls back to the
    // old second pass — exactness is never at stake, only pass count.
    var phiPrev: Option[Double] = None
    val SupersetMargin = 8.0
    (0 until rounds).foreach { r =>
      val d2 = e.select(col("id"), col("v"),
        minSqDistToCentroids(centers.toSeq, col("v")).as("d2"))
      val u = conv(substring(md5(concat(lit(s"km#$r#"),
          col("id").cast("string"))), 1, 12), 16, 10)
        .cast("double") / 281474976710656.0
      // φ via an EXACT decimal sum: a double sum is partition-order
      // dependent, and a φ that wobbles in its last ulp flips
      // near-threshold picks — different runs would train different
      // centroids and the measured recall contract would not be
      // reproducible. Decimal aggregation is order-independent.
      val phiAgg = sum(col("d2").cast("decimal(38,12)")).cast("double")
      val exactPick = (phi: Double) => (id: Long, v: Array[Double],
                                        dd: Double, uu: Double) =>
        uu < math.min(1.0, oversample.toDouble * dd / phi)
      val (phi, picked): (Double, Array[(Long, Array[Double])]) =
        phiPrev match {
          case Some(p0) if p0 > 0 =>
            val pre = u < least(lit(1.0),
              lit(SupersetMargin * oversample) * col("d2") / lit(p0))
            val row = d2.agg(phiAgg.as("phi"),
              collect_list(when(pre,
                struct(col("id"), col("v"), col("d2"), u.as("u"))))
                .as("cand")).head()
            val phiR = row.getDouble(0)
            val cands = row.getSeq[org.apache.spark.sql.Row](1).map(c =>
              (c.getLong(0), c.getSeq[Double](1).toArray,
                c.getDouble(2), c.getDouble(3)))
            // accept at K/2, pre-filter at K: the 2× headroom makes ulp
            // rounding at the superset boundary structurally irrelevant
            if (phiR > 0 && p0 <= SupersetMargin * phiR / 2) {
              val f = exactPick(phiR)
              (phiR, cands.filter(c => f(c._1, c._2, c._3, c._4))
                .sortBy(_._1).map(c => (c._1, c._2)).toArray)
            } else if (phiR > 0) {
              // φ collapsed >K× — superset guarantee void; old 2nd pass
              (phiR, d2.filter(u < least(lit(1.0),
                  lit(oversample.toDouble) * col("d2") / lit(phiR)))
                .orderBy("id")
                .select(col("id"), col("v")).as[(Long, Array[Double])]
                .collect())
            } else (phiR, Array.empty[(Long, Array[Double])])
          case _ =>
            // first round (no φ bound yet): φ pass, then pick pass
            val phiR = d2.agg(phiAgg).as[Double].collect()(0)
            if (phiR > 0)
              (phiR, d2.filter(u < least(lit(1.0),
                  lit(oversample.toDouble) * col("d2") / lit(phiR)))
                .orderBy("id")
                .select(col("id"), col("v")).as[(Long, Array[Double])]
                .collect())
            else (phiR, Array.empty[(Long, Array[Double])])
        }
      phiPrev = Some(phi)
      centers ++= picked.map(_._2)
    }
    if (centers.size <= nlist) {
      // degenerate corpus (tiny, or near-zero spread: φ ≈ 0 stops the
      // sampling): fewer than nlist distinct candidates exist, so
      // return the DISTINCT picks rather than padding with duplicate
      // centroids — callers get an index with that many real lists
      return centers.map(_.toSeq).distinct.map(_.toArray).toArray
    }
    // attraction weights: one pass, nearest-center argmin via the
    // codegen'd TopCentroids matrix expression
    val cArr = centers.toArray
    val wRows = e.select(element_at(
        graft.functions.VectorOps.topCentroids(col("v"), cArr, 1), 1)
        .as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    val weights = cArr.indices.map(i => wRows.getOrElse(i, 0L).toDouble).toArray
    // driver-side weighted recluster of the ~rounds·l oversampled set:
    // deterministic weighted k-means++-style seeding — start from the
    // heaviest center, then repeatedly take the argmax of
    // weight · d²(candidate, chosen) (ties to construction order).
    // "nlist heaviest" would stack seeds inside dense clusters and
    // leave whole regions uncovered, a local optimum Lloyd cannot
    // escape (empty lists are sticky).
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val first = cArr.indices.minBy(i => (-weights(i), i))
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    val minToChosen = cArr.map(c => d2(c, cArr(first)))
    while (chosen.size < nlist && chosen.size < cArr.length) {
      val next = cArr.indices
        .filterNot(chosen.contains)
        .minBy(i => (-weights(i) * minToChosen(i), i))
      chosen += next
      cArr.indices.foreach { i =>
        val d = d2(cArr(i), cArr(next))
        if (d < minToChosen(i)) minToChosen(i) = d
      }
    }
    var cent = chosen.map(i => cArr(i).clone()).toArray
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cent.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - cent(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nlist, dim)(0.0)
      val cnts = new Array[Double](nlist)
      cArr.indices.foreach { j =>
        val c = nearest(cArr(j)); cnts(c) += weights(j)
        var i = 0
        while (i < dim) { sums(c)(i) += weights(j) * cArr(j)(i); i += 1 }
      }
      cent = Array.tabulate(nlist)(c =>
        if (cnts(c) == 0) cent(c) else sums(c).map(_ / cnts(c)))
    }
    cent
  }

  /**
   * The k-means objective φ = Σ_x min_c ‖x − c‖² over the full corpus —
   * one linear pass with the centroids as a plan literal; the exact
   * decimal sum makes the value partition-order deterministic, so
   * quantizer-quality contracts (φ_trained < φ_baseline) are
   * reproducible run-to-run.
   */
  def kmeansObjective(corpus: DataFrame, cents: Array[Array[Double]],
                      vecCol: String = "embedding"): Double =
    kmeansObjectives(corpus, Seq(cents), vecCol).head

  /** φ for SEVERAL centroid sets in ONE corpus pass (a quality
    * contract comparing trained vs baseline quantizers shouldn't scan
    * the corpus once per competitor). */
  def kmeansObjectives(corpus: DataFrame,
                       centSets: Seq[Array[Array[Double]]],
                       vecCol: String = "embedding"): Seq[Double] = {
    require(centSets.nonEmpty)
    val row = corpus
      .select(centSets.zipWithIndex.map { case (cs, i) =>
        minSqDistToCentroids(cs.toSeq, col(vecCol).cast("array<double>"))
          .as(s"d$i") }: _*)
      .agg(
        sum(col("d0").cast("decimal(38,12)")).cast("double").as("p0"),
        centSets.indices.drop(1).map(i =>
          sum(col(s"d$i").cast("decimal(38,12)")).cast("double").as(s"p$i")): _*)
      .collect()(0)
    centSets.indices.map(row.getDouble)
  }

  /**
   * Distributed Lloyd refinement over the FULL corpus — the k-means
   * step that follows [[kmeansParallelCentroids]]' init at scale
   * (sample-based Lloyd refines what the sample saw; this refines
   * against everything). Each iteration is one linear pass: nearest
   * centroid via the codegen'd [[graft.functions.TopCentroids]]
   * matrix expression, then element-wise sums through a (list, dim)
   * exploded map-side-combinable aggregation (the powerIteration /
   * e_label_stats idiom) — the shuffle carries nlist×dim partial rows
   * per task, never vectors; the driver holds O(nlist·dim). Exact
   * decimal sums keep refinement partition-order deterministic, so
   * recall contracts over the result are reproducible.
   */
  def lloydRefine(corpus: DataFrame, init: Array[Array[Double]], iters: Int = 3,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = init.head.length
    val e = corpus.select(col(vecCol).cast("array<double>").as("v"))
    var cent = init
    (0 until iters).foreach { _ =>
      // The assignment is materialized BELOW the generate (its own
      // projection): written inline with the posexplode, the argmax
      // rides ABOVE the Generate and re-evaluates per EXPLODED row —
      // dim× the matrix scans (measured 0.17 s vs 0.03 s on the bench
      // corpus, OPTIMIZATION_r18.md lloyd-b vs lloyd-a/e) — the same
      // nested-argument re-evaluation trap as TextOps.winnowFromHashes.
      val rows = e.select(
          element_at(graft.functions.VectorOps.topCentroids(col("v"), cent, 1), 1)
            .as("list"),
          col("v"))
        .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("list", "pos")
        .agg(sum(col("x").cast("decimal(38,12)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .as[(Int, Int, Double, Long)].collect()
      val sums = Array.fill(cent.length, dim)(0.0)
      val cnts = new Array[Long](cent.length)
      rows.foreach { case (l, p, s, n) => sums(l)(p) = s; cnts(l) = n }
      cent = Array.tabulate(cent.length)(c =>
        if (cnts(c) == 0) cent(c) else sums(c).map(_ / cnts(c)))
    }
    cent
  }

  /**
   * Deterministic coarse quantizer: the corpus vectors with the `nlist`
   * smallest ids, no Lloyd refinement (random-sample init is a standard
   * IVF baseline). Unlike [[trainCentroids]] (whose sample order is
   * partition-dependent), this is a pure function of the data — an
   * external oracle can rebuild the identical index.
   */
  /** Corpus-adaptive cluster count for the cluster-local pairwise
    * operators (SemDeDup): hold the EXPECTED CLUSTER SIZE at
    * ~`targetPerList` instead of pinning nlist, because per-cluster
    * pairwise work is Σ size² — with nlist fixed that is N²/nlist,
    * fully quadratic (measured: 58× runtime for 10× vectors at
    * nlist = 16). With nlist = ⌈N/target⌉ the pairwise volume is
    * N·target — linear at any corpus size (the SemDeDup paper's own
    * posture: cluster count grows with the corpus). The formula is a
    * pure function of count(*), so an external oracle replays it; the
    * floor of 16 keeps every ≤20k-vector corpus (all driver-gate
    * scales) on the exact nlist the fixed gates always used. */
  def adaptiveNlist(n: Long, targetPerList: Long = 1250L): Int =
    math.max(16L, (n + targetPerList - 1) / targetPerList).toInt

  def pinnedCentroids(corpus: DataFrame, nlist: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nlist)
      .collect()
      .map(r => toDoubles(r.getSeq[Any](1)))

  /**
   * Cluster-stratified sample: assign every vector to its nearest
   * centroid, keep the `perList` best-ranked rows of EACH cluster —
   * the diversity-aware curation primitive. A uniform sample of a
   * skewed corpus reproduces the skew; stratifying by embedding
   * cluster caps every region of the embedding space at `perList`
   * exemplars, which is how a training-data pipeline thins
   * over-represented content without starving the tail.
   *
   * `rank` orders WITHIN a cluster, ASCENDING (it is projected as a
   * value, so encode direction in the value — negate a quality score
   * to keep the best): the default (md5 of the id) is a deterministic
   * pseudo-random draw reproducible by an external oracle.
   * Plan: one codegen'd nearest-centroid map pass
   * ([[graft.functions.VectorOps.topCentroids]], centroids ride the
   * closure O(nlist·dim)), one shuffle on list_id for the per-cluster
   * window — rank cost is per-cluster, never global.
   */
  def clusterSample(centroids: Array[Array[Double]], corpus: DataFrame,
                    perList: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    rank: Option[Column] = None): DataFrame = {
    import graft.functions.VectorOps.topCentroids
    require(perList > 0, "perList must be positive")
    val ord = rank.getOrElse(md5(col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("list_id").orderBy(col("__ord"), col(idCol))
    corpus
      .select(col(idCol), ord.as("__ord"),
        topCentroids(col(vecCol), centroids, 1).getItem(0)
          .cast("long").as("list_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perList)
      .drop("__ord")
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the corpus with the coarse quantizer,
   * then inside each cluster drop every vector that has a LOWER-id
   * neighbor at cosine ≥ `tau` — the earliest exemplar of every
   * semantic-duplicate neighborhood survives. The removal rule is
   * deliberately non-transitive ("∃ lower-id same-cluster neighbor at
   * ≥ tau", nothing about CHAINS of removed rows): it is a pure
   * per-pair predicate an external oracle can replay with one EXISTS,
   * and it never under-removes relative to the paper's
   * one-per-neighborhood policy.
   *
   * Scale shape: pairwise work never crosses clusters, so the
   * quadratic is corpus²/nlist per cluster in expectation — nlist is
   * the knob (the paper runs 50k clusters over 5B embeddings). The
   * assignment is one codegen'd map pass (centroids ride the closure,
   * O(nlist·dim)); the `repartition(list_id)` exchange below is
   * materialized ONCE and read by both self-join sides (exchange
   * reuse, plan-audited) and by the keep-flag join's left side.
   * Output: (vec_id, list_id, keep) for every corpus row.
   */
  def semDedup(centroids: Array[Array[Double]], corpus: DataFrame,
               tau: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.topCentroids
    val assigned = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        topCentroids(col(vecCol), centroids, 1).getItem(0)
          .cast("long").as("list_id"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("vec_id").isNotNull && col("list_id").isNotNull)
      .repartition(col("list_id"))
    val a = assigned.select(col("list_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val removed = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("__rm", lit(true))
    assigned.select(col("vec_id"), col("list_id"))
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        not(coalesce(col("__rm"), lit(false))).as("keep"))
  }

  /**
   * Nearest-class-centroid linear probe (Rocchio / nearest-mean
   * classifier): classify every vector to the closest label centroid
   * and report correctness — the closed-form embedding-quality
   * diagnostic (a space where class centroids separate the labels is
   * a space worth training on; no iterative fit, so an external
   * oracle replays it exactly). Centroids are element-wise label
   * means computed DISTRIBUTED (posexplode → (label, dim) avg, one
   * map-side-combinable shuffle bounded by labels × dim), collected
   * O(k·dim) to the driver, and classification reuses the codegen'd
   * [[graft.functions.VectorOps.topCentroids]] map pass (same
   * 2·v·c − c·c argmax and index-order tie-break as the IVF family).
   * Output: (vec_id, label, pred, correct) per vector.
   */
  def centroidProbe(corpus: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    import graft.functions.VectorOps.topCentroids
    val rows = corpus
      .select(col(labelCol).cast("long").as("lbl"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("lbl", "i").agg(avg(col("x").cast("double")).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val labels = rows.map(_._1).distinct.sorted
    val cents = labels.map { l =>
      rows.filter(_._1 == l).sortBy(_._2).map(_._3)
    }
    val predLabel = element_at(
      array(labels.map(lit): _*),
      topCentroids(col(vecCol), cents, 1).getItem(0) + 1)
    corpus
      .select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("label"),
        predLabel.as("pred"))
      .withColumn("correct", col("pred") === col("label"))
  }

  /**
   * Embedding outlier scores: squared distance to the assigned
   * centroid, z-scored WITHIN each cluster — the curation signal for
   * mislabeled/garbage vectors (a point far from its own region is
   * suspect even when the corpus-global distance looks ordinary;
   * per-cluster normalization is what makes dense and sparse regions
   * comparable). Emits every row's score; thresholding is the
   * caller's policy.
   *
   * Shape: one codegen'd assignment pass, a broadcast of the
   * O(nlist·dim) centroid table (schema-bounded), and ONE shuffle on
   * list_id for the per-cluster window — d2 never leaves the row, and
   * no second pass over the data computes the moments.
   */
  def embOutliers(centroids: Array[Array[Double]], corpus: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.topCentroids
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("list_id", "cv")
    val assigned = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      topCentroids(col(vecCol), centroids, 1).getItem(0)
        .cast("long").as("list_id"))
    val w = Window.partitionBy("list_id")
    assigned.join(broadcast(centDf), Seq("list_id"))
      .withColumn("d2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv"))
          + dot(col("cv"), col("cv")))
      .withColumn("z",
        round((col("d2") - avg(col("d2")).over(w))
          / stddev_pop(col("d2")).over(w), 4) + 0.0)
      .select(col("vec_id"), col("list_id"), col("z"))
  }

  /**
   * IVF index-build statistics: corpus rows per inverted list, the
   * balance check (skewed lists → retrain or split). One scan + one
   * tiny shuffle on list_id.
   */
  def ivfListStats(centroids: Array[Array[Double]],
                   corpus: DataFrame,
                   vecCol: String = "embedding"): DataFrame = {
    corpus
      .select(listOf(centroids, col(vecCol)).as("list_id"))
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Nearest-centroid inverted-list id of a vector column — the list
    * assignment every IVF search shares. */
  private def listOf(centroids: Array[Array[Double]], vec: Column): Column =
    graft.functions.VectorOps.topCentroids(vec, centroids, 1).getItem(0)

  /** A query's `nprobe` nearest lists as `list_id`, one row per probe —
    * the probing every IVF search shares. */
  private def probedLists(centroids: Array[Array[Double]], vec: Column,
                          nprobe: Int): Column =
    explode(graft.functions.VectorOps.topCentroids(vec, centroids, nprobe))
      .as("list_id")

  /** THE ADC scoring tail — adist via single-reference zip_with +
    * aggregate (subspace order identical to the oracle's
    * `list(d ORDER BY s)`), self-pair filter, per-query rank,
    * round(4). Every ADC path ([[pqTopK]], [[ivfPqTopK]],
    * [[ivfPqResidualTopK]]) ends here, so the rank/tie/rounding
    * convention lives in exactly one place. Input must carry
    * (qid, nid, code, dt). */
  private def adcScoreTail(candidates: DataFrame, k: Int): DataFrame = {
    // single reference to `code`: an element_at-per-subspace chain
    // would reference it m times, and CollapseProject then re-inlines
    // the m TopCentroids encode expressions once PER REFERENCE (the
    // multi-reference trap documented at TextOps.winnowFromHashes —
    // measured 8x the encode cost at m=8)
    val adist = aggregate(
      zip_with(col("dt"), col("code"), (t, c) => element_at(t, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    candidates
      .filter(col("qid") =!= col("nid"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
        col("rank"))
  }

  /**
   * Residual PQ codebooks (the faiss-IVFPQ convention): codewords are
   * subspace slices of the `ksub` smallest-id vectors' RESIDUALS
   * against their own assigned coarse centroid. Deterministic like
   * [[pinnedCodebooks]] — the assignment runs through the same native
   * TopCentroids expression the search uses, so an external oracle
   * rebuilds the identical book.
   */
  def pinnedResidualCodebooks(centroids: Array[Array[Double]],
                              corpus: DataFrame, m: Int, ksub: Int, dim: Int,
                              skip: Int = 0,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    // `skip` exists because a vector that is ITSELF a pinned coarse
    // centroid self-assigns (2v·c − |c|² is uniquely maximized at
    // c = v) and contributes an all-zero residual codeword; a caller
    // whose centroids are pinnedCentroids(nlist) should pass
    // skip = nlist so the codebook base is a DISJOINT id range with
    // meaningful residuals.
    val base = corpus.select(col(idCol), col(vecCol),
        listOf(centroids, col(vecCol)).as("l"))
      .orderBy(col(idCol)).limit(skip + ksub)
      .collect().drop(skip)
      .map { r =>
        val v = toDoubles(r.getSeq[Any](1))
        val c = centroids(r.getInt(2))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
    Array.tabulate(m)(s => base.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /**
   * Residual IVF-PQ top-k — the faiss-IndexIVFPQ scoring convention:
   * corpus codes quantize each vector's residual against its coarse
   * centroid, and each query builds one ADC table PER PROBED LIST from
   * its own residual against that list's centroid. Compared to
   * [[ivfPqTopK]] (raw-vector codes) the distances better reflect true
   * L2² near a centroid, at the cost of coupling the quantizers. The
   * broadcast query side is O(queries·nprobe) tables of m·ksub doubles
   * — still bounded by the small-query contract; candidates meet once
   * per pair (one list per corpus row), scoring runs the
   * [[adcScoreTail]] expressions verbatim with the per-list table
   * joined on (list_id, qid).
   */
  def ivfPqResidualTopK(centroids: Array[Array[Double]],
                        codebooksR: Array[Array[Array[Double]]],
                        corpus: DataFrame, queries: DataFrame, k: Int,
                        nprobe: Int = 4,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    // Centroids ride a broadcast (list_id, cv) join, not a plan
    // literal: TopCentroids exists precisely because an inlined
    // nlist×dim matrix makes the plan/codegen grow with the index size
    // (VectorOps scaladoc); the join keeps the plan O(1).
    val centDf = {
      import spark.implicits._
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "__cv")
    }
    // Residual in double precision, element order — mirrors the
    // oracle's CAST(... AS DOUBLE[]) subtraction. Materialized as its
    // OWN projection so pqCodeExpr's m subspace references bind an
    // attribute: CollapseProject keeps a non-cheap multi-referenced
    // alias, so the dim-element subtraction runs once per row, not m
    // times (the winnowFromHashes re-inlining trap).
    val withRes = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("v"),
        listOf(centroids, col(vecCol)).as("list_id"))
      .join(broadcast(centDf), "list_id")
      .select(col("nid"), col("list_id"),
        zip_with(col("v").cast("array<double>"), col("__cv"),
          (a, b) => a - b).as("__res"))
    val enc = withRes.select(col("nid"),
      pqCodeExpr(codebooksR, col("__res")).as("code"), col("list_id"))
    val tables = residualAdcTables(spark, centroids, codebooksR,
      queries, nprobe, idCol, vecCol)
    // the per-list table already pairs (qid, list): candidates form by
    // one list join, then the shared scoring tail runs verbatim
    adcScoreTail(enc.join(broadcast(tables), Seq("list_id")), k)
  }

  /** Per-(query, probed list) residual ADC tables: dt(s)(c) = Σ_i
    * ((q − centroid_list)_s(i) − codeword(i))², element order. Probe
    * lists come from the same native TopCentroids expression as every
    * other path (collected, not re-derived driver-side); the table set
    * is O(queries·nprobe)·m·ksub doubles — broadcast-bounded. */
  private def residualAdcTables(spark: org.apache.spark.sql.SparkSession,
                                centroids: Array[Array[Double]],
                                codebooksR: Array[Array[Array[Double]]],
                                queries: DataFrame, nprobe: Int,
                                idCol: String, vecCol: String): DataFrame = {
    val m = codebooksR.length
    val dsub = codebooksR.head.head.length
    import graft.functions.VectorOps.topCentroids
    val qRows = queries.select(col(idCol), col(vecCol),
        topCentroids(col(vecCol), centroids, nprobe).as("ls"))
      .collect().flatMap { r =>
        val qid = r.getAs[Number](0).longValue()
        val q = toDoubles(r.getSeq[Any](1))
        r.getSeq[Int](2).map { l =>
          val c = centroids(l)
          val dt = Array.tabulate(m, codebooksR.head.length) { (s, cw) =>
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val t = (q(s * dsub + i) - c(s * dsub + i)) - codebooksR(s)(cw)(i)
              d += t * t
              i += 1
            }
            d
          }
          (l, qid, dt.map(_.toSeq).toSeq)
        }
      }.toSeq
    import spark.implicits._
    qRows.toDF("list_id", "qid", "dt")
  }

  /** IVF search against caller-provided centroids — assignment and
    * probing identical to [[ivfTopK]]. */
  def ivfTopKWith(centroids: Array[Array[Double]],
                  corpus: DataFrame, queries: DataFrame, k: Int,
                  nprobe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
      norm(col(vecCol)).as("nn"), listOf(centroids, col(vecCol)).as("list_id"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"), probedLists(centroids, col(vecCol), nprobe))
    cosScoreTail(c.join(q, "list_id"), k)
  }

  /**
   * IVF-SQ8 (the faiss IndexIVFScalarQuantizer shape): coarse-quantizer
   * candidate restriction with SQ8 codes inside the lists. List
   * assignment and probing run on the RAW vectors (same contract as
   * [[ivfTopKWith]]); candidate scoring is the scale-free quantized
   * cosine of [[sq8TopK]] over the integer codes. The composition is
   * the production memory story: a probe reads nprobe/nlist of the
   * index and 1 byte/dim within it. A corpus row lives in exactly one
   * list, so no (qid, nid) pair can join twice — the rank tail needs
   * no dedup.
   */
  def ivfSq8TopK(centroids: Array[Array[Double]],
                 corpus: DataFrame, queries: DataFrame, k: Int,
                 nprobe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
        codesD(sq8CodeExpr(col(vecCol))).as("nvec"),
        listOf(centroids, col(vecCol)).as("list_id"))
      .withColumn("nn", norm(col("nvec")))
    val q = queries.select(col(idCol).as("qid"),
        codesD(sq8CodeExpr(col(vecCol))).as("qvec"),
        probedLists(centroids, col(vecCol), nprobe))
      .withColumn("qn", norm(col("qvec")))
    cosScoreTail(c.join(q, "list_id"), k)
  }

  /** SQ8 codes widened to doubles for the scale-free quantized cosine. */
  private def codesD(codes: Column): Column = transform(codes, x => x.cast("double"))

  /**
   * Dominant principal direction of the (optionally mean-centered)
   * embedding set by distributed power iteration — the embedding-space
   * analysis primitive (whitening, dominant-bias probes, ABTT-style
   * "remove the top direction" postprocessing all start here). Each
   * iteration is ONE map-side-combinable aggregation: per-row
   * contributions (x·v)·x explode to (dim position, partial) rows — a
   * dim-row shuffle regardless of corpus size — and the driver only
   * ever holds O(dim) state. The current vector ships as a plan
   * literal (O(dim), rebuilt per iteration), the row dot runs in the
   * codegen'd [[dot]] expression, and the sign normalizes to
   * largest-|component|-positive so re-runs and mirrored data agree.
   * Fixed `iters` (no convergence test) keeps run shape deterministic.
   */
  def powerIteration(corpus: DataFrame, dim: Int, iters: Int = 10,
                     center: Boolean = true,
                     vecCol: String = "embedding"): Array[Double] = {
    val base = corpus.select(
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val mean: Array[Double] =
      if (!center) Array.fill(dim)(0.0)
      else base.select(posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("p").agg(avg("x").as("m"))
        .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val meanLit = array(mean.map(lit): _*)
    val centered =
      if (!center) base
      else base.select(zip_with(col("v"), meanLit, (a, b) => a - b).as("v"))
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    (0 until iters).foreach { _ =>
      val vLit = array(v.map(lit): _*)
      val next = centered
        .select(col("v"), dot(col("v"), vLit).as("s"))
        .select(posexplode(expr("transform(v, xi -> xi * s)")).as(Seq("p", "c")))
        .groupBy("p").agg(sum("c").as("c"))
        .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
      val nrm = math.sqrt(next.map(x => x * x).sum)
      if (nrm > 0) v = next.map(_ / nrm)
    }
    val k = v.indices.maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v.map(-_) else v
  }

  // ----------------------------------------------------------------- PQ

  /**
   * Product-quantization codebooks from the `ksub` smallest-id corpus
   * vectors, sliced into `m` subspaces (pure function of the data, like
   * [[pinnedCentroids]] — an external oracle rebuilds the identical
   * index; a production index would k-means each subspace instead).
   * Shape: (m, ksub, dim/m).
   */
  def pinnedCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val pinned = pinnedCentroids(corpus, ksub, idCol, vecCol)
    Array.tabulate(m)(s => pinned.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /**
   * PQ encode: each vector becomes `m` small codes (argmin codeword per
   * subspace; same score/tie rule as IVF assignment — one native
   * [[graft.functions.TopCentroids]] per subspace over the sliced
   * vector). At ksub ≤ 256 that is m bytes per vector — a 32× memory
   * compression at dim=64 float32 — which is the entire point: the
   * search set fits in RAM where raw vectors would not.
   */
  def pqEncode(codebooks: Array[Array[Array[Double]]], corpus: DataFrame,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("nid"),
      pqCodeExpr(codebooks, col(vecCol)).as("code"))

  /** The m-subspace PQ code of a vector column (argmin codeword per
    * subspace slice) — shared by [[pqEncode]] and [[ivfPqTopK]]. */
  private def pqCodeExpr(codebooks: Array[Array[Array[Double]]],
                         vec: Column): Column = {
    import graft.functions.VectorOps.topCentroids
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    array((0 until m).map(s =>
      topCentroids(slice(vec, s * dsub + 1, dsub), codebooks(s), 1)
        .getItem(0)): _*)
  }

  /**
   * PQ top-k via ADC (asymmetric distance computation): queries stay
   * exact; per (query, subspace) a distance table to the `ksub`
   * codewords is computed ONCE (driver-side — m·ksub doubles per query,
   * tiny by construction like the [[bruteTopK]] broadcast); each corpus
   * row's approximate L2² is then `m` table lookups summed in subspace
   * order — the corpus scan touches only the codes, never the vectors.
   *
   * Scale shape: encoded corpus (nid, m codes) × broadcast query
   * tables, per-partition rank pruning (WindowGroupLimit) before the
   * final k-merge — one corpus scan, no corpus shuffle beyond top-k.
   * Returns (qid, nid, adist, rank), ranked by ascending approximate
   * distance (ties by nid). Approximate by design: ranking quality
   * degrades gracefully with m.
   */
  def pqTopK(codebooks: Array[Array[Array[Double]]],
             corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    adcScoreTail(pqEncode(codebooks, corpus, idCol, vecCol).crossJoin(broadcast(
      adcTables(corpus.sparkSession, codebooks, queries, idCol, vecCol))), k)

  /**
   * IVF-PQ: the production ANN index shape — the coarse quantizer
   * restricts candidates to each query's `nprobe` inverted lists, and
   * ADC over the PQ codes scores them, so the search cost is
   * (nprobe/nlist) of the corpus × m byte-code lookups per candidate,
   * never a full scan and never raw vectors. Divergence from the
   * faiss IndexIVFPQ convention, on purpose: codes quantize the RAW
   * vectors (as [[pqEncode]] does), not the residual against the
   * coarse centroid — residual encoding couples the two quantizers,
   * while this form keeps IVF and PQ independently verifiable (and
   * the oracle SQL composes from the two existing index mirrors).
   *
   * Scale shape: the encoded corpus carries (nid, m codes, list_id);
   * the query side (probe lists × per-query ADC tables) is
   * O(queries·nprobe) rows of m·ksub doubles — broadcast by
   * construction. A (qid, nid) pair meets at most once (a corpus row
   * lives in exactly one list), so no candidate dedup is needed,
   * unlike the LSH multi-table paths. Returns (qid, nid, adist, rank)
   * like [[pqTopK]]; queries with no bucket-mates return fewer than
   * `k` rows — approximate by design.
   */
  def ivfPqTopK(centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                corpus: DataFrame, queries: DataFrame, k: Int,
                nprobe: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val enc = corpus.select(col(idCol).as("nid"),
      pqCodeExpr(codebooks, col(vecCol)).as("code"),
      listOf(centroids, col(vecCol)).as("list_id"))
    val probeLists = queries.select(col(idCol).as("qid"),
      probedLists(centroids, col(vecCol), nprobe))
    val tables = adcTables(corpus.sparkSession, codebooks, queries, idCol, vecCol)
    // candidates = encoded rows × each query's probe lists (a (qid,
    // list_id) broadcast — one row per probe), then ONE copy of each
    // query's ADC table joins back by qid
    adcScoreTail(enc.join(broadcast(probeLists), "list_id")
      .join(broadcast(tables), "qid"), k)
  }

  /** Per-query ADC distance tables: dt(s)(c) = Σ_i (q_s(i) −
    * codeword(i))², in element order (bit-identical to the oracle's
    * comprehension sum). Driver-side — m·ksub doubles per query, tiny
    * by construction like the [[bruteTopK]] broadcast. */
  private def adcTables(spark: org.apache.spark.sql.SparkSession,
                        codebooks: Array[Array[Array[Double]]],
                        queries: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val qRows = queries.select(col(idCol), col(vecCol)).collect().map { r =>
      // numeric-id / float-or-double tolerant, like the sibling APIs
      val qid = r.getAs[Number](0).longValue()
      val q = toDoubles(r.getSeq[Any](1))
      val dt = Array.tabulate(m, codebooks.head.length) { (s, c) =>
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val t = q(s * dsub + i) - codebooks(s)(c)(i)
          d += t * t
          i += 1
        }
        d
      }
      (qid, dt.map(_.toSeq).toSeq)
    }.toSeq
    import spark.implicits._
    qRows.toDF("qid", "dt")
  }

  /**
   * Exact re-rank over an ANN stage's candidates (the faiss
   * IndexRefineFlat pattern, faiss/IndexRefine.h): the first stage
   * over-fetches cheap approximate candidates (ADC codes, IVF lists,
   * LSH buckets — any (qid, nid) output of the siblings here), and
   * this stage pays the exact cosine only on that small set, keeping
   * the true top `k` per query. Search cost becomes
   * O(queries · k_fetch · dim) exact work after an O(corpus) code
   * scan — never the brute-force O(queries · corpus · dim) — while
   * the FINAL ranking is exact over whatever the first stage recalled
   * (quantization error cannot reorder the answer, only candidate
   * misses can).
   *
   * Scale shape: candidates are deduped to bare (qid, nid) ids, then
   * the corpus vectors re-attach per DISTINCT candidate id — the
   * [[lshPairs]] re-attach pattern; the candidate side is
   * O(queries·k_fetch) rows of two ids, so AQE broadcasts it into the
   * corpus join at runtime (un-hinted on purpose: at extreme fan-out
   * it degrades to a shuffle join on `nid`, never a driver hazard).
   * The corpus side of that join projects raw (nid, vec) only — the
   * neighbor norm computes ABOVE the join, so exact O(dim) arithmetic
   * touches candidate rows, never the full corpus. Queries broadcast
   * by the same contract as [[bruteTopK]]. Output (qid, nid, sim,
   * rank) matches [[bruteTopK]] (shared [[cosScoreTail]], self-pairs
   * excluded there); queries whose true neighbors were missed by the
   * first stage return what was recalled.
   */
  def refineTopK(candidates: DataFrame, corpus: DataFrame,
                 queries: DataFrame, k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(col("qid"), col("nid"))
      .dropDuplicates("qid", "nid")
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    cosScoreTail(
      cand.join(c, "nid")
        .withColumn("nn", norm(col("nvec")))
        .join(broadcast(q), "qid"), k)
  }

  /** Hard ceiling for [[cosinePairs]] — the ONE deliberately-quadratic
    * plan in the library (it is the recall-verification baseline for
    * the LSH/IVF pair families, never a production path). The fence is
    * structural, not advisory: above this many corpus rows the cross
    * join is refused with an actionable error instead of launching a
    * ~rows²/2 comparison job that can never finish at corpus scale.
    * 100k rows ≈ 5e9 scored pairs — already generous for a recall
    * audit sample; [[lshPairsAuto]] is the at-scale path. */
  val CosinePairsMaxRows = 100000L

  /**
   * All-pairs near-duplicate detection by embedding cosine ≥
   * `threshold`. Exact variant blocks nothing (quadratic — only for
   * modest corpora / verification); the scale path is [[lshTopK]] with
   * a threshold filter. Refuses corpora above `maxRows`
   * ([[CosinePairsMaxRows]]) — raise it EXPLICITLY (and only) for a
   * bounded verification sample; the count costs one metadata-cheap
   * pass, nothing against the two full passes the cross join takes.
   */
  def cosinePairs(corpus: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxRows: Long = CosinePairsMaxRows): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"cosinePairs is the exact-quadratic verification baseline: corpus has " +
      s"$n rows > maxRows=$maxRows (~${n * n / 2} comparisons). Use " +
      s"lshPairsAuto/lshPairs for production-scale cosine dedup, or pass " +
      s"maxRows explicitly for a bounded verification sample.")
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /**
   * LSH-blocked near-duplicate pairs — the 100 TB path for
   * embedding-cosine dedup. Candidates are pairs sharing a signature
   * bucket in ≥1 of `tables` independent tables (candidate volume
   * ~n·bucket_size per table, never all-pairs); candidates are then
   * verified with the exact cosine and thresholded. Output is a
   * deterministic subset of [[cosinePairs]] (same seed → same planes);
   * recall grows with `tables`, bucket size shrinks with `planes`.
   */
  def lshPairs(corpus: DataFrame, threshold: Double,
               tables: Int = 8, planes: Int = 6, dim: Int = 64,
               seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxBucket: Int = 100000): DataFrame =
    lshPairsWith(hyperplanes(tables, planes, dim, seed), corpus, threshold,
      idCol, vecCol, maxBucket)

  /**
   * [[lshPairs]] with the plane count sized from the corpus instead of
   * pinned: fixed planes make the expected bucket load n/2^planes grow
   * LINEARLY with the corpus, which turns the per-bucket self-join
   * quadratic — a 10× corpus costs ~100× candidate pairs (measured:
   * sf0.1→sf1 ratio 39× under pinned planes=6). Sizing planes so
   * `targetLoad · 2^planes ≥ n` pins the expected bucket load at
   * `targetLoad`, making candidate volume ~n·targetLoad·tables — linear
   * in the corpus again, which is the posture that survives 100 TB.
   * The plane count comes from an INTEGER threshold scan (no log2
   * floats: a last-ulp wobble at an exact power of two would let two
   * engines disagree on the plane count and diverge every bucket), and
   * planes slice a fixed `maxPlanes` master draw so an external oracle
   * can inline the superset coefficients once and mask by the same
   * count(*)-derived plane count.
   *
   * @param rowCount caller-supplied EXACT corpus row count — skips the
   *                 sizing scan entirely (at 100 TB that scan is a full
   *                 pass before any useful work). Must equal count(*):
   *                 the plane count is part of the replayable contract,
   *                 so an estimate here would diverge from an oracle
   *                 sizing by the true count. When absent the count is
   *                 computed once per (plan, files) per session
   *                 ([[corpusCount]]).
   */
  def lshPairsAuto(corpus: DataFrame, threshold: Double,
                   tables: Int = 8, dim: Int = 64, seed: Long = 42L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   targetLoad: Long = 64L, minPlanes: Int = 6,
                   maxPlanes: Int = DefaultMaxPlanes,
                   maxBucket: Int = 100000,
                   rowCount: Option[Long] = None): DataFrame = {
    val planes = lshAutoPlanes(rowCount.getOrElse(corpusCount(corpus)),
      targetLoad, minPlanes, maxPlanes)
    lshPairsWith(hyperplanesSliced(tables, planes, dim, seed, maxPlanes),
      corpus, threshold, idCol, vecCol, maxBucket)
  }

  /** Smallest p in [minPlanes, maxPlanes] with targetLoad·2^p ≥ n
    * (maxPlanes when none) — integer-exact on both engines. */
  def lshAutoPlanes(n: Long, targetLoad: Long = 64L,
                    minPlanes: Int = 6, maxPlanes: Int = DefaultMaxPlanes): Int =
    (minPlanes to maxPlanes).find(p => targetLoad * (1L << p) >= n)
      .getOrElse(maxPlanes)

  /** Source-root paths of `corpus`, extracted from the UNANALYZED plan
    * (no analysis, no jobs); None when any leaf is not a file source. */
  private def sourceRoots(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedDataSource
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val perLeaf = lp.collectLeaves().map {
      case u: UnresolvedDataSource if !u.isStreaming => Some(u.paths)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => Some(h.location.rootPaths.map(_.toString))
        case _ => None
      }
      case _ => None
    }
    if (perLeaf.nonEmpty && perLeaf.forall(_.isDefined))
      Some(perLeaf.flatMap(_.get).toSeq)
    else None
  }

  /** Exact row count of `corpus`, cached per (session, plan) while
    * its source files are unchanged ([[graft.SessionCache]]) — at
    * 100 TB the plane-sizing count is a full scan, so repeated `*Auto`
    * calls over the same stored corpus (the dedup + pairs + topK gate
    * triple, streaming lookups per micro-batch) must pay it once, not
    * per call. A re-read of the same files is a hit with zero Spark
    * jobs; an append (new part files) replaces the entry; a different
    * filter is another key. Plans not rooted entirely in file sources
    * (views, in-memory frames) are counted every call. */
  private[graft] def corpusCount(corpus: DataFrame): Long = {
    val lp = corpus.queryExecution.logical
    // the roots join the key: a relation's plan string omits its paths
    sourceRoots(lp).fold(corpus.count())(roots =>
      graft.SessionCache.get(corpus.sparkSession, graft.SessionCache.Count,
        (roots.sorted :+ lp.canonicalized.toString).mkString("\n"), roots)(
        corpus.count()))
  }

  /** First `planes` planes of each table from the fixed `maxPlanes`
    * [[masterDraw]]: the adaptive plane count never changes WHICH
    * coefficients exist, only how many are active, so an oracle can
    * inline the superset once. */
  private[graft] def hyperplanesSliced(tables: Int, planes: Int, dim: Int,
      seed: Long,
      maxPlanes: Int = DefaultMaxPlanes): Array[Array[Array[Double]]] =
    masterDraw(tables, dim, seed, maxPlanes).map(_.take(planes))

  private def lshPairsWith(hp: Array[Array[Array[Double]]],
                           corpus: DataFrame, threshold: Double,
                           idCol: String, vecCol: String,
                           maxBucket: Int): DataFrame = {
    // Band self-join carries ONLY (id, bucket); pairs are deduped on
    // bare ids and (vector, norm) re-attached per DISTINCT pair for the
    // exact-cosine verify — the minhashLshPairs pattern. Shuffle volume
    // through the join and the dropDuplicates is O(candidates), not
    // O(candidates × dim). Both self-join sides and the hot-bucket
    // count read ONE signature exchange ([[lshBucketsShared]]).
    val banded = lshBucketsShared(corpus, hp, idCol, vecCol, "id", maxBucket)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /**
   * Multi-probe sign-LSH top-k (the Lv et al., VLDB'07 probing idea on
   * the sign-random-projection family): each query probes, per table,
   * its own bucket PLUS the two buckets reached by flipping the single
   * plane with the smallest |margin| (the 1st and 2nd closest
   * hyperplanes) — the buckets a near-miss neighbor most likely fell
   * into. Comparable recall to ~2× the tables at HALF the corpus-side
   * cost: the corpus signature/bucket pass is the corpus-sized expense
   * multi-probe shrinks, while extra probes only multiply the (small
   * by contract) query side. Probe margins reuse the signature's exact
   * per-plane dot products, so the SQL oracle replays bucket choice
   * bit-for-bit.
   */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                        tables: Int = 4, planes: Int = 6, dim: Int = 64,
                        seed: Long = 42L,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxBucket: Int = 100000): DataFrame = {
    val hp = hyperplanes(tables, planes, dim, seed)
    val cand = lshBucketsShared(corpus, hp, idCol, vecCol, "nid", maxBucket)
      .join(multiProbeBucketsId(queries, hp, idCol, vecCol, "qid"), "bucket")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
      norm(col(vecCol)).as("nn"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    cosScoreTail(cand.join(q, "qid").join(c, "nid"), k)
  }

  /** Query-side probe buckets: per table, the base signature bucket
    * plus the two single-plane flips with the smallest |margin| (ties
    * break to the lower plane index via the struct sort order). Margin
    * dots run in the same element order as [[graft.functions
    * .LshSignature]], so flips are deterministic and oracle-exact. */
  private def multiProbeBucketsId(df: DataFrame,
                                  hp: Array[Array[Array[Double]]],
                                  idCol: String, vecCol: String,
                                  id: String): DataFrame = {
    val tables = hp.length
    val probeCols = (0 until tables).map { t =>
      val sig = signature(col(vecCol), hp(t))
      val margins = hp(t).zipWithIndex.map { case (plane, p) =>
        struct(
          abs(dot(col(vecCol).cast("array<double>"),
            array(plane.toSeq.map(lit): _*))).as("a"),
          lit(p).as("p"), lit(1L << p).as("bit"))
      }
      val order = array_sort(array(margins.toSeq: _*))
      val flip1 = order.getItem(0).getField("bit")
      val flip2 = order.getItem(1).getField("bit")
      array(
        concat(lit(t + ":"), sig.cast("string")),
        concat(lit(t + ":"), sig.bitwiseXOR(flip1).cast("string")),
        concat(lit(t + ":"), sig.bitwiseXOR(flip2).cast("string"))).as(s"b$t")
    }
    df.select(probeCols :+ col(idCol).as(id): _*)
      .withColumn("bucket", explode(flatten(
        array((0 until tables).map(t => col(s"b$t")): _*))))
      .select(id, "bucket")
      .filter(col(id).isNotNull && col("bucket").isNotNull)
  }

  /**
   * Greedy k-center (farthest-point) coreset selection — the diversity
   * sampler of embedding-space data curation: starting from the
   * minimum-id vector, repeatedly pick the point farthest (squared
   * euclidean) from everything already selected (ties break to the
   * lowest id). The k selected ids are a 2-approximation of the
   * optimal k-center cover, the standard seed set for diverse
   * fine-tuning subsets and coreset-based active learning.
   *
   * Scale shape: k − 1 linear passes; each pass evaluates min-distance
   * to the ≤ k chosen centers from a PLAN LITERAL (k·dim doubles — no
   * join, no shuffle) and takes the arg-max via TakeOrderedAndProject
   * (per-partition top-1, driver merges one row per partition). No
   * lineage growth round-over-round: every pass recomputes from the
   * k-bounded literal, so nothing is cached or checkpointed. Driver
   * state is k rows — the same O(k·dim) bound as the IVF/PQ codebook
   * collects.
   */
  def kCenter(df: DataFrame, k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Distances use the polarization identity ‖v−c‖² =
    // (nn_c + nn_v) − 2·⟨v,c⟩ with the native [[dot]] — the EXACT
    // float sequence the hash-gated oracle evaluates
    // (`na.nn + nb.nn - 2*list_inner_product`), so the greedy arg-max
    // agrees bit-for-bit even on near-ties. nn values come from the
    // same dot (self inner product), never a separate accumulation.
    val e = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nn", dot(col("v"), col("v")))
    val seed = e.orderBy("vec_id").limit(1)
      .as[(Long, Array[Double], Double)].collect()
    require(seed.nonEmpty, "kCenter needs a non-empty corpus")
    val centers = scala.collection.mutable.ArrayBuffer(seed(0))
    while (centers.size < k) {
      val minD2 = centers.toSeq.map { case (_, cv, cnn) =>
        (lit(cnn) + col("nn")) -
          lit(2.0) * dot(col("v"), array(cv.toSeq.map(lit): _*))
      }.reduceLeft(least(_, _))
      // selected ids are excluded explicitly (a k-bounded literal, not
      // just "their distance is 0") so duplicate-heavy corpora with
      // fewer than k distinct points still terminate
      val chosen = centers.toSeq.map(_._1)
      val next = e
        .filter(!col("vec_id").isin(chosen: _*))
        .select(col("vec_id"), col("v"), col("nn"), minD2.as("d2"))
        .orderBy(col("d2").desc, col("vec_id"))
        .limit(1)
        .select("vec_id", "v", "nn")
        .as[(Long, Array[Double], Double)].collect()
      if (next.isEmpty) {
        return centers.toSeq.zipWithIndex
          .map { case ((id, _, _), i) => (i + 1L, id) }
          .toDF("sel_rank", "vec_id")
      }
      centers += next(0)
    }
    centers.toSeq.zipWithIndex
      .map { case ((id, _, _), i) => (i + 1L, id) }
      .toDF("sel_rank", "vec_id")
  }
}
