package graft

import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.similarity.Ann
import graft.sources.Tables
import graft.text.{Classifier, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline queries (SURVEY.md §7.5): text analysis,
 * deduplication, and similarity search over the `documents` and
 * `embeddings` tables, each with a bit-identical DuckDB oracle
 * (hashes are md5-derived on both sides; dot products run in double
 * precision in element order on both sides).
 */
object PipelineEntry {

  /** Shared oracle CTE: whitespace tokens per document. */
  private val T =
    """WITH toks AS (SELECT doc_id, text,
      | list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
      | FROM documents) """.stripMargin

  /** Shared oracle CTE chain: duplicate-substring spans (8-token
    * windows, >=2 distinct docs, gaps-and-islands merge) — mirrors
    * [[graft.dedup.Dedup.duplicateSpans]](l = 8). Requires the `toks`
    * CTE ([[T]]) upstream. */
  private val DupSpansCte =
    """, win AS (SELECT doc_id,
      |  unnest(CASE WHEN len(t) < 8 THEN []::BIGINT[]
      |   ELSE range(1, len(t)-6) END) AS pos,
      |  unnest(CASE WHEN len(t) < 8 THEN []::VARCHAR[]
      |   ELSE [md5(array_to_string(t[i:i+7], ' '))
      |         for i in range(1, len(t)-6)] END) AS wh
      | FROM toks),
      |dup AS (SELECT wh FROM (SELECT DISTINCT doc_id, wh FROM win)
      | GROUP BY wh HAVING count(*) >= 2),
      |occ AS (SELECT doc_id, pos FROM win
      | WHERE wh IN (SELECT wh FROM dup)),
      |g AS (SELECT doc_id, pos,
      |  CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= pos
      |   THEN 0 ELSE 1 END AS brk FROM occ),
      |isl AS (SELECT doc_id, pos,
      |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      | FROM g),
      |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      | CAST(max(pos)+8 AS BIGINT) AS span_end,
      | CAST(max(pos)+8-min(pos) AS BIGINT) AS span_tokens,
      | CAST(count(*) AS BIGINT) AS n_windows
      | FROM isl GROUP BY doc_id, island)
      |""".stripMargin

  /** Shared oracle CTE: distinct 60-bit hashes of word 3-gram shingles. */
  private val ShingleHashCte =
    """, sh AS (SELECT doc_id,
      |  list_distinct([CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15)) AS BIGINT)
      |                 for i in range(1, len(t)-1)]) AS s
      | FROM toks WHERE len(t) >= 3),
      |""".stripMargin

  /** Shared oracle CTE chain: winnowing fingerprint lists per doc
    * (window 4 over 3-token shingle hashes — mirrors
    * TextOps.winnowFromHashes). */
  private val WinnowCte =
    """, sh AS (SELECT doc_id,
      |  CASE WHEN len(t) < 3 THEN []::VARCHAR[]
      |   ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)] END AS s
      | FROM toks),
      |hs AS (SELECT doc_id,
      |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in s] AS h
      | FROM sh),
      |w AS (SELECT doc_id, CASE
      |  WHEN len(h) = 0 THEN []::BIGINT[]
      |  WHEN len(h) <= 4 THEN [list_min(h)]
      |  ELSE [list_min(h[i:i+3]) for i in range(1, len(h)-2)] END AS f
      | FROM hs)
      |""".stripMargin

  /** Shared oracle CTE chain: content-defined chunks per document —
    * position-independent mirror of the rolling hash in
    * [[graft.functions.CdcChunks]] (window 4, divisor 32): a boundary
    * falls after 1-based code-point position i ≥ 4 iff
    * (cp(i−3)·31³ + cp(i−2)·31² + cp(i−1)·31 + cp(i)) % 32 = 0, and
    * always after the last character. The final-boundary dedup (when
    * position n is itself a rolling-hash boundary) must be an explicit
    * DISTINCT over UNION ALL: this CTE is spliced into WITH RECURSIVE
    * blocks (d_dup_groups_multi), where DuckDB gives a plain UNION
    * recursive-iteration semantics — no set-dedup — yielding a
    * spurious empty trailing chunk. */
  private val CdcChunksCte =
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
      |           WHERE text IS NOT NULL AND length(text) > 0),
      |pos AS (SELECT d.doc_id, CAST(t.i AS BIGINT) AS i
      |        FROM d, unnest(range(4, n + 1)) AS t(i)
      |        WHERE (unicode(substr(text, CAST(t.i AS INT)-3, 1))*29791
      |             + unicode(substr(text, CAST(t.i AS INT)-2, 1))*961
      |             + unicode(substr(text, CAST(t.i AS INT)-1, 1))*31
      |             + unicode(substr(text, CAST(t.i AS INT), 1))) % 32 = 0),
      |bnd AS (SELECT DISTINCT doc_id, i FROM
      |          (SELECT doc_id, i FROM pos
      |           UNION ALL SELECT doc_id, n FROM d)),
      |ch AS (SELECT doc_id, i AS e,
      |         lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS s
      |       FROM bnd),
      |chunks AS (SELECT c.doc_id,
      |             row_number() OVER (PARTITION BY c.doc_id ORDER BY c.e) - 1 AS idx,
      |             substr(d.text, CAST(c.s AS INT) + 1, CAST(c.e - c.s AS INT)) AS chunk
      |           FROM ch c JOIN d USING (doc_id))
      |""".stripMargin

  /** Shared oracle CTE: per-token 60-bit hashes (simhash input). */
  private val SimhashHsCte =
    """, hs AS (SELECT doc_id,
      |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in t] AS h
      | FROM toks)
      |""".stripMargin

  /** 60-bit majority-fold simhash signature (mirrors SimHash60;
    * token-less docs excluded like the Spark side's eligibility
    * filter — they'd all fold to sig 0). */
  private val SimhashSigSelect =
    """SELECT doc_id, CAST(list_sum(
      | [CASE WHEN list_sum([2*((x // (CAST(1 AS BIGINT) << b)) % 2) - 1 for x in h]) > 0
      |   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
      |  for b in range(0, 60)]) AS BIGINT) AS sig
      |FROM hs WHERE len(h) > 0""".stripMargin

  /** Shared oracle CTE chain ending in `grp(doc_id, group_id)`: n-gram
    * Jaccard near-dup edges → connected components by min-label
    * reachability (recursive). Used by d_dup_groups and p_split_safe.
    * The pair-generation chain (toks→sh→ex→shared→j→e) is
    * AS MATERIALIZED: DuckDB re-executes CTEs referenced from a
    * recursive term on every iteration, so without the hint each
    * reachability round re-runs the full shingle self-join — ~10 s per
    * round at sf1, a timeout across the recursion. Materialization is
    * a pure optimization hint; output is byte-identical. */
  private val DupGroupCtes =
    (T.replace("WITH toks AS (", "WITH RECURSIVE toks AS MATERIALIZED (") +
      ShingleHashCte.replace(", sh AS (", ", sh AS MATERIALIZED (") +
      """ex0 AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
        |ex AS MATERIALIZED (SELECT ex0.* FROM ex0 JOIN (SELECT g FROM ex0
        |  GROUP BY g HAVING count(*) <= 300) k USING (g)),
        |shared AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS MATERIALIZED (SELECT id_a, id_b,
        |  inter*1.0/(len(sa.s)+len(sb.s)-inter) AS jac
        | FROM shared JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b),
        |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
        |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.5),
        |reach AS (SELECT DISTINCT a AS n, a AS m FROM e
        |  UNION SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
        |grp AS (SELECT n AS doc_id, min(m) AS group_id FROM reach GROUP BY n)""".stripMargin)

  /** Content-hash split bucket (md5-prefix mod 100) — the ONE split
    * contract `p_split`, `p_dataset_card` (and their oracles) share;
    * boundaries are bucket < 90 → train, < 95 → val, else test.
    * Changing the salt or fractions here changes every consumer
    * together — a card must never describe a different split than
    * `p_split` produces. */
  private def contentBucket: org.apache.spark.sql.Column =
    conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 100

  /** [[contentBucket]]'s SQL mirror over a text expression. */
  private def contentBucketSql(textExpr: String): String =
    s"CAST(('0x' || substr(md5($textExpr), 1, 4)) AS BIGINT) % 100"

  /** `greatest(s_…)` over ALL configured languages — derived from
    * TextOps.LangStopwords so a new language reaches every generated
    * lang-CASE at once (a hardcoded column list would silently diverge
    * from langId's argmax). */
  private lazy val LangGreatest: String =
    TextOps.LangStopwords.map { case (l, _) => s"s_$l" }
      .mkString("greatest(", ", ", ")")

  /** The per-language stopword-score CTE (`sc`) — langId's SQL mirror,
    * shared by every oracle that predicts language. Requires `toks`. */
  private lazy val LangScoreCte: String =
    s"""sc AS (SELECT doc_id,
       | ${TextOps.LangStopwords.map { case (l, ws) =>
           s"(${langScoreSql(ws)}) AS s_$l" }.mkString(", ")}
       | FROM toks)""".stripMargin

  /** The argmax WHEN-chain of [[LangScoreCte]]'s score columns. */
  private lazy val LangPredCase: String =
    TextOps.LangStopwords.map { case (l, _) =>
      s"WHEN $LangGreatest >= 0.05 AND s_$l = $LangGreatest THEN '$l'"
    }.mkString(" ")

  /** `, sc AS …, lang AS (…lang_pred…)` — the full prediction CTE pair. */
  private lazy val LangPredCtes: String =
    s""", $LangScoreCte,
       |lang AS (SELECT doc_id, CASE
       | $LangPredCase
       | ELSE 'unk' END AS lang_pred FROM sc)""".stripMargin

  /** Shared quality-score select (mirrors TextOps.qualityScore);
    * reused by t_quality and t_quality_norm. Requires the `toks` CTE. */
  private lazy val QualitySelect: String =
    s"""SELECT doc_id, round(greatest(0.0,
       |  least(len(t)/100.0, 1.0)*0.5
       |  + (${langScoreSql(TextOps.EnStopwords)})*0.5
       |  - (CASE WHEN len(text)=0 THEN 0.0
       |     ELSE len(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))*1.0/len(text) END)
       |  ), 4) AS quality
       |FROM toks""".stripMargin

  private def langScoreSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"CASE WHEN len(t)=0 THEN 0.0 ELSE len(list_filter(t, x -> list_contains($lst, x)))*1.0/len(t) END"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------------ text analysis
    "t_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        size(TextOps.bpeTokens(col("text"))).as("n_bpe"),
        TextOps.punctCount(col("text")).as("n_punct"))),
    "t_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(TextOps.qualityScore(col("text")), 4).as("quality"))),
    // Classifier-based filtering (the fastText-style model-scored
    // quality gate): full-batch gradient descent where each iteration
    // is ONE map-side-combinable aggregate (O(k) driver state), then a
    // zero-shuffle scoring projection with the learned weights as plan
    // literals. Softsign link + decimal gradient sums keep the whole
    // training trajectory bit-identical to the DuckDB oracle.
    "t_classifier" -> ((s, dir) =>
      // fanned input parallelizes BOTH the (cached) training
      // featurization and the final scoring projection — identity at
      // production scan widths (Tables.fanOut)
      Classifier.trainAndScore(
        Tables.fanOut(Tables.documents(s, dir)),
        when(col("lang") === "en", 1.0).otherwise(0.0))),
    // Snapshot diff — the audit between two corpus versions of an
    // incremental pipeline (what did this crawl add/drop/edit?). The
    // v2 snapshot derives deterministically from the corpus (drop
    // id%10, edit id%7, add id%13 under shifted ids) so the oracle
    // rebuilds it; the diff itself shuffles fixed-width digests, never
    // document bodies.
    "d_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(docs, v2)
    }),
    // Filter-model evaluation: exact Mann-Whitney AUC of the trained
    // scores. The only window runs over the bounded aggregated score
    // distribution (≤10001 rows), never the corpus; the rank sum uses
    // exact decimal integer arithmetic so 1e11-scale class counts
    // cannot lose bits in doubles. (The driver's synthetic corpus
    // draws the same word pool for every lang, so the label is near-
    // unlearnable here and AUC sits just above 0.5 — the gate pins the
    // measurement contract; ClassifierSpec proves the model separates
    // a corpus that actually carries signal.)
    "t_classifier_auc" -> ((s, dir) => {
      val docs = Tables.fanOut(Tables.documents(s, dir))
      val label = when(col("lang") === "en", 1.0).otherwise(0.0)
      val model = Classifier.train(docs, label)
      // label computed inline on the ONE scoring scan — no label join
      Classifier.auc(docs.select(
        round(Classifier.probability(col("text"), model), 4).as("score"),
        label.as("y")))
    }),
    // Dataset card summary — the single-row corpus profile a published
    // dataset documents (counts, language mix, quality, dup rate,
    // split sizes): everything folds into ONE map-side-combinable
    // aggregation over one projected scan.
    "p_dataset_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("__t", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("source"),
          size(col("__t")).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("n_chars"),
          TextOps.langId(col("text")).as("lang"),
          round(TextOps.qualityScore(col("text")), 4).as("quality"),
          md5(col("text")).as("h"),
          contentBucket
            .as("bucket"))
      val card = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        round(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 4)
          .as("pct_en"),
        round(avg("quality"), 4).as("mean_quality"),
        round(lit(1.0) -
          countDistinct(col("h")) / count(lit(1)).cast("double"), 4)
          .as("dup_rate"),
        sum(when(col("bucket") < 90, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("bucket") >= 90 && col("bucket") < 95, 1L)
          .otherwise(0L)).as("n_val"),
        sum(when(col("bucket") >= 95, 1L).otherwise(0L)).as("n_test"))
      // codec-coverage metric: the `decoder` provenance column tags
      // every media row with the path that produced it ("stub"/"*-hdr"
      // = the deterministic codec seam, anything else = a real decode)
      // — the published card states how much of the corpus's media
      // metadata came from real decoders vs the stub. One extra
      // single-row aggregate, cross-joined (both sides are 1 row).
      val media = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, dir)))
        .agg(
          count(lit(1)).as("n_media"),
          round(avg(when(col("decoder") === "stub" ||
            col("decoder").endsWith("-hdr"), 1.0).otherwise(0.0)), 4)
            .as("pct_stub_decode"))
      card.crossJoin(media)
    }),
    // Exact-k weighted sampling per source (Efraimidis–Spirakis A-ES):
    // rank by ln(u)/w with deterministic md5 uniforms and w = quality
    // — the top-k ARE a weighted sample without replacement, the
    // exact-k guarantee p_wsample's Bernoulli draw cannot give. One
    // shuffle on source; the rank filter is a WindowGroupLimit.
    "p_wsample_k" -> ((s, dir) => {
      val u = greatest(
        conv(substring(md5(concat(lit("aes#"), col("doc_id").cast("string"))),
          1, 12), 16, 10).cast("double") / 281474976710656.0,
        lit(1e-15))
      val q = round(TextOps.qualityScore(col("text")), 4)
      val win = Window.partitionBy("source")
        .orderBy(col("wkey").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), q.as("quality"),
          round(log(u) / (q + lit(0.01)), 6).as("wkey"))
        .withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 5)
        .select("source", "doc_id", "quality", "rank")
    }),
    // Blocklist screen: the wordlist safety/compliance filter every
    // curation pipeline runs before anything ML-shaped — occurrence
    // and distinct-term counts per doc against a fixed term list.
    // Pure map-side (token array materialized once; the list rides
    // the plan as a literal — at a real blocklist size it becomes one
    // broadcast set the same way).
    "t_blocklist" -> ((s, dir) => {
      val terms = array(Seq("slow", "leak", "crash").map(lit): _*)
      Tables.documents(s, dir)
        .withColumn("__t", TextOps.tokens(col("text")))
        .withColumn("__hits", filter(col("__t"), t => array_contains(terms, t)))
        .select(col("doc_id"),
          size(col("__hits")).cast("long").as("n_hits"),
          size(array_intersect(array_distinct(col("__t")), terms))
            .cast("long").as("n_terms"),
          (size(col("__hits")) > 0).as("flagged"))
    }),
    // Per-source quality equalization: percent-rank within each source
    // — a global quality threshold over raw scores silently starves
    // whole sources whose scorer calibration differs; ranking within
    // the source first is the standard fix. The rank is computed over
    // the per-(source, quality) COUNTS table — quality is 4dp-rounded
    // in [0, 1], so that table is ≤ #sources × 10⁰⁰¹ rows at ANY
    // corpus size — and broadcast back: percent_rank = (rank−1)/(n−1)
    // with ties sharing the rank of their first row, exactly SQL
    // percent_rank() ordered by quality alone. The old per-row window
    // PARTITION BY source was the textbook skew key (one dominant
    // source total-sorts on one task); the raw corpus now never
    // shuffles at all.
    "t_quality_norm" -> ((s, dir) => {
      val q = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          round(TextOps.qualityScore(col("text")), 4).as("quality"))
      // nulls-last ordering + null-safe join keys: a NULL source or
      // NULL quality (null text) must rank like SQL percent_rank does
      // (nulls sort last in DuckDB ASC), not silently drop at the join
      val wSrc = Window.partitionBy("source")
      val wCum = wSrc.orderBy(col("quality").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, -1)
      val pr = q.groupBy("source", "quality").agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum("cnt").over(wSrc))
        .withColumn("below", coalesce(sum("cnt").over(wCum), lit(0L)))
        .select(col("source"), col("quality"),
          when(col("n") === 1, 0.0)
            .otherwise(round(col("below") / (col("n") - 1).cast("double"), 6))
            .as("pr"))
      q.as("q").join(broadcast(pr).as("p"),
          col("q.source") <=> col("p.source") &&
            col("q.quality") <=> col("p.quality"))
        .select(col("q.doc_id").as("doc_id"), col("q.source").as("source"),
          col("q.quality").as("quality"), col("p.pr").as("pr"))
    }),
    "t_langid" -> ((s, dir) =>
      // heavy pure projection (4 stopword-ratio passes per row) over a
      // single-row-group scan: fan out so it isn't one serial task
      Tables.fanOut(Tables.documents(s, dir)).select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))),
    "t_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.docFingerprint(col("text")).as("fp"))),
    // Memorization-risk score: the fraction of a doc's distinct 3-gram
    // shingles that also appear in at least one OTHER doc — high means
    // the doc is mostly assembled from corpus-shared phrasing (eval-
    // leak / templated-content signal). Same (doc_id, shingle)-distinct
    // blocking rows as the Jaccard dedup family: a hot boilerplate
    // shingle contributes ONE row per doc to the df join, never its
    // occurrence stratum.
    "t_memorization" -> ((s, dir) => {
      // the t_winnow_pairs materialization: ONE tokenize+shingle pass
      // through a spread-key (doc_id, g) exchange that both the df
      // aggregate and the join probe side read back (ReusedExchange,
      // plan-audited) — and a hot shingle's stratum spreads across
      // tasks instead of funneling through one
      val parts = s.sessionState.conf.numShufflePartitions
      val ex = Tables.documents(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          explode(graft.functions.VectorOps.shingleHash60(col("__toks"), 3))
            .as("g"))
        .filter(col("doc_id").isNotNull && col("g").isNotNull)
        .repartition(parts, col("doc_id"), col("g"))
      val df = ex.groupBy("g").agg(count(lit(1)).as("df"))
      ex.join(df, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") > 1, 1)).as("n_shared"))
        .withColumn("frac",
          round(col("n_shared") / col("n_shingles").cast("double"), 4))
    }),
    // First BPE iteration, literally: the corpus-wide counts of
    // adjacent CHARACTER pairs within words — the merge-candidate
    // table a byte-pair tokenizer trainer starts from. Pairs
    // materialize map-side from the token array (no self-join), one
    // shuffle for the count, TakeOrdered top-20.
    "t_bpe_merges" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("tok", explode(TextOps.tokens(col("text"))))
        .withColumn("pair", explode(expr(
          "transform(sequence(1, char_length(tok) - 1), i -> substring(tok, i, 2))")))
        .filter(char_length(col("pair")) === 2)
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)),
    // Each array stage materialized as a column: nested array exprs
    // re-evaluate their argument subtree per element (O(n²) otherwise).
    "t_winnow" -> ((s, dir) =>
      // per-shingle md5 + window-min winnowing is the heaviest pure
      // projection in the text family — fan the narrow scan out first
      Tables.fanOut(Tables.documents(s, dir))
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("sh", TextOps.shingles(col("toks"), 3))
        .withColumn("hs", transform(col("sh"), s => TextOps.h60(s)))
        .select(col("doc_id"),
          explode(TextOps.winnowFromHashes(col("hs"), 4)).as("fp"))),

    // Corpus vocabulary stats: token -> document frequency + total
    // count, top 50 (count desc, token asc) — the "what's in my
    // training set" scan.
    "t_vocab" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("tok", explode(TextOps.tokens(col("text"))))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)),

    // Vocabulary coverage curve: what fraction of all token
    // occurrences the top-k vocabulary covers, at k = 10/100/1000 —
    // the tokenizer-budget planning number (how big must a vocab be
    // before <unk> is rare). Head selected distributed (TakeOrdered),
    // cumulative mass via one window over ≤1000 rows; the corpus total
    // rides a 1-row broadcast.
    "t_vocab_coverage" -> ((s, dir) => {
      val vocab = Tables.documents(s, dir)
        .withColumn("tok", explode(TextOps.tokens(col("text"))))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val tot = vocab.agg(sum("n").as("total"))
      val top = vocab.orderBy(col("n").desc, col("tok")).limit(1000)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("tok"))))
        .withColumn("cum", sum("n").over(
          Window.orderBy(col("n").desc, col("tok"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      top.filter(col("rank").isin(10, 100, 1000))
        .crossJoin(broadcast(tot))
        .select(col("rank").cast("long").as("k"),
          col("cum").as("n_covered"),
          round(col("cum") / col("total"), 4).as("coverage"))
    }),

    // Zipf fit over the vocabulary head: least-squares slope of
    // ln(freq) on ln(rank) for the top-1000 tokens — the one-number
    // naturalness check (natural language ≈ −1; synthetic/templated
    // corpora drift off it). The head is selected distributed
    // (TakeOrderedAndProject top-k — the vocabulary is never globally
    // sorted), and the rank window + regression run over ≤1000 rows.
    "t_zipf" -> ((s, dir) => {
      val top = Tables.documents(s, dir)
        .withColumn("tok", explode(TextOps.tokens(col("text"))))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(1000)
      val lr = log(col("rank")).cast("double")
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("tok"))))
        .agg(count(lit(1)).as("n_tokens"),
          round(covar_pop(lr, log(col("n"))) / var_pop(lr), 4)
            .as("zipf_slope"))
    }),

    // Corpus drift: which tokens drive the distribution shift between
    // two source halves — the train/serve-skew question. Per-token
    // KL(A||B) contribution under add-one smoothing over the union
    // vocab, top 20. ONE conditional-count groupBy (no per-group scans,
    // no join); the three totals ride a 1-row broadcast (schema-bounded
    // — never a global single-partition window over the vocab); top-20
    // plans as TakeOrdered.
    "t_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("grp",
          when(substring(col("source"), 4, 10).cast("int") < 10, "a")
            .otherwise("b"))
      val counts = d
        .select(col("grp"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(when(col("grp") === "a", 1)).as("ca"),
          count(when(col("grp") === "b", 1)).as("cb"))
      val totals = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
        count(lit(1)).as("v"))
      val pa = (col("ca") + 1.0) / (col("na") + col("v"))
      val pb = (col("cb") + 1.0) / (col("nb") + col("v"))
      counts.crossJoin(broadcast(totals))
        .select(col("tok"), col("ca"), col("cb"),
          round(pa * log(pa / pb), 6).as("kl"))
        .orderBy(col("kl").desc, col("tok"))
        .limit(20)
    }),

    // Composite curation pass — the query a training-data user actually
    // runs: keep documents that score >= 0.3 quality, are identified
    // English, AND are their exact-dup group's keeper. The keeper flag
    // is a window over the content hash — one shuffle on md5(text),
    // no join and no keep-list materialization. (A broadcast of the
    // keep-list would be O(corpus): one row per distinct document —
    // fine at sf0.1, a guaranteed driver/executor OOM at 100 TB.)
    "p_curate" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      Tables.documents(s, dir)
        .withColumn("__keeper", min(col("doc_id")).over(w) === col("doc_id"))
        .filter(col("__keeper"))
        .select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 4).as("quality"),
          TextOps.langId(col("text")).as("lang_pred"))
        .filter(col("quality") >= 0.3 && col("lang_pred") === "en")
    }),

    // Cross-modal curation: the text gates (quality, language) AND the
    // embedding gates (SemDeDup keep, outlier |z| ≤ 2.5) in ONE pass —
    // the composition a real pipeline ships. Embeddings cover only part
    // of the corpus at scale (sf0.1: 2k of 5k docs), so the embedding
    // side joins LEFT and a doc without a vector passes those gates
    // vacuously; every flag rides the row for auditability.
    "p_curate_emb" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Ann.pinnedCentroids(emb, nlist = 16)
      val text = Tables.documents(s, dir).select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 4).as("quality"),
          TextOps.langId(col("text")).as("lang_pred"))
        .withColumn("text_keep",
          col("quality") >= 0.3 && col("lang_pred") === "en")
      val sem = Ann.semDedup(cents, emb, tau = 0.35)
        .select(col("vec_id").as("doc_id"), col("keep").as("sem_keep"))
      val outl = Ann.embOutliers(cents, emb)
        .select(col("vec_id").as("doc_id"),
          (abs(col("z")) <= 2.5).as("z_ok"))
      text.join(sem, Seq("doc_id"), "left")
        .join(outl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("lang_pred"),
          col("text_keep"),
          coalesce(col("sem_keep"), lit(true)).as("sem_keep"),
          coalesce(col("z_ok"), lit(true)).as("z_ok"))
        .withColumn("keep",
          col("text_keep") && col("sem_keep") && col("z_ok"))
    }),

    // ------------------------------------------------------ deduplication
    "d_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir))),
    // Canonicalized exact dedup: case/punctuation/whitespace edits
    // collapse to one cluster (the cheap normalization tier between
    // exact and near-dup). Same single-shuffle shape as d_dedup_exact.
    "d_dedup_canon" -> ((s, dir) =>
      Dedup.canonical(Tables.documents(s, dir))),
    "d_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.5)),
    // Asymmetric containment (|A∩B|/|A|): a short doc pasted into a
    // long one scores ~1 where Jaccard stays near |A|/|B| — the
    // sub-document-duplication measure. Either direction >= 0.8.
    "d_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), n = 3,
        threshold = 0.8)),
    // Per-source dedup observability: docs, distinct contents, dup
    // rate — the first dashboard a curation run reads (which source is
    // feeding the pipeline copies). count_distinct over md5 — one
    // shuffle, map-side partials on the hash.
    "d_dup_rate" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text"))).as("n_unique"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_unique") / col("n_docs"), 4))),

    // Corpus-boilerplate fraction per doc: of its DISTINCT 3-gram
    // shingles, how many occur in >= 1 other document. Linear (two
    // aggregations), never a pair join — the filterable repetition
    // signal at corpus scales where pairwise detection is hopeless.
    "d_dupgram_frac" -> ((s, dir) =>
      Dedup.dupNgramFraction(Tables.documents(s, dir), n = 3)),
    "d_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir),
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)),
    // Edit-distance near-dup: the same banded LSH candidate generation
    // (never all-pairs), verified by EXACT levenshtein — the
    // typo/small-edit duplicate detector Jaccard-on-shingles blurs.
    // Candidates admit at a loose jaccard (0.3); the edit bound is the
    // real filter. Spark and DuckDB levenshtein agree (unit-cost
    // insert/delete/substitute over code points).
    "d_lev_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cand = Dedup.minhashLshPairs(docs,
          n = 3, numHashes = 16, bands = 4, threshold = 0.3)
        .select("id_a", "id_b")
      cand
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .withColumn("dist", levenshtein(col("ta"), col("tb")))
        .filter(col("dist") <= 40)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    }),
    // Incremental-crawl near-dup lookup: every 5th doc plays the "new
    // batch" probing the rest as the held corpus — cross pairs only,
    // linear in the probe batch (the self-pairing d_minhash_lsh cost
    // never recurs for an index refresh). The at-rest index round trip
    // (minhashIndex -> minhashLookup bit-equality) is spec-gated in
    // PipelineSpec.
    "d_minhash_lookup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.minhashCrossPairs(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }),
    "d_simhash" -> ((s, dir) =>
      Dedup.simhashSignatures(Tables.documents(s, dir))
        .withColumnRenamed("id", "doc_id")),
    // SimHash near-dup pairs: 4x15-bit band pigeonhole (any dist<=3 pair
    // shares a band) -> exact hamming verify on candidates only.
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))),
    // SimHash sibling of d_minhash_lookup: every 5th doc probes the
    // rest as the held corpus, signature rides the band rows (no
    // re-attach join at all).
    "d_simhash_lookup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.simhashCrossPairs(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          maxDist = 3)
        .select(col("probe_id"), col("corpus_id"),
          col("dist").cast("long").as("dist"))
    }),
    // Near-dup cluster collapse: connected components over the verified
    // jaccard pairs; every member labeled with its component's min id.
    "d_dup_groups" -> ((s, dir) =>
      Dedup.duplicateGroups(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.5))),
    // Same labeling through the DISTRIBUTED min-label propagation loop
    // (driverLimit = 0 disables the union-find fast path) — the 100 TB
    // branch, hash-gated against the identical oracle so the scale
    // path can never silently diverge from the exact driver path.
    "d_dup_groups_dist" -> ((s, dir) =>
      Dedup.duplicateGroups(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3,
          threshold = 0.5),
        driverLimit = 0L)),
    // Duplicate-cluster size histogram: the dedup dashboard's second
    // read after d_dup_rate — "are we removing pairs or whole template
    // families?". Two map-side-combinable aggregations over the CC
    // labels; output is bounded by the largest cluster size.
    "d_group_sizes" -> ((s, dir) =>
      Dedup.duplicateGroups(
          Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3,
            threshold = 0.5))
        .groupBy("group_id").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))),
    // Curation-grade collapse: the UNION of three detectors' pairs
    // (minhash/LSH doc-level, simhash doc-level, CDC sub-document)
    // feeds one connected-components pass — a cluster merges when ANY
    // detector links it, the shape real pipelines run because each
    // detector has misses the others cover. Edges dedup inside
    // duplicateGroups; cost = the three (already-gated) pair scans +
    // the CC pass.
    "d_dup_groups_multi" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.duplicateGroups(
        Dedup.minhashLshPairs(d, n = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          .select(col("id_a"), col("id_b"))
          .unionByName(Dedup.simhashPairs(d, maxDist = 3)
            .select(col("id_a"), col("id_b")))
          .unionByName(Dedup.cdcSharedChunkPairs(d, window = 4, divisor = 32,
              minShared = 3, maxDf = 50L)
            .select(col("id_a"), col("id_b"))))
    }),
    // Keep-best dedup collapse: every near-dup group keeps its
    // highest-quality member (rounded score, ties to lowest id) —
    // the curation policy real pipelines run instead of keep-lowest-id.
    "d_keep_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.keepBest(
        Dedup.duplicateGroups(
          Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5)),
        d.select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 4).as("quality")))
    }),
    // Leakage-safe split: bucket by the near-dup GROUP representative,
    // not the document — near-duplicates can never straddle train/val/
    // test (the classic eval-contamination hole p_split's content hash
    // only closes for EXACT dups). The groups join is un-hinted: its
    // build side is O(near-dup docs) — corpus-sized in the worst case,
    // so AQE must keep the choice.
    "p_split_safe" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val groups = Dedup.duplicateGroups(
        Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5))
      d.join(groups, Seq("doc_id"), "left")
        .withColumn("gid", coalesce(col("group_id"), col("doc_id")))
        .withColumn("bucket",
          conv(substring(md5(concat(lit("g#"), col("gid"))), 1, 4), 16, 10)
            .cast("long") % 100)
        .select(col("doc_id"), col("gid"), col("bucket"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test").as("split"))
    }),
    // Content-defined chunking (Rabin-style rolling hash, window 4,
    // divisor 32): every chunk of every doc, identified by md5.
    "d_cdc_chunks" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(Dedup.cdcChunks(col("text"), 4, 32)).as(Seq("idx", "chunk")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          length(col("chunk")).cast("long").as("clen"),
          md5(col("chunk")).as("chash"))),
    // Chunk-level containment pairs: >= 3 shared chunks, boilerplate
    // chunks (df > 50) excluded from blocking.
    "d_cdc_pairs" -> ((s, dir) =>
      Dedup.cdcSharedChunkPairs(Tables.documents(s, dir),
        window = 4, divisor = 32, minShared = 3, maxDf = 50L)),
    // Chunk-level sibling of d_minhash_lookup: every 5th doc probes
    // the rest for shared content-defined chunks (sub-document copies
    // of held docs). maxDf counts CORPUS docs only — boilerplate-ness
    // is a property of the held side.
    "d_cdc_lookup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.cdcCrossPairs(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        window = 4, divisor = 32, minShared = 3, maxDf = 50L)
    }),
    // Winnow-fingerprint sibling of d_cdc_lookup: every 5th doc probes
    // the held corpus for shared winnowing fingerprints (local-edit-
    // robust sub-document copies — the plagiarism-sketch detector).
    "t_winnow_lookup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.winnowCrossPairs(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        k = 3, w = 4, minShared = 3, maxDf = 50L)
    }),
    // Exact duplicate-substring spans: maximal >=8-token runs shared
    // verbatim across docs — the "cut long repeated substrings"
    // curation op (boilerplate never crosses a doc-level Jaccard
    // threshold but its span should still go).
    "d_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), l = 8)),
    // ...and the cut: every doc minus its duplicate spans (empty
    // string when fully covered — e.g. exact dup docs). The composed
    // operator shares ONE tokenize between detect and cut.
    "d_cut_spans" -> ((s, dir) =>
      Dedup.cutDuplicateSpans(Tables.documents(s, dir), l = 8)),
    // Boilerplate-segment strip: line-level dedup re-expressed as
    // fixed-width token segments (this corpus has no hard newlines) —
    // corpus-wide segment df, drop df ≥ 5, rebuild in order.
    "d_boiler_strip" -> ((s, dir) =>
      Dedup.stripBoilerplateSegments(Tables.documents(s, dir),
        width = 4, maxDf = 5L)),
    // Surgical benchmark decontamination: spans of train docs that
    // leak any 8-token window of the benchmark slice (src1) are CUT,
    // not the whole doc (p_decontam is the flag-only sibling).
    "p_decontam_cut" -> ((s, dir) =>
      Dedup.cutContaminatedSpans(Tables.documents(s, dir),
        col("source") === "src1", l = 8)),
    // Embedding near-dup cluster collapse: connected components over
    // the LSH-blocked cosine pairs (never all-pairs, planes sized from
    // the corpus so bucket load — and with it candidate volume per row
    // — stays constant at any scale), min-id labels.
    "e_dup_groups" -> ((s, dir) =>
      Dedup.duplicateGroups(
          Ann.lshPairsAuto(Tables.embeddings(s, dir), threshold = 0.4,
              tables = LshTables, targetLoad = LshTargetLoad,
              minPlanes = LshMinPlanes, maxPlanes = LshMaxPlanes)
            .select(col("id_a"), col("id_b")))
        .select(col("doc_id").as("vec_id"), col("group_id"))),
    // Deterministic content-hash split: md5(text) bucket -> train/val/
    // test. Content-keyed (not id-keyed) so re-ingested duplicates land
    // in the same split — no eval contamination from re-crawls; pure
    // map-side, no shuffle at any scale.
    "p_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          contentBucket
            .as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))),
    // Export sharding balance check: deterministic md5 shard
    // assignment (16 shards) with per-shard doc/token/char totals —
    // the stats a training-export writer emits to prove its shards
    // are load-balanced before a trainer fans out over them. One
    // map-side assignment + one 16-group aggregation.
    "p_shards" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          (conv(substring(md5(concat(lit("s#"),
              col("doc_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") % 16).as("shard"),
          size(TextOps.tokens(col("text"))).as("ntok"),
          length(col("text")).as("nch"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").cast("long").as("n_tokens"),
          sum("nch").cast("long").as("n_chars"))),
    // Deterministic weighted Bernoulli sampler — the stage that
    // actually APPLIES the curation weights: keep doc iff
    // u(doc) < min(rate · mix_w / cluster_size, 1), where u is a 48-bit
    // salted content-independent hash uniform. Composes the p_mix
    // mixture weight with the d_softdedup duplicate discount in one
    // pass: one window shuffle (content hash) + an O(#sources)
    // broadcast; re-runs reproduce the exact same sample.
    "p_wsample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val full = Window.partitionBy(lit(0))
      val stats = d.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("n_tot", sum("n_src").over(full))
        .withColumn("n_sources", count(lit(1)).over(full))
        .select(col("source"),
          (col("n_tot") / (col("n_sources") * col("n_src"))).as("mix_w"))
      d.withColumn("csz",
          count(lit(1)).over(Window.partitionBy(md5(col("text")))).cast("long"))
        .join(broadcast(stats), "source")
        .withColumn("wgt", least(lit(0.6) * col("mix_w") / col("csz"), lit(1.0)))
        .withColumn("u",
          conv(substring(md5(concat(lit("ws#"), col("doc_id"))), 1, 12), 16, 10)
            .cast("double") / 281474976710656.0)
        .filter(col("u") < col("wgt"))
        .select(col("doc_id"), col("source"), round(col("wgt"), 6).as("wgt"))
    }),

    // Token-budgeted selection: per source, take docs in salted-hash
    // order until the running token count hits the budget — the
    // "N tokens per domain" subsampling stage. TWO-PHASE cumulative
    // sum: a naive per-source cumsum window ships each whole stratum
    // through one reducer. Instead each source splits into 256
    // hash-prefix buckets — the bucket is the leading 2 hex chars of
    // the SAME salted ordering hash, so (bucket, hash) order IS hash
    // order — the cumsum runs within (source, bucket) in parallel, and
    // per-bucket offsets (sums of the earlier buckets) come from an
    // O(#sources × 256) aggregate joined back by broadcast. Identical
    // output to the single-window form; no stratum ever serializes.
    // DELIBERATE cost: the tokenize scan runs twice (offsets branch
    // prunes columns differently, so no exchange reuse) — a second
    // fully-parallel linear pass, traded for removing the per-source
    // serialization that breaks at scale.
    "p_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("h", md5(concat(lit("b#"), col("doc_id"))))
        .withColumn("bkt", substring(col("h"), 1, 2))
      val offsets = d.groupBy("source", "bkt")
        .agg(sum("n_tok").as("part"))
        .withColumn("off", coalesce(
          sum("part").over(Window.partitionBy("source").orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "bkt", "off")
      val wb = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))
      d.join(broadcast(offsets), Seq("source", "bkt"))
        .withColumn("cum", col("off") + sum("n_tok").over(wb))
        .filter(col("cum") <= 800L)
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
    }),

    // Deterministic epoch shuffle: every doc gets a stable global
    // shuffle index — reproducible training order, re-derivable on any
    // re-run (md5("e1#" + id) order). row_number over one global sort
    // would serialize the corpus through a single window task; instead
    // the p_budget two-phase shape: the leading 2 hex chars of the
    // ordering hash split the order into 256 contiguous ranges whose
    // ranks run in parallel, and the O(256) range offsets come back by
    // broadcast. Output identical to the global window at any scale.
    "p_shuffle" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("h", md5(concat(lit("e1#"), col("doc_id"))))
        .withColumn("bkt", substring(col("h"), 1, 2))
      val offsets = d.groupBy("bkt").agg(count(lit(1)).as("part"))
        .withColumn("off", coalesce(
          sum("part").over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      d.join(broadcast(offsets), Seq("bkt"))
        .withColumn("idx", col("off") - 1 +
          row_number().over(Window.partitionBy("bkt").orderBy("h", "doc_id")))
        .select(col("doc_id"), col("source"), col("idx"))
    }),

    // GPT-style sequence packing: concatenate token streams per source
    // shard in doc_id order, slice into 512-token bins; each doc
    // records its shard-local token offset and first/last bin. Packing
    // per shard (not globally) keeps the cumulative sum parallel
    // across shards — a global pack order would serialize the corpus.
    "p_pack" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("start_off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("bin_first", expr("start_off div 512"))
        .withColumn("bin_last",
          expr("(start_off + greatest(n_tok, 1L) - 1) div 512"))
    }),
    // Benchmark decontamination: flag docs sharing any 8-token shingle
    // with the benchmark slice (source = 'src1'), with the distinct
    // shared-shingle count as evidence. Shingle -> hash -> semi-join
    // against the (small, broadcast) benchmark shingle set.
    "p_decontam" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(VectorOps.shingleHash60(TextOps.tokens(col("text")), 8)).as("g"))
      val bench = sh.filter(col("source") === "src1").select("g").distinct()
      sh.filter(col("source") =!= "src1")
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    }),

    // -------------------------------------------------- similarity search
    "e_knn_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.bruteTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // Multi-probe LSH: 4 tables + closest-plane flip probes match the
    // 8-table recall at half the corpus-side signature cost — the
    // probing trick that shrinks the expensive (corpus) side.
    "e_knn_lsh_mp" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < 10),
        k = 5, tables = 4)
    }),
    // Greedy k-center coreset: the diversity sampler — k − 1 linear
    // passes, centers ride the plan as a k·dim literal, arg-max via
    // TakeOrderedAndProject (no shuffle, no cache).
    "e_kcenter" -> ((s, dir) => Ann.kCenter(Tables.embeddings(s, dir), k = 8)),
    // Exact all-pairs: the recall oracle for e_lsh_pairs (quadratic —
    // verification-scale only; the 100 TB dedup path is e_lsh_pairs).
    "e_cos_pairs" -> ((s, dir) =>
      Ann.cosinePairs(Tables.embeddings(s, dir), threshold = 0.4)),
    // LSH-blocked near-dup pairs: planes sized from count(*) (the
    // sf0.1→sf1 audit measured pinned planes going 39× for 10× data —
    // bucket load grows linearly, per-bucket self-join quadratically);
    // coefficients slice a fixed master draw and the sizing rule is an
    // integer threshold scan, so the oracle inlines the superset and
    // masks by the same count-derived plane count → hash-checkable at
    // EVERY scale factor, adaptivity included.
    "e_lsh_pairs" -> ((s, dir) =>
      Ann.lshPairsAuto(Tables.embeddings(s, dir), threshold = 0.4,
        tables = LshTables, targetLoad = LshTargetLoad,
        minPlanes = LshMinPlanes, maxPlanes = LshMaxPlanes)),
    // LSH top-k: same adaptive seed-deterministic planes as
    // e_lsh_pairs → the oracle rebuilds the identical buckets.
    "e_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.lshTopKAuto(emb, emb.filter(col("vec_id") < 10), k = 5,
        tables = LshTables, targetLoad = LshTargetLoad,
        minPlanes = LshMinPlanes, maxPlanes = LshMaxPlanes)
    }),
    // Lloyd-TRAINED IVF, gated float-free on its RECALL: per query,
    // the count of ids shared with exact brute-force top-k must reach
    // 4 of 5 (nlist=16, nprobe=4 at this corpus size). k-means float
    // order is oracle-hostile, so the gate checks the integer recall
    // property — exactly what an ANN index must deliver — and the
    // oracle asserts the expected per-query outcome.
    "e_knn_ivf_trained" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      // deterministicSample: the Lloyd training sample is the 4096
      // smallest vec_ids, a pure function of the data — the recall
      // measured here is exactly what any re-run trains and gets
      val ivf = Ann.ivfTopK(emb, queries, k = 5, nlist = 16, nprobe = 4,
          dim = 64, deterministicSample = true)
        .select(col("qid"), col("nid"))
      val brute = Ann.bruteTopK(emb, queries, k = 5)
        .select(col("qid"), col("nid"))
      val overlap = ivf.intersect(brute)
        .groupBy("qid").agg(count(lit(1)).as("overlap"))
      queries.select(col("vec_id").as("qid"))
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("overlap"), lit(0L)) >= 4L).cast("long").as("recall_ok"))
    }),
    // k-means|| init + distributed Lloyd under a quantizer-quality
    // contract: the init that sees the WHOLE corpus in linear passes
    // (no bounded-sample bias; deterministic md5 draws + decimal sums,
    // so re-runs train bit-identical centroids). Contract: (a) the
    // trained quantizer strictly beats the untrained pinned baseline
    // on the k-means objective φ, (b) every query keeps ≥ 2/5 of its
    // brute top-5 probing 6/16 lists. (The measured recall here trails
    // e_knn_ivf_trained's — at 500 vectors the sample path IS
    // full-data Lloyd; φ confirms kmpar's layout is the better
    // clustering, and its advantage is that no bounded sample exists
    // at 100 TB.)
    "e_knn_ivf_kmpar" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // The training phase is ~12 sequential driver actions (3 k-means||
      // rounds, the weighting pass, 5 Lloyd refinement passes, the φ
      // contract, the pinned baseline) and each would otherwise re-scan
      // and re-decode the embedding parquet (guide §5: high reuse, real
      // recompute cost). Persist for the training actions only and
      // release before returning — the returned recall query recomputes
      // from parquet, so nothing persisted outlives the gate. Training
      // arithmetic is unchanged (decimal sums are order-exact).
      // (Fanning the persisted frame out was measured NET-NEGATIVE here
      // — OPTIMIZATION_r18.md action-lloyd-fanned > action-lloyd-pass: the
      // extra exchange costs more than the 2000-row partial agg saves.
      // The real per-pass cost was topCentroids re-evaluating through
      // the Generate, fixed in Ann.lloydRefine itself.)
      emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = emb.filter(col("vec_id") < 10)
      // The pinned φ-baseline (16 smallest-id vectors, id-ordered) is
      // collected FIRST: its element 0 IS the k-means‖ seed (the
      // smallest-id vector), so the trainer's own seed-collect action
      // is skipped — one fewer of the ~11 sequential training actions,
      // identical trajectory (same seed value, decimal sums).
      val pinned = Ann.pinnedCentroids(emb, nlist = 16)
      val cents = Ann.lloydRefine(emb,
        Ann.kmeansParallelCentroids(emb, nlist = 16, dim = 64,
          seed = Some(pinned(0))), iters = 5)
      val phis = Ann.kmeansObjectives(emb, Seq(cents, pinned))
      emb.unpersist(false)
      val improved = phis(0) < phis(1)
      val ivf = Ann.ivfTopKWith(cents, emb, queries, k = 5, nprobe = 6)
        .select(col("qid"), col("nid"))
      val brute = Ann.bruteTopK(emb, queries, k = 5)
        .select(col("qid"), col("nid"))
      val overlap = ivf.intersect(brute)
        .groupBy("qid").agg(count(lit(1)).as("overlap"))
      queries.select(col("vec_id").as("qid"))
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("overlap"), lit(0L)) >= 2L).cast("long").as("recall_floor_ok"),
          lit(if (improved) 1L else 0L).as("phi_beats_baseline"))
    }),
    // IVF top-k over a PINNED deterministic quantizer (the 16 smallest
    // vec_ids, no Lloyd) so the oracle can rebuild the identical index;
    // the trained-quantizer path (Ann.ivfTopK) is additionally
    // recall-gated above (e_knn_ivf_trained).
    "e_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfTopKWith(Ann.pinnedCentroids(emb, nlist = 16),
        emb, emb.filter(col("vec_id") < 10), k = 5, nprobe = 4)
    }),
    // Per-label embedding geometry: centroid norm + inertia (mean
    // squared distance to the centroid) — the cluster-quality /
    // class-separability profile. Uses inertia = E‖v‖² − ‖c‖² so ONE
    // exploded map-side-combinable pass covers the centroid and a
    // plain per-label agg covers E‖v‖²; no second data pass, no
    // centroid join back to vectors. Both sides are O(#labels) rows.
    "e_label_stats" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dims = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("m"))
      val cnorm = dims.groupBy("label").agg(sum(col("m") * col("m")).as("c2"))
      emb.groupBy("label")
        .agg(count(lit(1)).as("n"),
          avg(Ann.dot(col("embedding"), col("embedding"))).as("msq"))
        .join(cnorm, Seq("label"))
        .select(col("label"), col("n"),
          round(sqrt(col("c2")), 4).as("centroid_norm"),
          round(col("msq") - col("c2"), 4).as("inertia"))
    }),
    // SQ8 top-k: per-vector symmetric int8 quantization; scales cancel
    // in quantized cosine so the whole search runs on the integer
    // codes (1 byte/dim at rest). Deterministic codes → hash-gated.
    "e_knn_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.sq8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // IVF-SQ8 (faiss IndexIVFScalarQuantizer shape): pinned coarse
    // quantizer restricts candidates; scoring runs on int8 codes.
    // Both stages deterministic → hash-gated end to end.
    "e_knn_ivfsq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfSq8TopK(Ann.pinnedCentroids(emb, nlist = 16),
        emb, emb.filter(col("vec_id") < 10), k = 5, nprobe = 4)
    }),
    // PQ/ADC top-k over PINNED deterministic codebooks (m=8 subspaces,
    // ksub=16 codewords from the 16 smallest vec_ids): corpus scanned
    // as m-byte codes only, queries exact, distances via per-query
    // lookup tables. The oracle re-derives codebooks, codes, and ADC
    // sums bit-identically.
    "e_knn_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.pqTopK(Ann.pinnedCodebooks(emb, m = 8, ksub = 16, dim = 64),
        emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // Refine (faiss IndexRefineFlat): the pinned-codebook PQ stage
    // over-fetches 20 ADC candidates per query; exact cosine re-ranks
    // them to the final top-5. Quantization error cannot reorder the
    // answer — only candidate misses can — so the gate is fully
    // hash-checked against the composed oracle, no recall hedging.
    "e_knn_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Ann.refineTopK(
        Ann.pqTopK(Ann.pinnedCodebooks(emb, m = 8, ksub = 16, dim = 64),
          emb, q, k = 20),
        emb, q, k = 5)
    }),
    // Matryoshka-style prefix search (MRL, Kusupati et al. 2022): the
    // candidate stage runs brute cosine on the FIRST 16 of 64 dims —
    // a 4× cheaper scan when embeddings are trained
    // importance-ordered — and exact full-dim cosine re-ranks the
    // 20-candidate over-fetch to the final top-5. Same refine contract
    // as e_knn_refine: fully hash-checked, misses are the only error.
    "e_knn_mrl" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      Ann.refineTopK(
        Ann.bruteTopK(trunc, trunc.filter(col("vec_id") < 10), k = 20),
        emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // IVF-PQ: coarse quantizer (pinned, nlist=16) restricts candidates
    // to each query's top-2 lists; ADC over the m=8 PQ codes scores
    // them. The oracle composes the IVF assignment mirror and the PQ
    // encode/ADC mirror over the shared pinned centroid set.
    "e_knn_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfPqTopK(Ann.pinnedCentroids(emb, nlist = 16),
        Ann.pinnedCodebooks(emb, m = 8, ksub = 16, dim = 64),
        emb, emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
    }),
    // Residual IVF-PQ (the faiss-IndexIVFPQ scoring convention): codes
    // quantize residuals against the assigned coarse centroid;
    // per-(query, probed-list) ADC tables. Codebooks are the pinned
    // residuals of ids 16..31 — DISJOINT from the 16 coarse-centroid
    // ids, whose residuals are identically zero (self-assignment)
    // and would make the gate vacuous.
    "e_knn_ivfpq_res" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Ann.pinnedCentroids(emb, nlist = 16)
      Ann.ivfPqResidualTopK(cents,
        Ann.pinnedResidualCodebooks(cents, emb, m = 8, ksub = 16, dim = 64,
          skip = 16),
        emb, emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
    }),
    // IVF-PQ + refine — the production search shape end to end (faiss
    // IndexRefineFlat over IndexIVFPQ): the coarse quantizer restricts
    // to nprobe=2 lists, ADC over-fetches 20 code-ranked candidates,
    // exact cosine re-ranks them to the final top-5. Composes the two
    // gate-verified stages; same full-hash contract as e_knn_refine
    // (quantization error cannot reorder the exact re-rank — only a
    // candidate miss changes the answer, and then both engines miss
    // identically).
    "e_knn_ivfpq_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      Ann.refineTopK(
        Ann.ivfPqTopK(Ann.pinnedCentroids(emb, nlist = 16),
          Ann.pinnedCodebooks(emb, m = 8, ksub = 16, dim = 64),
          emb, q, k = 20, nprobe = 2),
        emb, q, k = 5)
    }),
    // IVF index-build balance check: corpus rows per inverted list
    // under the pinned quantizer.
    "e_ivf_stats" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfListStats(Ann.pinnedCentroids(emb, nlist = 16), emb)
        .select(col("list_id").cast("long").as("list_id"), col("n_vectors"))
    }),
    // Cluster-stratified sample: <= 5 exemplars per inverted list under
    // the pinned quantizer, ranked by a deterministic md5 draw — the
    // diversity-aware curation primitive (caps every embedding-space
    // region instead of reproducing corpus skew like a uniform sample).
    "e_cluster_sample" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.clusterSample(Ann.pinnedCentroids(emb, nlist = 16), emb,
        perList = 5)
    }),
    // JL random-projection top-k: exact cosine ranking in the 16-dim
    // projected space (4× cheaper per distance, distances preserved
    // within (1±ε)) — the dimensionality-cut scale path beside the
    // sign-bit LSH family. Brute within projected space is the gate
    // shape; production composes with the IVF/LSH blockers.
    "e_knn_rp" -> ((s, dir) => {
      val proj = Ann.randomProject(Tables.embeddings(s, dir), k = 16,
        seed = 7L)
      Ann.bruteTopK(proj, proj.filter(col("vec_id") < 10), k = 5,
        vecCol = "p")
    }),
    // Linear probe: nearest-class-centroid classification of every
    // vector — the closed-form "are these embeddings any good"
    // diagnostic, per-row so the confusion structure is queryable.
    "e_centroid_probe" -> ((s, dir) =>
      Ann.centroidProbe(Tables.embeddings(s, dir))),
    // Embedding outlier scores: per-cluster z-score of the squared
    // distance to the assigned centroid — the mislabeled/garbage-vector
    // curation signal, normalized within each embedding-space region.
    "e_emb_outliers" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.embOutliers(Ann.pinnedCentroids(emb, nlist = 16), emb)
    }),
    // SemDeDup semantic dedup: pinned-quantizer clusters, drop any
    // vector with a lower-id same-cluster neighbor at cosine >= 0.35
    // — pairwise comparison never crosses a cluster boundary, and the
    // cluster COUNT scales with the corpus (Ann.adaptiveNlist) so the
    // per-cluster quadratic stays a bounded constant per row.
    "e_semdedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nlist = Ann.adaptiveNlist(emb.count())
      Ann.semDedup(Ann.pinnedCentroids(emb, nlist), emb, tau = 0.35)
    }),
    // Winnowing-fingerprint candidate pairs: docs sharing >= 3 selected
    // fingerprints (Schleimer winnowing guarantees shared substrings of
    // the window length surface here) — the plagiarism-style dedup pass.
    // Boilerplate fingerprints (df > 50) are excluded from blocking,
    // like the cdc/ngram paths: one hot key shared by k docs otherwise
    // joins k²-quadratically. (At sf0.01 max df is 7 — the guard is
    // output-neutral at gate scale, load-bearing at 100 TB.)
    "t_winnow_pairs" -> ((s, dir) => {
      // Hot-key-SAFE shape, single tokenize: the exploded fingerprints
      // repartition on (doc_id, fp) — a spread key, so a 10^8-df
      // boilerplate fp's stratum lands across many tasks, never one.
      // That exchange is the ONE materialization of the tokenize+
      // winnow pass: the df-count branch and both self-join sides all
      // read it byte-identically (exchange/stage reuse), so the pass
      // compiles and runs once. The df count aggregates with map-side
      // partials into a tiny fp-keyed shuffle, and [[Dedup.dropHotKeys]]
      // (outer join + IsNull — an anti join would be PUSHED BELOW the
      // repartition, splitting the shared exchange) drops hot rows
      // BEFORE the join's fp-clustered exchange — no task ever holds
      // a hot stratum. (A window-count over an fp-partitioned exchange
      // would funnel the boilerplate stratum through ONE task just to
      // discard it; a .cache() leaks pinned partitions — both rejected
      // forms. The explicit not-null guards below the exchange keep
      // every branch's subtree copy identical: the self-join would
      // otherwise infer them on its branches only, and reuse is lost.)
      val fps = Tables.fanOut(Tables.documents(s, dir))
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("sh", TextOps.shingles(col("toks"), 3))
        .withColumn("hs", transform(col("sh"), s => TextOps.h60(s)))
        .select(col("doc_id"),
          explode(TextOps.winnowFromHashes(col("hs"), 4)).as("fp"))
        .filter(col("doc_id").isNotNull && col("fp").isNotNull)
        .repartition(col("doc_id"), col("fp"))
      val cold = Dedup.dropHotKeys(fps, "fp", 50L)
      cold.as("a").join(cold.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
    }),
    // Count-min sketch: fixed depth×width counter grid estimates token
    // frequencies where the exact vocabulary doesn't fit (t_vocab's
    // shuffle is O(vocab); the sketch's is O(depth×width) after
    // map-side combine). Gate probes the exact top-20 heavy hitters —
    // est_cnt ≥ cnt with md5-deterministic collisions, so the oracle
    // re-derives the grid and the estimates bit-identically.
    "t_cms" -> ((s, dir) => {
      // One tokenize pass: the per-token counts the top-20 probe side
      // needs anyway also rebuild the grid (cellsFromCounts is
      // bit-identical to cells — a cell is the sum of its colliding
      // tokens' counts), so both branches read the one (tok, cnt)
      // aggregation exchange back instead of re-reading the corpus.
      val tokCounts = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val grid = graft.sketch.CountMin.cellsFromCounts(tokCounts, "tok", "cnt",
        depth = 4, width = 1024)
      val probes = tokCounts.orderBy(col("cnt").desc, col("tok")).limit(20)
      graft.sketch.CountMin.estimate(grid, probes, "tok",
          depth = 4, width = 1024)
        .select(col("tok"), col("cnt"), col("est_cnt"))
    }))

  def oracleSql: Map[String, String] = Map(
    "t_tokens" -> (T +
      """SELECT doc_id, len(t) AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
        | len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
        |FROM toks""".stripMargin),
    "t_quality" -> (T + QualitySelect),
    "t_classifier" -> Classifier.oracleSql(
      "case when lang = 'en' then cast(1 as double) else cast(0 as double) end"),
    "d_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM o WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM o WHERE doc_id % 13 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    md5(o.text) AS h_old, md5(n.text) AS h_new
        |  FROM o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN h_old IS NULL THEN 'added'
        |       WHEN h_new IS NULL THEN 'removed'
        |       WHEN h_old <> h_new THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM j""".stripMargin,
    "t_classifier_auc" -> Classifier.aucOracleSql(
      "case when lang = 'en' then cast(1 as double) else cast(0 as double) end"),
    // pct_stub_decode's oracle REPLICATES the engine's magic-byte
    // decode dispatch in SQL (the media bytes are exactly
    // encode(text, 'UTF-8') per Multimodal.fromDocuments, so the
    // dispatch is decidable on the text prefix): a full — non-stub,
    // non-'-hdr' — decode requires the modality's EXACT container
    // magic (r14, was loose 2-4-byte prefixes): image = GIF87a/GIF89a,
    // or BM with the BMP reserved bytes 7-10 all NUL (bare 'BM%' would
    // count any "BMW…" text as decodable; NULs cannot occur in real
    // text); PNG/JPEG magics can't appear in UTF-8 text at all;
    // audio = RIFF..WAVE, FORM..AIFF/AIFC (bare FORM is an IFF
    // container, not necessarily audio), or .snd — ID3/OggS only reach
    // '-hdr' walks, which the metric counts as stub-ish; video =
    // GIF87a/GIF89a only. RIFF..AVI is deliberately NOT counted as a
    // full decode: the engine tags non-MJPEG AVI payloads 'avi-hdr'
    // (stub-ish in the metric), and a UTF-8 text cannot carry a real
    // MJPEG stream, so AVI-from-text lands stub on both sides. The
    // check is the engine's PRE-dispatch: it assumes a magic-prefixed
    // payload also parses, which every real media fixture satisfies
    // and the all-text fixtures satisfy vacuously (verified: zero
    // magic-prefixed texts at every shipped SF). Unlike the pre-r13
    // constant-1.0 form this tracks the data — if a future fixture
    // carries decodable bytes, both sides move together.
    "p_dataset_card" -> (T + LangPredCtes +
      s""",
         |q AS ($QualitySelect),
         |c AS (SELECT t.doc_id, d.source, len(t.t) AS n_tok,
         |   len(d.text) AS n_chars, md5(d.text) AS h,
         |   ${contentBucketSql("d.text")}
         |     AS bucket
         | FROM documents d JOIN toks t USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(count(DISTINCT c.source) AS BIGINT) AS n_sources,
         | CAST(sum(c.n_tok) AS BIGINT) AS n_tokens,
         | CAST(sum(c.n_chars) AS BIGINT) AS n_chars,
         | round(avg(CASE WHEN lang.lang_pred = 'en' THEN 1.0 ELSE 0.0 END),
         |   4) AS pct_en,
         | round(avg(q.quality), 4) AS mean_quality,
         | round(1.0 - count(DISTINCT c.h) * 1.0 / count(*), 4) AS dup_rate,
         | CAST(sum(CASE WHEN bucket < 90 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_train,
         | CAST(sum(CASE WHEN bucket >= 90 AND bucket < 95 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_val,
         | CAST(sum(CASE WHEN bucket >= 95 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_test,
         | (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_media,
         | (SELECT round(avg(CASE WHEN
         |    CASE doc_id % 3
         |      WHEN 0 THEN (text LIKE 'GIF87a%' OR text LIKE 'GIF89a%'
         |                   OR (text LIKE 'BM%' AND substr(text, 7, 4) =
         |                       chr(0) || chr(0) || chr(0) || chr(0)))
         |      WHEN 1 THEN ((substr(text, 1, 4) = 'RIFF'
         |                    AND substr(text, 9, 4) = 'WAVE')
         |                   OR (substr(text, 1, 4) = 'FORM'
         |                       AND substr(text, 9, 4) IN ('AIFF', 'AIFC'))
         |                   OR text LIKE '.snd%')
         |      ELSE (text LIKE 'GIF87a%' OR text LIKE 'GIF89a%')
         |    END THEN 0.0 ELSE 1.0 END), 4)
         |  FROM documents) AS pct_stub_decode
         |FROM c JOIN lang USING (doc_id) JOIN q USING (doc_id)""".stripMargin),
    "p_wsample_k" -> (T + s""", q AS ($QualitySelect),
      |d AS (SELECT d.doc_id, d.source, q.quality,
      |  greatest(CAST(('0x' || substr(md5('aes#' || CAST(d.doc_id AS VARCHAR)),
      |    1, 12)) AS BIGINT) / 281474976710656.0, 1e-15) AS u
      | FROM documents d JOIN q USING (doc_id)),
      |k AS (SELECT doc_id, source, quality,
      |  round(ln(u) / (quality + 0.01), 6) AS wkey FROM d),
      |r AS (SELECT source, doc_id, quality,
      |  row_number() OVER (PARTITION BY source ORDER BY wkey DESC, doc_id)
      |    AS rank FROM k)
      |SELECT source, doc_id, quality, rank FROM r WHERE rank <= 5""".stripMargin),
    "t_blocklist" -> (T +
      """SELECT doc_id,
        | CAST(len(list_filter(t, x ->
        |   list_contains(['slow','leak','crash'], x))) AS BIGINT) AS n_hits,
        | CAST(len(list_intersect(list_distinct(t),
        |   ['slow','leak','crash'])) AS BIGINT) AS n_terms,
        | len(list_filter(t, x ->
        |   list_contains(['slow','leak','crash'], x))) > 0 AS flagged
        |FROM toks""".stripMargin),
    // ordered by quality ALONE (no doc_id tiebreak): ties share a
    // percent_rank, which is what the counts-table shape computes
    "t_quality_norm" -> (T +
      s""", q AS ($QualitySelect),
         |qq AS (SELECT q.doc_id, d.source, q.quality
         |       FROM q JOIN documents d USING (doc_id))
         |SELECT doc_id, source, quality,
         | round(percent_rank() OVER (PARTITION BY source
         |   ORDER BY quality), 6) AS pr
         |FROM qq""".stripMargin),
    "t_langid" -> (T + LangPredCtes +
      "\nSELECT doc_id, lang_pred FROM lang"),
    // memorization: distinct 3-gram shingle sets (the dedup family's
    // CTE), df per shingle, per-doc shared fraction
    "t_memorization" -> (T + ShingleHashCte +
      """ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY g)
        |SELECT doc_id, count(*) AS n_shingles,
        | count(CASE WHEN df > 1 THEN 1 END) AS n_shared,
        | round(count(CASE WHEN df > 1 THEN 1 END) * 1.0 / count(*), 4)
        |  AS frac
        |FROM ex JOIN df USING (g) GROUP BY doc_id""".stripMargin),
    // first BPE iteration: adjacent char-pair counts within words
    "t_bpe_merges" -> (T +
      """, tk AS (SELECT unnest(t) AS tok FROM toks),
        |pairs AS (SELECT unnest([tok[i:i+1] for i in range(1, len(tok))]) AS pair
        | FROM tk WHERE len(tok) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    "t_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "t_winnow" -> (T + WinnowCte +
      "SELECT doc_id, unnest(list_distinct(f)) AS fp FROM w"),
    "t_winnow_pairs" -> (T + WinnowCte +
      """, fp AS (SELECT doc_id, unnest(list_distinct(f)) AS fp FROM w),
        |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 50),
        |cold AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
    "t_winnow_lookup" -> (T + WinnowCte +
      """, ex AS (SELECT doc_id, unnest(list_distinct(f)) AS c FROM w),
        |corpus AS (SELECT * FROM ex WHERE doc_id % 5 <> 0),
        |probe AS (SELECT * FROM ex WHERE doc_id % 5 = 0),
        |hot AS (SELECT c FROM corpus GROUP BY c HAVING count(*) > 50),
        |cold AS (SELECT * FROM corpus WHERE c NOT IN (SELECT c FROM hot))
        |SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id, count(*) AS shared
        |FROM probe p JOIN cold c ON p.c = c.c
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
    "t_vocab" -> (T +
      """, x AS (SELECT doc_id, unnest(t) AS tok FROM toks)
        |SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
        |FROM x GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin),
    "t_vocab_coverage" -> (T +
      """, x AS (SELECT unnest(t) AS tok FROM toks),
        |vc AS (SELECT tok, count(*) AS n FROM x GROUP BY tok),
        |tt AS (SELECT sum(n) AS total FROM vc),
        |top AS (SELECT tok, n FROM vc ORDER BY n DESC, tok LIMIT 1000),
        |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank,
        |  sum(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
        | FROM top)
        |SELECT CAST(rank AS BIGINT) AS k, CAST(cum AS BIGINT) AS n_covered,
        | round(cum * 1.0 / total, 4) AS coverage
        |FROM rk, tt WHERE rank IN (10, 100, 1000)""".stripMargin),
    "t_zipf" -> (T +
      """, x AS (SELECT unnest(t) AS tok FROM toks),
        |tc AS (SELECT tok, count(*) AS n FROM x GROUP BY tok),
        |top AS (SELECT tok, n FROM tc ORDER BY n DESC, tok LIMIT 1000),
        |rk AS (SELECT n,
        |  row_number() OVER (ORDER BY n DESC, tok) AS rank FROM top)
        |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        | round(covar_pop(ln(rank), ln(n)) / var_pop(ln(rank)), 4)
        |   AS zipf_slope
        |FROM rk""".stripMargin),
    "t_drift" ->
      """WITH tk AS (SELECT
        |  CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'a' ELSE 'b' END AS grp,
        |  unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |                     x -> len(x) > 0)) AS tok
        | FROM documents),
        |c AS (SELECT tok,
        |  count(CASE WHEN grp = 'a' THEN 1 END) AS ca,
        |  count(CASE WHEN grp = 'b' THEN 1 END) AS cb
        | FROM tk GROUP BY tok),
        |t2 AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM c)
        |SELECT tok, ca, cb,
        | round((ca+1.0)/(na+v) * ln(((ca+1.0)/(na+v)) / ((cb+1.0)/(nb+v))), 6)
        |   AS kl
        |FROM c, t2 ORDER BY kl DESC, tok LIMIT 20""".stripMargin,
    "t_cms" -> (T +
      """, tk AS (SELECT unnest(t) AS tok FROM toks),
        |h AS (SELECT tok, rr.r,
        |  CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '#' || tok), 1, 15))
        |    AS BIGINT) % 1024 AS col
        | FROM tk CROSS JOIN range(4) rr(r)),
        |cells AS (SELECT r, col, CAST(count(*) AS BIGINT) AS cell
        | FROM h GROUP BY 1, 2),
        |top AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        | FROM tk GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 20),
        |p AS (SELECT top.tok, top.cnt, rr.r,
        |  CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '#' || top.tok), 1, 15))
        |    AS BIGINT) % 1024 AS col
        | FROM top CROSS JOIN range(4) rr(r))
        |SELECT p.tok, p.cnt, CAST(min(cells.cell) AS BIGINT) AS est_cnt
        |FROM p JOIN cells USING (r, col) GROUP BY 1, 2""".stripMargin),
    "d_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "d_dedup_canon" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |  AS canon_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY 1""".stripMargin,
    "p_curate" -> (T + LangPredCtes +
      s""",
         |q AS (SELECT doc_id, round(greatest(0.0,
         |  least(len(t)/100.0, 1.0)*0.5
         |  + (${langScoreSql(TextOps.EnStopwords)})*0.5
         |  - (CASE WHEN len(text)=0 THEN 0.0
         |     ELSE len(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))*1.0/len(text) END)
         |  ), 4) AS quality FROM toks),
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT q.doc_id, q.quality, lang.lang_pred
         |FROM q JOIN lang USING (doc_id) JOIN k ON k.doc_id = q.doc_id
         |WHERE q.quality >= 0.3 AND lang.lang_pred = 'en'""".stripMargin),
    // cross-modal curation: text gates from the p_curate CTEs, embedding
    // gates from the semdedup/outlier CTEs (same pinned quantizer);
    // docs without a vector pass the embedding gates vacuously
    "p_curate_emb" -> (T + IvfRankedCte.replaceFirst("WITH ", ", ") +
      LangPredCtes +
      s""",
         |q AS (SELECT doc_id, round(greatest(0.0,
         |  least(len(t)/100.0, 1.0)*0.5
         |  + (${langScoreSql(TextOps.EnStopwords)})*0.5
         |  - (CASE WHEN len(text)=0 THEN 0.0
         |     ELSE len(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))*1.0/len(text) END)
         |  ), 4) AS quality FROM toks),
         |asg AS (SELECT r.vec_id, r.v, r.cid AS list_id, c.cv
         | FROM ranked r JOIN cent c ON c.cid = r.cid WHERE r.cr = 1),
         |rem AS (SELECT DISTINCT b.vec_id
         | FROM asg a JOIN asg b
         |   ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         | WHERE list_inner_product(a.v, b.v)
         |   / (sqrt(list_inner_product(a.v, a.v))
         |      * sqrt(list_inner_product(b.v, b.v))) >= 0.35),
         |dz AS (SELECT vec_id, list_id,
         |  (list_inner_product(v, v) - 2.0 * list_inner_product(v, cv))
         |    + list_inner_product(cv, cv) AS d2
         | FROM asg),
         |zz AS (SELECT vec_id,
         |  round((d2 - avg(d2) OVER (PARTITION BY list_id))
         |    / stddev_pop(d2) OVER (PARTITION BY list_id), 4) + 0.0 AS z
         | FROM dz)
         |SELECT q.doc_id, q.quality, lang.lang_pred,
         | (q.quality >= 0.3 AND lang.lang_pred = 'en') AS text_keep,
         | (CASE WHEN a2.vec_id IS NULL THEN true
         |       ELSE rem.vec_id IS NULL END) AS sem_keep,
         | (CASE WHEN zz.vec_id IS NULL THEN true
         |       ELSE abs(zz.z) <= 2.5 END) AS z_ok,
         | ((q.quality >= 0.3 AND lang.lang_pred = 'en')
         |  AND (CASE WHEN a2.vec_id IS NULL THEN true
         |       ELSE rem.vec_id IS NULL END)
         |  AND (CASE WHEN zz.vec_id IS NULL THEN true
         |       ELSE abs(zz.z) <= 2.5 END)) AS keep
         |FROM q JOIN lang USING (doc_id)
         |LEFT JOIN asg a2 ON a2.vec_id = q.doc_id
         |LEFT JOIN rem ON rem.vec_id = q.doc_id
         |LEFT JOIN zz ON zz.vec_id = q.doc_id""".stripMargin),
    "d_cdc_chunks" -> (CdcChunksCte +
      """SELECT doc_id, idx, CAST(length(chunk) AS BIGINT) AS clen,
        | md5(chunk) AS chash
        |FROM chunks""".stripMargin),
    "d_cdc_pairs" -> (CdcChunksCte +
      """, ex AS (SELECT DISTINCT doc_id, md5(chunk) AS c FROM chunks),
        |hot AS (SELECT c FROM ex GROUP BY c HAVING count(*) > 50),
        |cold AS (SELECT * FROM ex WHERE c NOT IN (SELECT c FROM hot))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM cold a JOIN cold b ON a.c = b.c AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
    "d_cdc_lookup" -> (CdcChunksCte +
      """, ex AS (SELECT DISTINCT doc_id, md5(chunk) AS c FROM chunks),
        |corpus AS (SELECT * FROM ex WHERE doc_id % 5 <> 0),
        |probe AS (SELECT * FROM ex WHERE doc_id % 5 = 0),
        |hot AS (SELECT c FROM corpus GROUP BY c HAVING count(*) > 50),
        |cold AS (SELECT * FROM corpus WHERE c NOT IN (SELECT c FROM hot))
        |SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id, count(*) AS shared
        |FROM probe p JOIN cold c ON p.c = c.c
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
    "d_dup_spans" -> (T + DupSpansCte +
      """SELECT doc_id, span_start, span_end, span_tokens, n_windows
        |FROM spans""".stripMargin),
    "d_boiler_strip" -> (T +
      """, seg AS (SELECT doc_id,
        |  unnest(CASE WHEN len(t) = 0 THEN []::BIGINT[]
        |   ELSE range(0, CAST(ceil(len(t)/4.0) AS BIGINT)) END) AS seg_idx,
        |  unnest(CASE WHEN len(t) = 0 THEN []::VARCHAR[]
        |   ELSE [array_to_string(t[CAST(g*4+1 AS INT):CAST(g*4+4 AS INT)], ' ')
        |         for g in range(0, CAST(ceil(len(t)/4.0) AS BIGINT))] END) AS seg
        | FROM toks),
        |hot AS (SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM seg)
        | GROUP BY seg HAVING count(*) >= 5),
        |m AS (SELECT s.doc_id, s.seg_idx, s.seg, h.seg IS NOT NULL AS is_hot
        | FROM seg s LEFT JOIN hot h ON s.seg = h.seg),
        |a AS (SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT is_hot THEN seg END, ' '
        |    ORDER BY seg_idx), '') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        | FROM m GROUP BY doc_id)
        |SELECT doc_id, clean_text, n_seg, n_dropped FROM a""".stripMargin),
    "p_decontam_cut" -> (T +
      """, win AS (SELECT doc_id,
        |  unnest(CASE WHEN len(t) < 8 THEN []::BIGINT[]
        |   ELSE range(1, len(t)-6) END) AS pos,
        |  unnest(CASE WHEN len(t) < 8 THEN []::VARCHAR[]
        |   ELSE [md5(array_to_string(t[i:i+7], ' '))
        |         for i in range(1, len(t)-6)] END) AS wh
        | FROM toks),
        |bh AS (SELECT DISTINCT w.wh FROM win w JOIN documents d USING (doc_id)
        | WHERE d.source = 'src1'),
        |occ AS (SELECT w.doc_id, w.pos FROM win w JOIN documents d USING (doc_id)
        | WHERE d.source <> 'src1' AND w.wh IN (SELECT wh FROM bh)),
        |g AS (SELECT doc_id, pos,
        |  CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= pos
        |   THEN 0 ELSE 1 END AS brk FROM occ),
        |isl AS (SELECT doc_id, pos,
        |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM g),
        |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos)+8 AS span_end
        | FROM isl GROUP BY doc_id, island),
        |tk AS (SELECT doc_id, unnest(t) AS tok,
        |  unnest(range(1, len(t)+1)) AS pos FROM toks),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tk k
        | WHERE NOT EXISTS (SELECT 1 FROM spans s
        |  WHERE s.doc_id = k.doc_id
        |   AND k.pos >= s.span_start AND k.pos < s.span_end)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        | FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.source <> 'src1'""".stripMargin),
    // The farthest-point distances are computed INSIDE each recursive
    // step against the ≤8 already-selected ids (|sel|×N rows/step)
    // rather than via an N×N all-pairs CTE: at sf1 that CTE is 400M
    // rows re-derived per step (oracle timeout). The selected side is
    // an UNNEST of sel.ids joined back to e — a correlated
    // `list_contains(sel.ids, a.vec_id)` filter is NOT pushed below
    // the a×b cross by DuckDB (it re-ran the full N×N product per
    // step, timing out again at 10× scale); the unnest-join pins the
    // a side to |sel| rows before the cross. Same d2 expression, same
    // min/argmax/tie-break → identical selection.
    "e_kcenter" ->
      """WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, list_inner_product(v, v) AS nn
        |  FROM e),
        |seed AS (SELECT min(vec_id) AS s FROM e),
        |sel(step, ids) AS (
        |  SELECT CAST(1 AS BIGINT), [s] FROM seed
        |  UNION ALL
        |  SELECT step + 1, list_append(ids, (
        |    SELECT x.ib FROM (
        |      SELECT b.vec_id AS ib,
        |        min(na.nn + nb.nn - 2*list_inner_product(a.v, b.v)) AS md
        |      FROM (SELECT unnest(sel.ids) AS sid) s0
        |      JOIN e a ON a.vec_id = s0.sid
        |      JOIN n na ON na.vec_id = a.vec_id,
        |           e b JOIN n nb ON nb.vec_id = b.vec_id
        |      WHERE NOT list_contains(sel.ids, b.vec_id)
        |      GROUP BY b.vec_id) x
        |    ORDER BY x.md DESC, x.ib
        |    LIMIT 1))
        |  FROM sel WHERE step < 8)
        |SELECT CAST(t.o AS BIGINT) AS sel_rank,
        | CAST(ids[CAST(t.o AS INT)] AS BIGINT) AS vec_id
        |FROM (SELECT ids FROM sel WHERE step = 8) s,
        | unnest(range(1, 9)) AS t(o)""".stripMargin,
    "d_cut_spans" -> (T + DupSpansCte +
      """, tk AS (SELECT doc_id, unnest(t) AS tok,
        |  unnest(range(1, len(t)+1)) AS pos FROM toks),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tk k
        | WHERE NOT EXISTS (SELECT 1 FROM spans s
        |  WHERE s.doc_id = k.doc_id
        |   AND k.pos >= s.span_start AND k.pos < s.span_end)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos)
        |  AS clean_text FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
    "p_split" ->
      s"""SELECT doc_id, bucket,
         | CASE WHEN bucket < 90 THEN 'train'
         |      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ${contentBucketSql("text")} AS bucket
         | FROM documents)""".stripMargin,
    "p_shards" -> (T +
      """, sh2 AS (SELECT
        |  CAST(('0x' || substr(md5('s#' || CAST(doc_id AS VARCHAR)), 1, 4))
        |    AS BIGINT) % 16 AS shard,
        |  len(t) AS ntok, len(text) AS nch
        | FROM toks)
        |SELECT shard, count(*) AS n_docs,
        | CAST(sum(ntok) AS BIGINT) AS n_tokens,
        | CAST(sum(nch) AS BIGINT) AS n_chars
        |FROM sh2 GROUP BY shard""".stripMargin),
    "p_wsample" ->
      """WITH s AS (SELECT source, count(*) AS n_src FROM documents
        |  GROUP BY source),
        |e AS (SELECT source, sum(n_src) OVER () * 1.0 /
        |  (count(*) OVER () * n_src) AS mix_w FROM s),
        |cl AS (SELECT md5(text) AS h, count(*) AS csz FROM documents
        |  GROUP BY md5(text)),
        |d AS (SELECT doc_id, source,
        |  least(0.6 * e.mix_w / cl.csz, 1.0) AS wgt,
        |  CAST(('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 12))
        |    AS BIGINT) / 281474976710656.0 AS u
        | FROM documents JOIN e USING (source)
        |   JOIN cl ON cl.h = md5(text))
        |SELECT doc_id, source, round(wgt, 6) AS wgt FROM d
        |WHERE u < wgt""".stripMargin,
    "p_budget" ->
      """WITH tk AS (SELECT source, doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                       x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |  md5('b#' || CAST(doc_id AS VARCHAR)) AS hh
        | FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY hh, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM tk)
        |SELECT source, doc_id, n_tok, cum FROM c WHERE cum <= 800""".stripMargin,
    "p_shuffle" ->
      """SELECT doc_id, source,
        | row_number() OVER (
        |   ORDER BY md5('e1#' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS idx
        |FROM documents""".stripMargin,
    "p_pack" ->
      """WITH tk AS (SELECT source, doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                       x -> len(x) > 0)) AS BIGINT) AS n_tok
        | FROM documents),
        |o AS (SELECT source, doc_id, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS start_off
        | FROM tk)
        |SELECT source, doc_id, n_tok, start_off,
        |  start_off // 512 AS bin_first,
        |  (start_off + greatest(n_tok, 1) - 1) // 512 AS bin_last
        |FROM o""".stripMargin,
    "p_decontam" ->
      """WITH toks AS (SELECT doc_id, source,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS (SELECT doc_id, source,
        |  list_distinct([CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT)
        |                 for i in range(1, len(t)-6)]) AS s
        | FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src1'),
        |cand AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src1')
        |SELECT doc_id, count(*) AS n_hits FROM cand
        |WHERE g IN (SELECT g FROM bench) GROUP BY doc_id""".stripMargin,
    // the df <= 300 blocking cap mirrors Dedup.DefaultShingleMaxDf: a
    // no-op at every tested SF (max df at 10x bench scale is 168) but
    // the contract the engine actually runs at any scale
    "d_ngram_jaccard" -> (T + ShingleHashCte +
      """ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |ex AS (SELECT ex0.* FROM ex0 JOIN (SELECT g FROM ex0
        |  GROUP BY g HAVING count(*) <= 300) k USING (g)),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |  inter*1.0/(len(sa.s)+len(sb.s)-inter) AS jac
        | FROM shared JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5""".stripMargin),
    "d_containment" -> (T + ShingleHashCte +
      """ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |ex AS (SELECT ex0.* FROM ex0 JOIN (SELECT g FROM ex0
        |  GROUP BY g HAVING count(*) <= 300) k USING (g)),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b,
        |  inter*1.0/len(sa.s) AS ca, inter*1.0/len(sb.s) AS cb
        | FROM shared JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, round(ca, 4) AS cont_a, round(cb, 4) AS cont_b
        |FROM c WHERE greatest(ca, cb) >= 0.8""".stripMargin),
    "d_dup_rate" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_unique,
        | round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4)
        |   AS dup_rate
        |FROM documents GROUP BY source""".stripMargin,
    "d_dupgram_frac" -> (T + ShingleHashCte +
      """ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |dfc AS (SELECT g, count(*) AS df FROM ex GROUP BY g)
        |SELECT ex.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)*1.0/count(*), 4) AS dup_frac
        |FROM ex JOIN dfc USING (g) GROUP BY ex.doc_id""".stripMargin),
    "d_minhash_lsh" -> (T + ShingleHashCte +
      s"""sig AS (SELECT doc_id, s,
         |  [${Dedup.hashParams(16).map { case (a, b) =>
              s"list_min([($a*(h%${Dedup.P})+$b)%${Dedup.P} for h in s])"
            }.mkString(",\n   ")}] AS g
         | FROM sh),
        |banded AS (SELECT doc_id, s,
        |  unnest([md5(b || ':' || array_to_string(g[b*4+1:b*4+4], '_')) for b in range(0, 4)]) AS band
        | FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |  len(list_intersect(sa.s, sb.s))*1.0
        |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
        | FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5""".stripMargin),
    "d_lev_pairs" -> (T + ShingleHashCte +
      s"""sig AS (SELECT doc_id, s,
         |  [${Dedup.hashParams(16).map { case (a, b) =>
              s"list_min([($a*(h%${Dedup.P})+$b)%${Dedup.P} for h in s])"
            }.mkString(",\n   ")}] AS g
         | FROM sh),
        |banded AS (SELECT doc_id, s,
        |  unnest([md5(b || ':' || array_to_string(g[b*4+1:b*4+4], '_')) for b in range(0, 4)]) AS band
        | FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |  len(list_intersect(sa.s, sb.s))*1.0
        |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
        | FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT j.id_a, j.id_b,
        |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
        |FROM j JOIN documents da ON da.doc_id = j.id_a
        |       JOIN documents db ON db.doc_id = j.id_b
        |WHERE jac >= 0.3 AND levenshtein(da.text, db.text) <= 40""".stripMargin),
    "d_minhash_lookup" -> (T + ShingleHashCte +
      s"""sig AS (SELECT doc_id, s,
         |  [${Dedup.hashParams(16).map { case (a, b) =>
              s"list_min([($a*(h%${Dedup.P})+$b)%${Dedup.P} for h in s])"
            }.mkString(",\n   ")}] AS g
         | FROM sh),
        |banded AS (SELECT doc_id, s,
        |  unnest([md5(b || ':' || array_to_string(g[b*4+1:b*4+4], '_')) for b in range(0, 4)]) AS band
        | FROM sig),
        |cand AS (SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id
        | FROM banded p JOIN banded c ON p.band = c.band
        | WHERE p.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        |j AS (SELECT probe_id, corpus_id,
        |  len(list_intersect(sa.s, sb.s))*1.0
        |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
        | FROM cand JOIN sh sa ON sa.doc_id = probe_id JOIN sh sb ON sb.doc_id = corpus_id)
        |SELECT probe_id, corpus_id, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5""".stripMargin),
    "d_group_sizes" -> (DupGroupCtes + """
      |, gs AS (SELECT group_id, CAST(count(*) AS BIGINT) AS group_size
      |  FROM grp GROUP BY group_id)
      |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
      |FROM gs GROUP BY group_size""".stripMargin),
    "d_dup_groups" -> (DupGroupCtes +
      "\nSELECT doc_id, group_id FROM grp"),
    // same oracle as d_dup_groups: the distributed min-label
    // propagation must produce the identical labeling
    "d_dup_groups_dist" -> (DupGroupCtes +
      "\nSELECT doc_id, group_id FROM grp"),
    // keep-best: near-dup groups joined to the rounded quality score,
    // winner = max(quality) with ties to the lowest doc_id. (Window
    // argmax here; the Spark side is a max(struct) aggregate — same
    // total order because the score is rounded identically first.)
    "d_keep_best" -> (DupGroupCtes +
      s""",
         |q AS ($QualitySelect),
         |m AS (SELECT g.group_id, g.doc_id, q.quality
         |  FROM grp g JOIN q USING (doc_id)),
         |rk AS (SELECT group_id, doc_id, quality,
         |  row_number() OVER (PARTITION BY group_id
         |    ORDER BY quality DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY group_id) AS n_members
         | FROM m)
         |SELECT group_id, doc_id AS keep_id, quality AS keep_quality,
         |  n_members
         |FROM rk WHERE rn = 1""".stripMargin),
    "d_dup_groups_multi" -> (
      T.replaceFirst("WITH ", "WITH RECURSIVE ") + ShingleHashCte +
      s"""msig AS (SELECT doc_id, s,
         |  [${Dedup.hashParams(16).map { case (a, b) =>
              s"list_min([($a*(h%${Dedup.P})+$b)%${Dedup.P} for h in s])"
            }.mkString(",\n   ")}] AS g
         | FROM sh),
        |mbanded AS (SELECT doc_id, s,
        |  unnest([md5(b || ':' || array_to_string(g[b*4+1:b*4+4], '_')) for b in range(0, 4)]) AS band
        | FROM msig),
        |mcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM mbanded a JOIN mbanded b ON a.band = b.band AND a.doc_id < b.doc_id),
        |mj AS (SELECT id_a, id_b,
        |  len(list_intersect(sa.s, sb.s))*1.0
        |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
        | FROM mcand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b),
        |mpairs AS (SELECT id_a, id_b FROM mj WHERE jac >= 0.5)""".stripMargin +
      SimhashHsCte +
      s""", ssigs AS ($SimhashSigSelect),
         |sbands AS (SELECT doc_id, sig,
         |  unnest([CAST(b AS VARCHAR) || ':' ||
         |          CAST((sig // (CAST(1 AS BIGINT) << (b*15))) % 32768 AS VARCHAR)
         |          for b in range(0, 4)]) AS band
         | FROM ssigs),
         |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.sig AS siga, b.sig AS sigb
         | FROM sbands a JOIN sbands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |spairs AS (SELECT id_a, id_b FROM scand
         | WHERE bit_count(xor(siga, sigb)) <= 3),
         |""".stripMargin +
      CdcChunksCte.replaceFirst("WITH ", "") +
      """, cex AS (SELECT DISTINCT doc_id, md5(chunk) AS c FROM chunks),
        |hot AS (SELECT c FROM cex GROUP BY c HAVING count(*) > 50),
        |cold AS (SELECT * FROM cex WHERE c NOT IN (SELECT c FROM hot)),
        |cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM cold a JOIN cold b ON a.c = b.c AND a.doc_id < b.doc_id
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |allp AS (SELECT id_a, id_b FROM mpairs
        |  UNION SELECT id_a, id_b FROM spairs
        |  UNION SELECT id_a, id_b FROM cpairs),
        |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM allp
        |  UNION SELECT id_b, id_a FROM allp),
        |reach AS (SELECT DISTINCT a AS n, a AS m FROM e
        |  UNION SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
        |grp AS (SELECT n AS doc_id, min(m) AS group_id FROM reach GROUP BY n)
        |SELECT doc_id, group_id FROM grp""".stripMargin),
    "p_split_safe" -> (DupGroupCtes + """,
      |sp AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS gid
      |  FROM documents d LEFT JOIN grp g USING (doc_id))
      |SELECT doc_id, gid, bucket,
      | CASE WHEN bucket < 90 THEN 'train'
      |      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, gid,
      |  CAST(('0x' || substr(md5('g#' || CAST(gid AS VARCHAR)), 1, 4))
      |    AS BIGINT) % 100 AS bucket FROM sp)""".stripMargin),
    "d_simhash" -> (T + SimhashHsCte + SimhashSigSelect),
    "d_simhash_pairs" -> (T + SimhashHsCte +
      s""", sigs AS ($SimhashSigSelect),
         |bands AS (SELECT doc_id, sig,
         |  unnest([CAST(b AS VARCHAR) || ':' ||
         |          CAST((sig // (CAST(1 AS BIGINT) << (b*15))) % 32768 AS VARCHAR)
         |          for b in range(0, 4)]) AS band
         | FROM sigs),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.sig AS siga, b.sig AS sigb
         | FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(siga, sigb)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(siga, sigb)) <= 3""".stripMargin),
    "d_simhash_lookup" -> (T + SimhashHsCte +
      s""", sigs AS ($SimhashSigSelect),
         |bands AS (SELECT doc_id, sig,
         |  unnest([CAST(b AS VARCHAR) || ':' ||
         |          CAST((sig // (CAST(1 AS BIGINT) << (b*15))) % 32768 AS VARCHAR)
         |          for b in range(0, 4)]) AS band
         | FROM sigs),
         |cand AS (SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id,
         |  p.sig AS sigp, c.sig AS sigc
         | FROM bands p JOIN bands c ON p.band = c.band
         | WHERE p.doc_id % 5 = 0 AND c.doc_id % 5 <> 0)
         |SELECT probe_id, corpus_id, CAST(bit_count(xor(sigp, sigc)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(sigp, sigc)) <= 3""".stripMargin),
    "e_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT qid, e.vec_id AS nid,
        |  list_inner_product(qv, e.v)
        |   / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS sim
        | FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin,
    "e_cos_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_inner_product(a.v, b.v)
        |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.4""".stripMargin,
    "e_lsh_pairs" -> lshPairsOracle,
    "e_dup_groups" -> eDupGroupsOracle,
    "e_knn_lsh" -> lshKnnOracle,
    "e_knn_ivf" -> ivfKnnOracle,
    // The oracle states the recall CONTRACT (every query recalls >= 4
    // of its 5 exact neighbors); the Spark side measures the trained
    // index against brute force and must meet it.
    "e_knn_ivf_trained" ->
      """SELECT vec_id AS qid, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "e_knn_ivf_kmpar" ->
      """SELECT vec_id AS qid, CAST(1 AS BIGINT) AS recall_floor_ok,
        | CAST(1 AS BIGINT) AS phi_beats_baseline
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "e_label_stats" ->
      """WITH d AS (SELECT label, CAST(t.i AS INT) AS pos,
        |             embedding[CAST(t.i AS INT)]::DOUBLE AS v
        |           FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)),
        |dm AS (SELECT label, pos, avg(v) AS m FROM d GROUP BY 1, 2),
        |c AS (SELECT label, sum(m*m) AS c2 FROM dm GROUP BY 1),
        |st AS (SELECT label, count(*) AS n,
        |         avg(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                CAST(embedding AS DOUBLE[]))) AS msq
        |       FROM embeddings GROUP BY 1)
        |SELECT st.label, n, round(sqrt(c2), 4) AS centroid_norm,
        |       round(msq - c2, 4) AS inertia
        |FROM st JOIN c USING (label)""".stripMargin,
    "e_knn_sq8" ->
      """WITH sc AS (SELECT vec_id,
        |  list_max([abs(x::DOUBLE) for x in embedding])/127.0 AS s
        | FROM embeddings),
        |cd AS (SELECT e.vec_id,
        |  CASE WHEN s > 0
        |   THEN [floor(x::DOUBLE / s + 0.5) for x in embedding]
        |   ELSE [0.0 for x in embedding] END AS c
        | FROM embeddings e JOIN sc USING (vec_id)),
        |n AS (SELECT vec_id, c,
        |  sqrt(list_inner_product(c, c)) AS nrm FROM cd),
        |p AS (SELECT q.vec_id AS qid, b.vec_id AS nid,
        |  list_inner_product(q.c, b.c) / (q.nrm * b.nrm) AS sim
        | FROM n q, n b WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        | FROM p)
        |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin,
    "e_knn_ivfsq" -> ivfSq8KnnOracle,
    "e_knn_pq" -> pqKnnOracle,
    "e_knn_refine" -> refineKnnOracle,
    "e_knn_ivfpq" -> ivfPqKnnOracle,
    "e_knn_ivfpq_refine" -> ivfPqRefineKnnOracle,
    "e_knn_ivfpq_res" -> ivfPqResKnnOracle,
    "e_ivf_stats" -> ivfStatsOracle,
    "e_cluster_sample" -> clusterSampleOracle,
    "e_semdedup" -> semDedupOracle,
    "e_emb_outliers" -> embOutliersOracle,
    "e_centroid_probe" -> centroidProbeOracle,
    "e_knn_rp" -> rpKnnOracle,
    "e_knn_lsh_mp" -> lshMultiProbeOracle,
    "e_knn_mrl" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |t AS (SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM t WHERE vec_id < 10),
        |s AS (SELECT qid, t.vec_id AS nid,
        |  list_inner_product(qv, t.v)
        |   / (sqrt(list_inner_product(qv, qv))
        |      * sqrt(list_inner_product(t.v, t.v))) AS sim
        | FROM q, t WHERE t.vec_id <> qid),
        |r AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        | FROM s),
        |cand AS (SELECT qid, nid FROM r WHERE rank <= 20),
        |f AS (SELECT c.qid, c.nid,
        |  list_inner_product(a.v, b.v)
        |   / (sqrt(list_inner_product(a.v, a.v))
        |      * sqrt(list_inner_product(b.v, b.v))) AS sim
        | FROM cand c JOIN e a ON a.vec_id = c.qid
        |   JOIN e b ON b.vec_id = c.nid),
        |r2 AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        | FROM f)
        |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r2
        |WHERE rank <= 5""".stripMargin)

  /** LSH config shared by the Spark queries and the SQL oracles — one
    * source of truth for the table count AND the adaptive-sizing knobs.
    * The engine-side gate calls below pass these EXPLICITLY (not via
    * `Ann`'s parameter defaults) and [[lshSigCte]] interpolates the
    * same values, so the two sides cannot be configured apart: changing
    * a knob here re-sizes the engine's ladder and the oracle's replay
    * together, and using the documented explicit-`maxPlanes` escape
    * hatch in a gate is a one-line change that the oracle follows. */
  private val LshTables = 8
  private val LshTargetLoad = 64L
  private val LshMinPlanes = 6
  private val LshMaxPlanes = Ann.DefaultMaxPlanes

  /** Shared CTE prefix: vectors + per-table LSH signatures with the
    * fixed-seed MASTER plane coefficients ([[Ann.DefaultMaxPlanes]]
    * per table, the 12-plane historical base + the seed+1 continuation
    * — [[Ann.masterDraw]]) interpolated into the SQL and masked down
    * to the corpus-adaptive plane count — `pl.np` replays
    * [[Ann.lshAutoPlanes]]'s integer threshold scan (smallest p in
    * [LshMinPlanes, LshMaxPlanes] with LshTargetLoad·2^p ≥ count(*)),
    * so the oracle rebuilds the identical buckets at every scale
    * factor. All three sizing knobs interpolate from the shared
    * constants the engine-side gates pass — see [[LshTables]]. */
  private def lshSigCte: String = {
    val maxP = LshMaxPlanes
    val hp = Ann.masterDraw(tables = LshTables, dim = 64, seed = 42L,
      maxPlanes = maxP)
    val sigCols = hp.zipWithIndex.map { case (tp, t) =>
      val terms = tp.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN $i < pl.np AND list_inner_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"$terms AS s_$t"
    }.mkString(",\n ")
    val planeVals = (LshMinPlanes to maxP).map(p => s"($p)").mkString(",")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pl AS (SELECT min(p) AS np
       |  FROM (VALUES $planeVals) t(p),
       |       (SELECT count(*) AS n FROM e) c
       |  WHERE $LshTargetLoad * (1 << p) >= c.n OR p = $maxP),
       |sig AS (SELECT vec_id, v,
       | $sigCols
       | FROM e, pl)""".stripMargin
  }

  private def lshAnyMatch(a: String, b: String): String =
    (0 until LshTables).map(t => s"$a.s_$t = $b.s_$t").mkString(" OR ")

  /** DuckDB mirror of Ann.lshPairs: the candidate predicate (signature
    * match in ≥1 of 8 tables) and the exact verification both replicate
    * bit-for-bit. */
  private def lshPairsOracle: String =
    s"""$lshSigCte,
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  list_inner_product(a.v, b.v)
       |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
       | FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND (${lshAnyMatch("a", "b")}))
       |SELECT id_a, id_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.4""".stripMargin

  /** Connected components over the lshPairs graph (same candidate
    * predicate + verify as lshPairsOracle), min-id representative. */
  private def eDupGroupsOracle: String =
    s"""${lshSigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  list_inner_product(a.v, b.v)
       |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
       | FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND (${lshAnyMatch("a", "b")})),
       |pr AS (SELECT id_a, id_b FROM p WHERE sim >= 0.4),
       |ed AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pr
       |  UNION SELECT id_b, id_a FROM pr),
       |reach AS (SELECT DISTINCT a AS n, a AS m FROM ed
       |  UNION SELECT r.n, ed.b FROM reach r JOIN ed ON r.m = ed.a)
       |SELECT n AS vec_id, min(m) AS group_id FROM reach GROUP BY n""".stripMargin

  /** DuckDB mirror of Ann.lshTopK(queries = vec_id < 10, k = 5). */
  private def lshKnnOracle: String =
    s"""$lshSigCte,
       |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |  list_inner_product(q.v, c.v)
       |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
       | FROM sig q JOIN sig c
       |   ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND (${lshAnyMatch("q", "c")})),
       |r AS (SELECT qid, nid, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
       |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of Ann.lshTopKMultiProbe (4 tables): per-table base
    * signature + the two closest-plane flips, margins and bucket
    * choice replayed bit-for-bit (struct sort ties to the lower plane
    * index, same as the Spark array_sort). */
  private def lshMultiProbeOracle: String = {
    val tables = 4
    val hp = Ann.hyperplanes(tables = tables, planes = 6, dim = 64, seed = 42L)
    val sigCols = hp.zipWithIndex.map { case (tp, t) =>
      val terms = tp.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"$terms AS s_$t"
    }.mkString(",\n ")
    val probeCols = hp.zipWithIndex.map { case (tp, t) =>
      val structs = tp.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ",", "]")
        s"{'a': abs(list_inner_product(v, $arr)), 'p': $i, 'b': CAST(${1L << i} AS BIGINT)}"
      }.mkString(", ")
      s"""[s_$t, xor(s_$t, list_sort([$structs])[1].b),
         |  xor(s_$t, list_sort([$structs])[2].b)] AS p_$t""".stripMargin
    }.mkString(",\n ")
    val anyMatch = (0 until tables)
      .map(t => s"list_contains(q.p_$t, c.s_$t)").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       | $sigCols
       | FROM e),
       |qp AS (SELECT vec_id, v,
       | $probeCols
       | FROM sig WHERE vec_id < 10),
       |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |  list_inner_product(q.v, c.v)
       |   / (sqrt(list_inner_product(q.v, q.v))
       |      * sqrt(list_inner_product(c.v, c.v))) AS sim
       | FROM qp q JOIN sig c ON q.vec_id <> c.vec_id AND ($anyMatch)),
       |r AS (SELECT qid, nid, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
       |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin
  }

  /**
   * Shared CTE chain: pinned-quantizer centroid ranking per vector.
   * Centroid score = 2·v·c − |c|² (TopCentroids' −L2² equivalent, same
   * element order); ties rank the LOWEST centroid index first,
   * replicating the expression's strict-argmax scan.
   */
  private val IvfRankedCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      | FROM e ORDER BY vec_id LIMIT 16),
      |scored AS (SELECT e.vec_id, e.v, cent.cid,
      |  2.0 * list_inner_product(e.v, cent.cv) - list_inner_product(cent.cv, cent.cv) AS score
      | FROM e CROSS JOIN cent),
      |ranked AS (SELECT vec_id, v, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS cr
      | FROM scored)""".stripMargin

  /** DuckDB mirror of the pinned-quantizer IVF gate query: corpus rows
    * live in their top-1 list, queries probe their top-4 lists, exact
    * cosine + rank within candidates. */
  private def ivfKnnOracle: String = IvfRankedCte +
    """,
      |corpus AS (SELECT vec_id AS nid, v AS nv, cid AS list_id FROM ranked WHERE cr = 1),
      |probes AS (SELECT vec_id AS qid, v AS qv, cid AS list_id
      | FROM ranked WHERE vec_id < 10 AND cr <= 4),
      |s AS (SELECT DISTINCT qid, nid,
      |  list_inner_product(qv, nv)
      |   / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))) AS sim
      | FROM probes JOIN corpus USING (list_id) WHERE qid <> nid),
      |r AS (SELECT qid, nid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
      |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of the IVF-SQ8 gate: pinned-quantizer lists on the
    * raw vectors, scale-free quantized cosine over the floor(x/s+0.5)
    * codes within probed lists. */
  private def ivfSq8KnnOracle: String = IvfRankedCte +
    """,
      |sc AS (SELECT vec_id, list_max([abs(x) for x in v])/127.0 AS s FROM e),
      |cd AS (SELECT e.vec_id, CASE WHEN s > 0
      |   THEN [floor(x / s + 0.5) for x in v]
      |   ELSE [0.0 for x in v] END AS c
      | FROM e JOIN sc USING (vec_id)),
      |qn AS (SELECT vec_id, c, sqrt(list_inner_product(c, c)) AS nrm FROM cd),
      |corpus AS (SELECT r.vec_id AS nid, qn.c AS nv, qn.nrm AS nn,
      |    r.cid AS list_id
      | FROM ranked r JOIN qn ON qn.vec_id = r.vec_id WHERE r.cr = 1),
      |probes AS (SELECT r.vec_id AS qid, qn.c AS qv, qn.nrm AS q_n,
      |    r.cid AS list_id
      | FROM ranked r JOIN qn ON qn.vec_id = r.vec_id
      | WHERE r.vec_id < 10 AND r.cr <= 4),
      |s AS (SELECT qid, nid, list_inner_product(qv, nv) / (q_n * nn) AS sim
      | FROM probes JOIN corpus USING (list_id) WHERE qid <> nid),
      |r AS (SELECT qid, nid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      | FROM s)
      |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin

  private def ivfStatsOracle: String = IvfRankedCte +
    """
      |SELECT cid AS list_id, count(*) AS n_vectors
      |FROM ranked WHERE cr = 1 GROUP BY cid""".stripMargin

  /** DuckDB mirror of the SemDeDup gate: pinned-quantizer cluster
    * assignment (same tie-break as every IVF oracle), then one EXISTS
    * per row — removed iff a lower-id same-cluster neighbor sits at
    * cosine >= 0.35, cosine spelled with the identical
    * dot/(sqrt·sqrt) float shape the Spark side evaluates. */
  /** SemDeDup oracle with the ADAPTIVE cluster count — mirrors
    * Ann.adaptiveNlist(count(*)): nlist = greatest(16, ceil(N/1250)),
    * centroids = the first nlist vectors by id (pinnedCentroids). At
    * every driver-gate scale (≤ 20k vectors) this reduces to the
    * fixed 16 of IvfRankedCte. */
  private def semDedupOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nl AS (SELECT greatest(16, CAST(ceil(count(*) / 1250.0) AS BIGINT)) AS n
      | FROM e),
      |cent AS (SELECT cid, cv FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
      |   v AS cv FROM e ORDER BY vec_id), nl WHERE cid < nl.n),
      |scored AS (SELECT e.vec_id, e.v, cent.cid,
      |  2.0 * list_inner_product(e.v, cent.cv) - list_inner_product(cent.cv, cent.cv) AS score
      | FROM e CROSS JOIN cent),
      |ranked AS (SELECT vec_id, v, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS cr
      | FROM scored)""".stripMargin +
    """,
      |asg AS (SELECT vec_id, v, cid AS list_id FROM ranked WHERE cr = 1),
      |rem AS (SELECT DISTINCT b.vec_id
      | FROM asg a JOIN asg b
      |   ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      | WHERE list_inner_product(a.v, b.v)
      |   / (sqrt(list_inner_product(a.v, a.v))
      |      * sqrt(list_inner_product(b.v, b.v))) >= 0.35),
      |flagged AS (SELECT asg.vec_id, CAST(asg.list_id AS BIGINT) AS list_id,
      |  (rem.vec_id IS NULL) AS keep
      | FROM asg LEFT JOIN rem ON rem.vec_id = asg.vec_id)
      |SELECT vec_id, list_id, keep FROM flagged""".stripMargin

  /** DuckDB mirror of the JL projection gate: the same fixed-seed
    * gaussian planes interpolated into the SQL, p_i = v·plane_i, then
    * the exact cosine/rank/rounding tail over the projected vectors. */
  private def rpKnnOracle: String = {
    val planes = Ann.hyperplanes(1, 16, 64, seed = 7L)(0)
    val proj = planes.map(p =>
      s"list_inner_product(v, ${p.mkString("[", ",", "]")})")
      .mkString("[", ",\n  ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pr AS (SELECT vec_id, $proj AS p FROM e),
       |s AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
       |  list_inner_product(q.p, n.p)
       |   / (sqrt(list_inner_product(q.p, q.p))
       |      * sqrt(list_inner_product(n.p, n.p))) AS sim
       | FROM pr q JOIN pr n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
       |r AS (SELECT qid, nid, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       | FROM s)
       |SELECT qid, nid, round(sim, 4) AS sim, rank FROM r WHERE rank <= 5""".stripMargin
  }

  /** DuckDB mirror of the linear probe: element-wise label-mean
    * centroids, nearest by the same 2·v·c − c·c argmax with the
    * ascending-label tie-break topCentroids applies by index order. */
  private def centroidProbeOracle: String =
    """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ux AS (SELECT label, i, avg(v[i]) AS m
      | FROM e, range(1, 65) r(i) GROUP BY label, i),
      |cent AS (SELECT label AS clabel, list(m ORDER BY i) AS cv
      | FROM ux GROUP BY label),
      |scored AS (SELECT e.vec_id, e.label, c.clabel,
      |  2.0 * list_inner_product(e.v, c.cv)
      |    - list_inner_product(c.cv, c.cv) AS score
      | FROM e CROSS JOIN cent c),
      |ranked AS (SELECT vec_id, label, clabel,
      |  row_number() OVER (PARTITION BY vec_id
      |    ORDER BY score DESC, clabel) AS rn
      | FROM scored)
      |SELECT vec_id, label, clabel AS pred, (clabel = label) AS correct
      |FROM ranked WHERE rn = 1""".stripMargin

  /** DuckDB mirror of the embedding-outlier gate: same pinned-quantizer
    * assignment, d2 = (v·v − 2·v·c) + c·c in the identical float-op
    * order, z against the per-cluster population moments. */
  private def embOutliersOracle: String = IvfRankedCte +
    """,
      |asg AS (SELECT r.vec_id, r.v, r.cid AS list_id, c.cv
      | FROM ranked r JOIN cent c ON c.cid = r.cid WHERE r.cr = 1),
      |d AS (SELECT vec_id, list_id,
      |  (list_inner_product(v, v) - 2.0 * list_inner_product(v, cv))
      |    + list_inner_product(cv, cv) AS d2
      | FROM asg),
      |s AS (SELECT vec_id, list_id, d2,
      |  avg(d2) OVER (PARTITION BY list_id) AS mu,
      |  stddev_pop(d2) OVER (PARTITION BY list_id) AS sd
      | FROM d)
      |SELECT vec_id, CAST(list_id AS BIGINT) AS list_id,
      |  round((d2 - mu) / sd, 4) + 0.0 AS z
      |FROM s""".stripMargin

  private def clusterSampleOracle: String = IvfRankedCte +
    """,
      |asg AS (SELECT vec_id, cid AS list_id FROM ranked WHERE cr = 1),
      |rk AS (SELECT vec_id, list_id,
      |  row_number() OVER (PARTITION BY list_id
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
      | FROM asg)
      |SELECT vec_id, list_id, CAST(rank AS BIGINT) AS rank
      |FROM rk WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of the RESIDUAL IVF-PQ gate (faiss convention;
    * nlist=16, nprobe=2, m=8, ksub=16): codewords are subspace slices
    * of vectors 16..31's residuals against their own assigned
    * centroid (ids disjoint from the coarse centroids, whose
    * residuals are zero by self-assignment); corpus rows encode their residual; each
    * (query, probed list) pair gets its own ADC table from the query's
    * residual against that list's centroid. Float-op order matches the
    * Spark side exactly: residual = (raw double cast) subtraction in
    * element order, per-element ((q−c)−codeword)² summed ascending,
    * subspace partials summed in subspace order. */
  private def ivfPqResKnnOracle: String = IvfRankedCte +
    """,
      |rv AS (SELECT r.vec_id, r.cid AS list_id,
      |  [r.v[i] - c.cv[i] for i in range(1, 65)] AS rv
      | FROM ranked r JOIN cent c ON c.cid = r.cid WHERE r.cr = 1),
      |rcb AS (SELECT row_number() OVER (ORDER BY b.vec_id) - 1 AS cid2,
      |  b.rv AS rcv
      | FROM (SELECT vec_id, rv FROM rv
      |       ORDER BY vec_id LIMIT 16 OFFSET 16) b),
      |probesl AS (SELECT vec_id AS qid, cid AS list_id
      | FROM ranked WHERE vec_id < 10 AND cr <= 2),
      |sub AS (SELECT CAST(t.s AS INT) AS s FROM unnest(range(0, 8)) AS t(s)),
      |sc AS (SELECT rv.vec_id, sub.s, rcb.cid2,
      |  2.0 * list_inner_product(rv.rv[sub.s*8+1 : sub.s*8+8],
      |                           rcb.rcv[sub.s*8+1 : sub.s*8+8])
      |  - list_inner_product(rcb.rcv[sub.s*8+1 : sub.s*8+8],
      |                       rcb.rcv[sub.s*8+1 : sub.s*8+8]) AS score
      | FROM rv CROSS JOIN sub CROSS JOIN rcb),
      |enc AS (SELECT vec_id, s, cid2 AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY score DESC, cid2) AS r FROM sc) WHERE r = 1),
      |ds AS (SELECT q.vec_id AS qid, x.vec_id AS nid, enc.s,
      |  list_sum([((q.v[enc.s*8+i] - cl.cv[enc.s*8+i]) - cb.rcv[enc.s*8+i])
      |           *((q.v[enc.s*8+i] - cl.cv[enc.s*8+i]) - cb.rcv[enc.s*8+i])
      |            for i in range(1, 9)]) AS d
      | FROM e q JOIN rv x ON q.vec_id < 10 AND q.vec_id <> x.vec_id
      | JOIN probesl p ON p.qid = q.vec_id AND p.list_id = x.list_id
      | JOIN cent cl ON cl.cid = p.list_id
      | JOIN enc ON enc.vec_id = x.vec_id
      | JOIN rcb cb ON cb.cid2 = enc.code),
      |ad AS (SELECT qid, nid, list_sum(list(d ORDER BY s)) AS adist
      |       FROM ds GROUP BY qid, nid),
      |r AS (SELECT qid, nid, adist,
      |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)
      |SELECT qid, nid, round(adist, 4) AS adist, rank FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of the IVF-PQ gate (nlist=16, nprobe=2, m=8,
    * ksub=16): the IVF assignment CTEs restrict candidate pairs to
    * shared probed lists; PQ encode + ADC distances are the
    * [[pqKnnOracle]] expressions verbatim (the pinned `cent` set
    * serves both quantizers). */
  /** The IVF-PQ ADC ranking chain (coarse top-1 lists, nprobe=2
    * probes, pinned-codebook ADC) shared by [[ivfPqKnnOracle]]
    * (rank ≤ 5 tail) and the ivfpq+refine composition (rank ≤ 20
    * candidates + exact cosine re-rank). */
  private def ivfPqRankedCte: String = IvfRankedCte +
    """,
      |corpusl AS (SELECT vec_id AS nid, cid AS list_id FROM ranked WHERE cr = 1),
      |probesl AS (SELECT vec_id AS qid, cid AS list_id
      | FROM ranked WHERE vec_id < 10 AND cr <= 2),
      |sub AS (SELECT CAST(t.s AS INT) AS s FROM unnest(range(0, 8)) AS t(s)),
      |sc AS (SELECT e.vec_id, sub.s, cent.cid,
      |  2.0 * list_inner_product(e.v[sub.s*8+1 : sub.s*8+8],
      |                           cent.cv[sub.s*8+1 : sub.s*8+8])
      |  - list_inner_product(cent.cv[sub.s*8+1 : sub.s*8+8],
      |                       cent.cv[sub.s*8+1 : sub.s*8+8]) AS score
      | FROM e CROSS JOIN sub CROSS JOIN cent),
      |enc AS (SELECT vec_id, s, cid AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY score DESC, cid) AS r FROM sc) WHERE r = 1),
      |ds AS (SELECT q.vec_id AS qid, x.vec_id AS nid, enc.s,
      |  list_sum([(q.v[enc.s*8+i] - cent.cv[enc.s*8+i])
      |           *(q.v[enc.s*8+i] - cent.cv[enc.s*8+i])
      |            for i in range(1, 9)]) AS d
      | FROM e q JOIN e x ON q.vec_id < 10 AND q.vec_id <> x.vec_id
      | JOIN corpusl ON corpusl.nid = x.vec_id
      | JOIN probesl ON probesl.qid = q.vec_id
      |  AND probesl.list_id = corpusl.list_id
      | JOIN enc ON enc.vec_id = x.vec_id
      | JOIN cent ON cent.cid = enc.code),
      |ad AS (SELECT qid, nid, list_sum(list(d ORDER BY s)) AS adist
      |       FROM ds GROUP BY qid, nid),
      |r AS (SELECT qid, nid, adist,
      |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)""".stripMargin

  private def ivfPqKnnOracle: String = ivfPqRankedCte +
    "\nSELECT qid, nid, round(adist, 4) AS adist, rank FROM r WHERE rank <= 5"

  /** IVF-PQ candidates (rank ≤ 20) re-ranked by exact cosine — the
    * refineKnnOracle tail over the ivfPqRankedCte chain. */
  private def ivfPqRefineKnnOracle: String = ivfPqRankedCte +
    """,
      |cand AS (SELECT qid, nid FROM r WHERE rank <= 20),
      |rr AS (SELECT c.qid, c.nid,
      |  list_inner_product(q.v, x.v)
      |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(x.v, x.v))) AS sim
      | FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.nid),
      |rf AS (SELECT qid, nid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM rr)
      |SELECT qid, nid, round(sim, 4) AS sim, rank FROM rf WHERE rank <= 5""".stripMargin

  /**
   * DuckDB mirror of the pinned-codebook PQ gate query (m=8, ksub=16,
   * dsub=8): codewords are subspace slices of the 16 smallest-id
   * vectors; encode ranks by the same 2·v·c − |c|² score (DESC, ties
   * lowest cid) as TopCentroids over the slice; ADC distances sum the
   * per-element squared differences in element order, then the 8
   * subspace partials in subspace order (`list(d ORDER BY s)`), keeping
   * every float op sequence identical to the Spark side.
   */
  private def pqKnnOracle: String = pqRankedCte +
    "\nSELECT qid, nid, round(adist, 4) AS adist, rank FROM r WHERE rank <= 5"

  /** DuckDB mirror of the refine gate (faiss IndexRefineFlat shape):
    * the PQ/ADC ranking above over-fetches rank ≤ 20 candidates per
    * query; the exact cosine re-ranks them to the final top-5 — the
    * same float expressions as the e_knn_brute oracle, restricted to
    * the candidate set. Fully deterministic: pinned codebooks fix the
    * candidates, exact arithmetic fixes the ranking. */
  private def refineKnnOracle: String = pqRankedCte +
    """,
      |cand AS (SELECT qid, nid FROM r WHERE rank <= 20),
      |rr AS (SELECT c.qid, c.nid,
      |  list_inner_product(q.v, x.v)
      |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(x.v, x.v))) AS sim
      | FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.nid),
      |rf AS (SELECT qid, nid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM rr)
      |SELECT qid, nid, round(sim, 4) AS sim, rank FROM rf WHERE rank <= 5""".stripMargin

  /** The pinned-codebook PQ/ADC ranking CTE chain shared by
    * [[pqKnnOracle]] (rank ≤ 5 tail) and [[refineKnnOracle]]
    * (rank ≤ 20 candidates + exact re-rank). */
  private def pqRankedCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      | FROM e ORDER BY vec_id LIMIT 16),
      |sub AS (SELECT CAST(t.s AS INT) AS s FROM unnest(range(0, 8)) AS t(s)),
      |sc AS (SELECT e.vec_id, sub.s, cent.cid,
      |  2.0 * list_inner_product(e.v[sub.s*8+1 : sub.s*8+8],
      |                           cent.cv[sub.s*8+1 : sub.s*8+8])
      |  - list_inner_product(cent.cv[sub.s*8+1 : sub.s*8+8],
      |                       cent.cv[sub.s*8+1 : sub.s*8+8]) AS score
      | FROM e CROSS JOIN sub CROSS JOIN cent),
      |enc AS (SELECT vec_id, s, cid AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY score DESC, cid) AS r FROM sc) WHERE r = 1),
      |ds AS (SELECT q.vec_id AS qid, x.vec_id AS nid, enc.s,
      |  list_sum([(q.v[enc.s*8+i] - cent.cv[enc.s*8+i])
      |           *(q.v[enc.s*8+i] - cent.cv[enc.s*8+i])
      |            for i in range(1, 9)]) AS d
      | FROM e q JOIN e x ON q.vec_id < 10 AND q.vec_id <> x.vec_id
      | JOIN enc ON enc.vec_id = x.vec_id
      | JOIN cent ON cent.cid = enc.code),
      |ad AS (SELECT qid, nid, list_sum(list(d ORDER BY s)) AS adist
      |       FROM ds GROUP BY qid, nid),
      |r AS (SELECT qid, nid, adist,
      |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)""".stripMargin
}
