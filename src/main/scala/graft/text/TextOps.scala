package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines
 * (SURVEY.md §7.5): tokenization, quality scoring, language ID,
 * document fingerprinting. No reference analog — the reference is a
 * metrics store — but these are first-class engine capabilities.
 *
 * Everything here is pure built-in column expressions: whole-stage
 * codegen, no UDFs, no shuffles (all per-row). Each helper has an exact
 * DuckDB-SQL equivalent used by the driver's oracle (SparkEntry).
 *
 * Determinism across engines: token boundaries are `\s+` splits,
 * hashes are md5-derived (identical hex in Spark and DuckDB), and
 * 64-bit ints are built from the first 15 md5 hex chars (60 bits, so
 * no sign/overflow divergence).
 */
object TextOps {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /**
   * BPE-ish sub-word split: letter runs, digit runs, single other
   * non-space chars — the common pre-tokenizer shape.
   */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** 60-bit deterministic hash: first 15 hex chars of md5, as long. */
  def h60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Seeded variant for minhash families: hash of `s # seed`. */
  def h60(s: Column, seed: Int): Column =
    h60(concat(s, lit("#" + seed)))

  /** Word n-gram shingles of an already-tokenized array. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  // --------------------------------------------------------- quality

  /** Count of chars that are neither alphanumeric nor whitespace. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Fraction of tokens found in `words` (0 for empty docs). */
  def wordRatio(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(set, t)))
        / size(toks).cast("double"))
  }

  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /**
   * Heuristic quality score in [0,1]: half length saturation (100+
   * tokens = max), half stopword naturalness, minus a punctuation
   * penalty. Deliberately simple and SQL-mirrorable; the point is the
   * shape (ratios over codegen'd expressions), not the metric.
   */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    qualityOf(text, toks, wordRatio(toks, EnStopwords))
  }

  /** [[qualityScore]] from `text`, its [[tokens]] `toks` and their
    * [[EnStopwords]] ratio `stop`, for a projection that tokenizes
    * once ([[graft.cli.Curate.score]]). */
  def qualityOf(text: Column, toks: Column, stop: Column): Column = {
    val lenSat = least(size(toks) / lit(100.0), lit(1.0))
    val punct = when(length(text) === 0, lit(0.0))
      .otherwise(punctCount(text) / length(text).cast("double"))
    greatest(lit(0.0), lenSat * 0.5 + stop * 0.5 - punct)
  }

  // -------------------------------------------------------- language ID

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> EnStopwords,
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "les", "des", "et", "un", "une"))

  /**
   * Stopword-ratio language classifier: argmax of per-language ratios,
   * `unk` when the best ratio is below `minScore`. Ties break in
   * [[LangStopwords]] declaration order (en > de > es > fr), which the
   * SQL oracle mirrors with a chained CASE.
   */
  def langId(text: Column, minScore: Double = LangMinScore): Column = {
    val toks = tokens(text)
    langOf(LangStopwords.map { case (l, ws) => l -> wordRatio(toks, ws) },
      minScore)
  }

  val LangMinScore = 0.05

  /** [[langId]] from each language's stopword ratio, in
    * [[LangStopwords]] order. */
  def langOf(scores: Seq[(String, Column)],
             minScore: Double = LangMinScore): Column = {
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unk")) { case ((l, s), el) =>
      when(best >= minScore && s === best, lit(l)).otherwise(el)
    }
  }

  // ------------------------------------------------------ fingerprinting

  /** Whole-document fingerprint over normalized text. */
  def docFingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), lit("\\s+"), lit(" "))))

  /**
   * Winnowing fingerprint (Schleimer et al., SIGMOD'03): hash every
   * word `k`-gram, then keep the minimum hash of each sliding window of
   * `w` consecutive k-gram hashes; distinct mins are the fingerprint.
   * Robust to local edits — the standard near-dup/plagiarism sketch.
   * Pure nested array expressions (no UDF, no shuffle).
   */
  def winnow(text: Column, k: Int = 3, w: Int = 4): Column =
    winnowFromHashes(transform(shingles(tokens(text), k), s => h60(s)), w)

  /**
   * Window-min step of winnowing over an already-computed hash array.
   *
   * PERFORMANCE: pass an *attribute* (a materialized column), not a
   * nested expression — Catalyst evaluates the argument subtree anew
   * for every window of the outer `transform`, so a nested
   * hash-computation turns O(n·w) into O(n²·w). Materialize via
   * `.withColumn` first (projections with non-cheap multi-referenced
   * exprs are not collapsed); see the t_winnow query in PipelineEntry.
   */
  def winnowFromHashes(hashes: Column, w: Int): Column =
    array_distinct(
      when(size(hashes) === 0, array().cast("array<bigint>"))
        .when(size(hashes) <= w,
          array(array_min(hashes)))
        .otherwise(transform(
          sequence(lit(0), size(hashes) - w),
          i => array_min(slice(hashes, i + 1, lit(w))))))
}
