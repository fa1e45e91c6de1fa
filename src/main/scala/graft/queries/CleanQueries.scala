package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Tables

/** The two published document-cleaning rule-sets every pretraining corpus
  * build runs alongside the repetition suite ([[QualityQueries]]):
  *
  *   - the Gopher QUALITY heuristics (Rae et al. 2021 §A1.1: word-count
  *     and mean-word-length bounds, symbol-to-word ratios, bullet and
  *     ellipsis line fractions, alphabetic-word fraction, and the
  *     required-stopword minimum) — `gq_signals` / `gq_filter`;
  *   - the C4 cleaning pipeline (Raffel et al. 2020 §2.2: keep only
  *     lines ending in terminal punctuation with ≥ 5 words, drop
  *     `javascript` lines, then drop pages containing a blocklist word,
  *     "lorem ipsum", or a curly brace, or with < 3 sentences) —
  *     `c4_clean`.
  *
  * Scale shape: every rule is WITHIN-document — row-local projections
  * over built-in/higher-order functions, no UDFs, no shuffle beyond the
  * presentation sort. Both families run at parquet-scan speed at any
  * corpus size and column-prune to (doc_id, text).
  */
object CleanQueries extends QueryModule {

  // ------------------------------------------------ Gopher quality suite

  /** Gopher §A1.1 quality-rule names with their violation predicates in
    * the paper's order (mixed directions, unlike the uniform `> t` of
    * [[QualityQueries.RepThresholds]], so each rule carries its own
    * predicate). The stopword rule uses the paper's required-word set;
    * the word-salad corpus contains `the` but not the rest, so most raw
    * documents fail it — the honest published semantics (word salad IS
    * what this rule exists to cull); the spec proves discrimination on
    * planted natural-text documents.
    */
  val GqRules: Seq[(String, Column)] = Seq(
    "word_count"         -> (col("n_words") < 50L || col("n_words") > 100000L),
    "mean_word_len"      -> (col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0),
    "hash_ratio"         -> (col("hash_ratio") > 0.1),
    "ellipsis_ratio"     -> (col("ellipsis_ratio") > 0.1),
    "bullet_line_frac"   -> (col("bullet_line_frac") > 0.90),
    "ellipsis_line_frac" -> (col("ellipsis_line_frac") > 0.30),
    "alpha_word_frac"    -> (col("alpha_word_frac") < 0.80),
    "stop_words"         -> (col("req_stop_hits") < 2L))

  /** SQL twins of [[GqRules]], same names and order. */
  val GqRulesSql: Seq[(String, String)] = Seq(
    "word_count"         -> "(n_words < 50 OR n_words > 100000)",
    "mean_word_len"      -> "(mean_word_len < 3.0 OR mean_word_len > 10.0)",
    "hash_ratio"         -> "(hash_ratio > 0.1)",
    "ellipsis_ratio"     -> "(ellipsis_ratio > 0.1)",
    "bullet_line_frac"   -> "(bullet_line_frac > 0.90)",
    "ellipsis_line_frac" -> "(ellipsis_line_frac > 0.30)",
    "alpha_word_frac"    -> "(alpha_word_frac < 0.80)",
    "stop_words"         -> "(req_stop_hits < 2)")

  /** The paper's required English words (≥ 2 must appear). */
  val ReqStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Appends the 8 quality-signal columns to any frame with a text
    * column — pure row-local projections (streaming-safe). Fractions
    * round to 6dp for cross-engine hash stability. Divisors never hit
    * zero: `split` of an empty string yields one empty token and one
    * empty line in both engines.
    */
  def withGqSignals(df: DataFrame, textCol: String): DataFrame = {
    val keep = df.columns.map(col).toSeq
    // lines split on \r?\n (CRLF-safe; the oracle mirrors with
    // string_split_regex) so the end-anchored line rules below never see
    // a trailing \r — Java's '$' would match before it, RE2's would not
    val staged = df
      .withColumn("__t", TextAnalysis.wordTokens(col(textCol)))
      .withColumn("__l", split(col(textCol), "\\r?\\n"))
    val nWords = size(col("__t")).cast("long")
    val nLines = size(col("__l")).cast("long")
    def r6(c: Column): Column = round(c, 6)
    val meanWordLen = r6(TextAnalysis.totalTokenLength(col("__t"))
      .cast("double") / nWords.cast("double"))
    val hashRatio = r6(regexp_count(col(textCol), lit("#"))
      .cast("double") / nWords.cast("double"))
    // '...' occurrences count non-overlapping left-to-right in both
    // engines; '…' counts per character
    val ellipsisRatio = r6((regexp_count(col(textCol), lit("\\.\\.\\."))
      + regexp_count(col(textCol), lit("…")))
      .cast("double") / nWords.cast("double"))
    // explicit [ \t] indent class (Java \s includes \x0B, RE2 \s does
    // not — a vertical-tab-indented bullet must not split the engines);
    // \z end anchor = end-of-input in Java, the exact semantics of
    // RE2's '$' the oracle uses
    val bulletLineFrac = r6(size(filter(col("__l"),
      l => l.rlike("^[ \\t]*[-*•] "))).cast("double") / nLines.cast("double"))
    val ellipsisLineFrac = r6(size(filter(col("__l"),
      l => l.rlike("(\\.\\.\\.|…)\\z"))).cast("double") / nLines.cast("double"))
    val alphaWordFrac = r6(size(filter(col("__t"),
      w => w.rlike("[A-Za-z]"))).cast("double") / nWords.cast("double"))
    val reqStopHits = ReqStopwords
      .map(w => array_contains(col("__t"), w).cast("long")).reduce(_ + _)
    staged.select(keep
      :+ nWords.as("n_words")
      :+ meanWordLen.as("mean_word_len")
      :+ hashRatio.as("hash_ratio")
      :+ ellipsisRatio.as("ellipsis_ratio")
      :+ bulletLineFrac.as("bullet_line_frac")
      :+ ellipsisLineFrac.as("ellipsis_line_frac")
      :+ alphaWordFrac.as("alpha_word_frac")
      :+ reqStopHits.as("req_stop_hits"): _*)
  }

  def gqSignals(spark: SparkSession, dir: String): DataFrame =
    withGqSignals(Tables.read(spark, dir, "documents").select("doc_id", "text"), "text")
      .drop("text")
      .orderBy("doc_id")

  /** gq_signals oracle body (no ORDER BY — shared with gq_filter).
    * Σ token chars = length(space-rejoin) − (n−1), the same separator
    * arithmetic the repetition oracle uses.
    */
  private val gqSignalsBody: String = {
    val stopHits = ReqStopwords
      .map(w => s"CAST(list_contains(t, '$w') AS BIGINT)").mkString(" + ")
    s"""WITH toks AS (
      SELECT doc_id, text,
        string_split_regex(trim(text), '\\s+') AS t,
        string_split_regex(text, '\\r?\\n') AS l
      FROM documents),
    base AS (
      SELECT doc_id, text, t, l,
        cast(len(t) AS BIGINT) AS n_words,
        cast(len(l) AS BIGINT) AS n_lines,
        cast(length(array_to_string(t, ' ')) - (len(t) - 1) AS BIGINT) AS tchars
      FROM toks)
    SELECT doc_id, n_words,
      round(CAST(tchars AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        AS mean_word_len,
      round(CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        / CAST(n_words AS DOUBLE), 6) AS hash_ratio,
      round(CAST(len(regexp_extract_all(text, '\\.\\.\\.'))
          + len(regexp_extract_all(text, '…')) AS DOUBLE)
        / CAST(n_words AS DOUBLE), 6) AS ellipsis_ratio,
      round(CAST(len(list_filter(l,
          x -> regexp_matches(x, '^[ \\t]*[-*•] '))) AS DOUBLE)
        / CAST(n_lines AS DOUBLE), 6) AS bullet_line_frac,
      round(CAST(len(list_filter(l,
          x -> regexp_matches(x, '(\\.\\.\\.|…)$$'))) AS DOUBLE)
        / CAST(n_lines AS DOUBLE), 6) AS ellipsis_line_frac,
      round(CAST(len(list_filter(t,
          w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        / CAST(n_words AS DOUBLE), 6) AS alpha_word_frac,
      $stopHits AS req_stop_hits
    FROM base"""
  }

  val gqSignalsSql: String = gqSignalsBody + "\n    ORDER BY doc_id"

  /** Verdict columns over a gq-signal frame: keep, violation count, and
    * the FIRST violated rule in [[GqRules]] order — shared by the batch
    * filter and [[graft.streaming.StreamingCleanGate]] so stream and
    * batch can never disagree (same contract shape as
    * [[QualityQueries.repVerdictCols]]).
    */
  def gqVerdictCols: Seq[Column] = {
    val viol = GqRules.map(_._2)
    val firstViol = GqRules.foldRight(lit(""): Column) {
      case ((n, c), rest) => when(c, lit(n)).otherwise(rest)
    }
    Seq(viol.reduce(_ || _).unary_!.as("keep"),
      viol.map(_.cast("long")).reduce(_ + _).as("n_violations"),
      firstViol.as("first_violation"))
  }

  def gqFilter(spark: SparkSession, dir: String): DataFrame =
    withGqSignals(Tables.read(spark, dir, "documents").select("doc_id", "text"), "text")
      .select(col("doc_id") +: gqVerdictCols: _*)
      .orderBy("doc_id")

  val gqFilterSql: String = {
    val viol  = GqRulesSql.map(_._2)
    val nViol = viol.map(v => s"CAST($v AS BIGINT)").mkString(" + ")
    val firstViol = GqRulesSql.map { case (n, v) => s"WHEN $v THEN '$n'" }
      .mkString("\n        ")
    s"""WITH sig AS (
    $gqSignalsBody)
    SELECT doc_id,
      NOT (${viol.mkString(" OR ")}) AS keep,
      $nViol AS n_violations,
      CASE $firstViol ELSE '' END AS first_violation
    FROM sig
    ORDER BY doc_id"""
  }

  // ------------------------------------------- the complete Gopher filter

  /** The COMPLETE Gopher document filter (`gopher_filter`): the quality
    * heuristics ([[GqRules]]) and the repetition thresholds
    * ([[QualityQueries.RepThresholds]]) as ONE verdict per document —
    * what the paper actually ships (both rule tables must pass). Rule
    * precedence for `first_violation`: quality rules first (they are the
    * cheaper reject and the order a pipeline applies them), then the
    * repetition table in its published order. Emits keep, total
    * violation count, and the first violated rule name.
    *
    * Scale shape: NO join — both signal families are row-local
    * projections, so they CHAIN on one frame: one parquet scan, one
    * codegen'd projection pipeline (the repetition side through the
    * fused suite kernel), one presentation exchange. The obvious
    * per-family-frame + doc_id-join formulation would broadcast a
    * corpus-sized side at 100 TB; the chain has no rendezvous at all.
    */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents").select("doc_id", "text")
    val joined = QualityQueries
      .withRepSignals(withGqSignals(d, "text"), "text")
      .drop("text")
    val repViol = QualityQueries.RepThresholds
      .map { case (n, t) => n -> (col(n) > lit(t)) }
    val all = GqRules ++ repViol
    val firstViol = all.foldRight(lit(""): Column) {
      case ((n, c), rest) => when(c, lit(n)).otherwise(rest)
    }
    joined.select(col("doc_id"),
      all.map(_._2).reduce(_ || _).unary_!.as("keep"),
      all.map(_._2.cast("long")).reduce(_ + _).as("n_violations"),
      firstViol.as("first_violation"))
      .orderBy("doc_id")
  }

  val gopherFilterSql: String = {
    val repViol = QualityQueries.RepThresholds
      .map { case (n, t) => n -> s"($n > $t)" }
    val all = GqRulesSql ++ repViol
    val viol  = all.map(_._2)
    val nViol = viol.map(v => s"CAST($v AS BIGINT)").mkString(" + ")
    val firstViol = all.map { case (n, v) => s"WHEN $v THEN '$n'" }
      .mkString("\n        ")
    s"""WITH gq AS (
    $gqSignalsBody),
    rep AS (
    ${QualityQueries.repSignalsBodyForComposition})
    SELECT doc_id,
      NOT (${viol.mkString(" OR ")}) AS keep,
      $nViol AS n_violations,
      CASE $firstViol ELSE '' END AS first_violation
    FROM gq JOIN rep USING (doc_id)
    ORDER BY doc_id"""
  }

  // -------------------------------------------------- C4 cleaning rules

  /** C4 page-kill reasons in report order (line rules are transforms,
    * not reasons). The blocklist mechanism ships with a one-word
    * placeholder list — the published pipeline's list is external
    * content; the mechanism (any listed word kills the page) is what the
    * engine implements.
    */
  val C4Blocklist: Seq[String] = Seq("badword")
  // Entries are interpolated into BOTH a Java regex and a DuckDB RE2/SQL
  // literal unescaped — a metacharacter or quote would break one engine
  // or silently split them. Constrain the list where it is defined.
  require(C4Blocklist.forall(_.matches("[a-z]+")),
    "C4Blocklist entries must be lowercase ASCII words (they are " +
      "interpolated into Java-regex, RE2 and SQL contexts unescaped)")

  /** C4 cleaning over a PLANTED structured corpus (`c4_clean`): the raw
    * word-salad corpus has no punctuation or lines, so every rule would
    * fire vacuously; the fixture rebuilds each document as 6-token lines
    * and plants, deterministically by doc_id, every behavior the
    * pipeline must exercise:
    *
    *   - `(doc_id + line#) % 4 == 0` lines get NO terminal '.', so the
    *     terminal-punctuation rule drops ~¼ of lines;
    *   - the final partial line (< 5 words) exercises the ≥5-words rule;
    *   - `doc_id % 11 == 0` plants a line containing `javascript`
    *     (dropped at line level, page survives);
    *   - `doc_id % 17 == 0` plants "lorem ipsum" (kills the page);
    *   - `doc_id % 13 == 0` plants a curly brace (kills the page);
    *   - `doc_id % 19 == 0` plants a blocklist word (kills the page);
    *   - pages with < 3 sentences after line filtering die.
    *
    * Pipeline order (documented, the paper is ambiguous): line filters
    * first (terminal punct ∧ ≥5 words ∧ no `javascript`), then page
    * rules over the CLEANED text (blocklist, lorem ipsum, curly brace,
    * sentence minimum — sentences counted as [.!?] marks). Output per
    * page: line/sentence accounting, keep + first reason, and the md5 of
    * the cleaned text — the integrity witness both engines rebuilt
    * byte-identical pages. Row-local end-to-end.
    */
  /** The C4 pipeline CORE over any frame carrying a `__lines`
    * string-array column (plus doc_id): line filters (terminal punct ∧
    * ≥5 words ∧ no `javascript`), then page rules over the CLEANED text
    * (blocklist, lorem ipsum, curly brace, < 3 sentences). Shared by the
    * planted batch query and [[graft.streaming.StreamingC4Gate]] (which
    * feeds REAL newline-split lines), so stream and batch can never
    * disagree on the same lines. Emits doc_id + every upstream column
    * except the staging ones, plus the accounting/verdict/witness
    * columns. Row-local end-to-end.
    */
  def c4Core(withLines: DataFrame): DataFrame = {
    val keepCols = withLines.columns.filterNot(_.startsWith("__")).map(col).toSeq
    // line filters: terminal punct, >= 5 words, no `javascript`
    // (case-insensitive, as the paper matches bad words on lowercased
    // text). \z = Java end-of-input — identical to the oracle's RE2 '$',
    // so a CRLF line (trailing \r) fails the rule in BOTH engines
    // instead of passing in one.
    val kept = filter(col("__lines"), l =>
      l.rlike("[.!?\"]\\z") &&
        size(split(l, " ")) >= 5 &&
        !lower(l).rlike("\\bjavascript\\b"))
    val staged = withLines
      .withColumn("__kept", kept)
      .withColumn("__clean", array_join(col("__kept"), "\n"))
    val nSentences = regexp_count(col("__clean"), lit("[.!?]")).cast("long")
    // page kills match on LOWERCASED cleaned text (C4 lowercases before
    // the bad-word check; 'Lorem Ipsum' must die like 'lorem ipsum').
    // Deliberate divergence from the paper, documented: '}' also kills
    // (the paper names only '{'; a page with a stray close-brace is the
    // same code-fragment signal).
    val lowClean = lower(col("__clean"))
    val hasBlock = C4Blocklist
      .map(w => lowClean.rlike(s"\\b$w\\b")).reduce(_ || _)
    val hasLorem = lowClean.contains("lorem ipsum")
    val hasBrace = col("__clean").contains("{") || col("__clean").contains("}")
    val fewSent  = nSentences < 3L
    val firstReason = when(hasBlock, "bad_words")
      .when(hasLorem, "lorem_ipsum")
      .when(hasBrace, "curly_brace")
      .when(fewSent, "too_few_sentences")
      .otherwise("")
    staged.select(keepCols
      :+ size(col("__lines")).cast("long").as("n_lines")
      :+ size(col("__kept")).cast("long").as("kept_lines")
      :+ nSentences.as("n_sentences")
      :+ (!(hasBlock || hasLorem || hasBrace || fewSent)).as("keep")
      :+ firstReason.as("first_reason")
      :+ md5(col("__clean").cast("binary")).as("clean_fp"): _*)
  }

  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents").select("doc_id", "text")
    val t = TextAnalysis.wordTokens(col("text"))
    val nl0 = floor((size(col("__t")) + 5) / 6).cast("int")
    // planted base lines: 6-token slices, terminal '.' unless (id+j)%4=0
    val baseLines = transform(sequence(lit(0), col("__nl0") - 1), j => {
      val line = concat_ws(" ", slice(col("__t"), j * 6 + 1, lit(6)))
      when(pmod(col("doc_id") + j, lit(4)) === 0, line)
        .otherwise(concat(line, lit(".")))
    })
    def plantIf(cond: Column, line: String): Column =
      when(cond, array(lit(line))).otherwise(array().cast("array<string>"))
    val lines = concat(
      col("__base"),
      plantIf(col("doc_id") % 11 === 0, "javascript line gets dropped here."),
      plantIf(col("doc_id") % 17 === 0, "lorem ipsum appears right here."),
      plantIf(col("doc_id") % 13 === 0, "curly brace { appears right here."),
      plantIf(col("doc_id") % 19 === 0, "badword appears right in here."))
    val staged = d
      .withColumn("__t", t)
      .withColumn("__nl0", nl0)
      .withColumn("__base", baseLines)
      .withColumn("__lines", lines)
      .drop("__t", "__nl0", "__base", "text")
    c4Core(staged).orderBy("doc_id")
  }

  val c4CleanSql: String = {
    val blockCond = C4Blocklist
      .map(w => s"regexp_matches(lower(clean), '\\b$w\\b')").mkString(" OR ")
    s"""WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    built AS (
      SELECT doc_id, t, (len(t) + 5) // 6 AS nl0,
        list_transform(range(0, (len(t) + 5) // 6), j ->
          CASE WHEN (doc_id + j) % 4 = 0
            THEN array_to_string(t[j*6+1:j*6+6], ' ')
            ELSE array_to_string(t[j*6+1:j*6+6], ' ') || '.' END)
        || CASE WHEN doc_id % 11 = 0
             THEN ['javascript line gets dropped here.']
             ELSE []::VARCHAR[] END
        || CASE WHEN doc_id % 17 = 0
             THEN ['lorem ipsum appears right here.']
             ELSE []::VARCHAR[] END
        || CASE WHEN doc_id % 13 = 0
             THEN ['curly brace { appears right here.']
             ELSE []::VARCHAR[] END
        || CASE WHEN doc_id % 19 = 0
             THEN ['badword appears right in here.']
             ELSE []::VARCHAR[] END AS lines
      FROM toks),
    filt AS (
      SELECT doc_id, lines,
        list_filter(lines, l ->
          regexp_matches(l, '[.!?"]$$')
          AND len(string_split(l, ' ')) >= 5
          AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS kept
      FROM built),
    pg AS (
      SELECT doc_id,
        cast(len(lines) AS BIGINT) AS n_lines,
        cast(len(kept) AS BIGINT) AS kept_lines,
        coalesce(array_to_string(kept, chr(10)), '') AS clean
      FROM filt),
    sig AS (
      SELECT doc_id, n_lines, kept_lines, clean,
        cast(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS n_sentences,
        ($blockCond) AS has_block,
        contains(lower(clean), 'lorem ipsum') AS has_lorem,
        (contains(clean, '{') OR contains(clean, '}')) AS has_brace
      FROM pg)
    SELECT doc_id, n_lines, kept_lines, n_sentences,
      NOT (has_block OR has_lorem OR has_brace OR n_sentences < 3) AS keep,
      CASE WHEN has_block THEN 'bad_words'
           WHEN has_lorem THEN 'lorem_ipsum'
           WHEN has_brace THEN 'curly_brace'
           WHEN n_sentences < 3 THEN 'too_few_sentences'
           ELSE '' END AS first_reason,
      md5(clean) AS clean_fp
    FROM sig
    ORDER BY doc_id"""
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gq_signals"    -> (gqSignals _),
    "gq_filter"     -> (gqFilter _),
    "gopher_filter" -> (gopherFilter _),
    "c4_clean"      -> (c4Clean _))

  val oracle: Map[String, String] = Map(
    "gq_signals"    -> gqSignalsSql,
    "gq_filter"     -> gqFilterSql,
    "gopher_filter" -> gopherFilterSql,
    "c4_clean"      -> c4CleanSql)
}
