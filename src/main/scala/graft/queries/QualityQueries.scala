package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Tables

/** Repetition-quality signals and the span-level dedup REWRITE — the two
  * document-hygiene operators every large-scale pretraining pipeline runs
  * between raw scrape and tokenizer (Rae et al. 2021 "Scaling Language
  * Models" §A1.1 repetition filters; Lee et al. 2022 "Deduplicating
  * Training Data Makes Language Models Better" exact-substring removal).
  *
  * Scale shapes:
  *   - `rep_signals` / `rep_filter` are WITHIN-document: every metric is
  *     computed row-locally with array HOFs ([[TextAnalysis.runScan]]) —
  *     no data shuffle (only the presentation sort on doc_id
  *     repartitions), scan-speed, trivially linear at any corpus size.
  *     This is the deliberate counterpoint to the CROSS-document span
  *     detector ([[CorpusQueries.dupSpans]]), which must shuffle on the
  *     window hash.
  *   - `span_dedup_text` is the transform half of dupSpans: one shuffle
  *     keyed by window hash (keeper ranking), one per-document window
  *     (interval merge), one per-document aggregation (span list), then a
  *     row-local HOF reassembly. No pair join, no blow-up; at 100 TB the
  *     md5 window key would swap to xxhash64 exactly like the
  *     dedup_minhash / dedup_minhash_md5 split.
  */
object QualityQueries extends QueryModule {

  // ------------------------------------------------- repetition signals

  /** Gopher repetition-filter thresholds (Rae et al. 2021, table A1),
    * in report/violation-precedence order (the paper's row order:
    * duplicate line fraction, duplicate paragraph fraction, duplicate
    * line character fraction, duplicate paragraph character fraction,
    * then the n-gram rows). A document is removed when a signal EXCEEDS
    * its threshold. A paragraph is a blank-line-separated block
    * (`\n\n`); single-paragraph text (the raw word-salad corpus) scores
    * 0 on both paragraph rules, so they are inert until the input
    * carries real structure — `rep_para` proves activation on a planted
    * multi-paragraph corpus.
    */
  val RepThresholds: Seq[(String, Double)] = Seq(
    "dup_line_frac"      -> 0.30,
    "dup_para_frac"      -> 0.30,
    "dup_line_char_frac" -> 0.20,
    "dup_para_char_frac" -> 0.20,
    "top2_frac"          -> 0.20,
    "top3_frac"          -> 0.18,
    "top4_frac"          -> 0.16,
    "dup5_frac"          -> 0.15,
    "dup6_frac"          -> 0.14,
    "dup7_frac"          -> 0.13,
    "dup8_frac"          -> 0.12,
    "dup9_frac"          -> 0.11,
    "dup10_frac"         -> 0.10)

  /** Per-document repetition signals, the Gopher §A1.1 suite: duplicate
    * line fraction + duplicate-line character mass, most-frequent
    * {2,3,4}-gram character mass, and duplicated-{5..10}-gram character
    * mass. Character mass = occurrences × gram length over the length of
    * the space-normalized text; occurrence mass is counted without
    * overlap subtraction (each occurrence contributes its full length —
    * the common reimplementation simplification, stated here because the
    * paper's own accounting marks character positions). All fractions
    * rounded to 6dp for cross-engine hash stability.
    *
    * Everything is computed inside one row-local projection
    * ([[TextAnalysis.runScan]] per n): no explode, no shuffle — the
    * whole query is a parquet scan plus a sort on doc_id.
    */
  /** Appends the 11 [[RepThresholds]] signal columns to any frame with a
    * text column — pure chained projections (works on streaming frames;
    * [[graft.streaming.StreamingRepGate]] is this over `readStream`).
    * Staging discipline: each run-scan struct lands in its own projection
    * so it evaluates exactly once per row, and the signal expressions read
    * staged ATTRIBUTES — never re-aggregating.
    */
  def withRepSignals(df: DataFrame, textCol: String): DataFrame = {
    val keep = df.columns.map(col).toSeq
    // the split-free SUITE kernel: one expression evaluation tokenizes
    // the raw bytes and yields all nine gram widths plus the joined
    // length — no regex split, no token array (RepScanSuiteKernels).
    // Staged in its own projection so it evaluates exactly once per row.
    val base = df
      .withColumn("__su",
        graft.functions.RepScanSuiteKernels.repScanSuiteCol(col(textCol)))
      .select(df.columns.map(col).toSeq
        :+ col("__su").getField("nl").as("__nl")
        :+ col("__su"): _*)
    val scanCols = (2 to 10).map { n =>
      col("__su").getField(s"sc$n").as(s"__sc$n")
    }
    // line metrics split on the literal newline (NOT \s+ — a line is a
    // layout unit); n = 1 scans the line strings themselves. Paragraphs
    // split on the blank line (\n\n) the same way.
    val lineScan = graft.functions.RepScanKernels
      .repScanCol(split(col(textCol), "\n"), 1).as("__lsc")
    val paraScan = graft.functions.RepScanKernels
      .repScanCol(split(col(textCol), "\n\n"), 1).as("__psc")
    val staged = base.select(
      (keep :+ col("__nl")) ++ scanCols :+ lineScan :+ paraScan: _*)
    def fracOf(mass: Column): Column =
      when(col("__nl") > 0,
        round(mass.cast("double") / col("__nl").cast("double"), 6))
        .otherwise(lit(0.0))
    val topCols = Seq(2, 3, 4).map { n =>
      val s = col(s"__sc$n")
      fracOf(s.getField("top_c") * length(s.getField("top_g")).cast("long"))
        .as(s"top${n}_frac")
    }
    val dupCols = (5 to 10).map { n =>
      fracOf(col(s"__sc$n").getField("dup_mass")).as(s"dup${n}_frac")
    }
    val nLines = size(split(col(textCol), "\n")).cast("long")
    val dupLineFrac = round((nLines - col("__lsc").getField("n_runs"))
      .cast("double") / nLines.cast("double"), 6).as("dup_line_frac")
    // Σ line lengths = text length minus the (L−1) newline separators
    val allChars = length(col(textCol)).cast("long") - (nLines - 1L)
    val dupLineCharFrac = when(allChars > 0,
      round(col("__lsc").getField("dup_extra").cast("double")
        / allChars.cast("double"), 6))
      .otherwise(lit(0.0)).as("dup_line_char_frac")
    // paragraph twins: Σ para lengths = text length minus 2·(P−1)
    val nParas = size(split(col(textCol), "\n\n")).cast("long")
    val dupParaFrac = round((nParas - col("__psc").getField("n_runs"))
      .cast("double") / nParas.cast("double"), 6).as("dup_para_frac")
    val allParaChars = length(col(textCol)).cast("long") - (nParas - 1L) * 2L
    val dupParaCharFrac = when(allParaChars > 0,
      round(col("__psc").getField("dup_extra").cast("double")
        / allParaChars.cast("double"), 6))
      .otherwise(lit(0.0)).as("dup_para_char_frac")
    staged.select((keep :+ dupLineFrac :+ dupParaFrac
      :+ dupLineCharFrac :+ dupParaCharFrac)
      ++ topCols ++ dupCols: _*)
  }

  /** Verdict columns over a signal frame: keep, violation count, and the
    * FIRST violated rule in [[RepThresholds]] order — shared by the batch
    * filter and the streaming gate so they can never disagree.
    */
  def repVerdictCols: Seq[Column] = {
    val violated = RepThresholds.map { case (n, t) => col(n) > lit(t) }
    val firstViol = RepThresholds.foldRight(lit(""): Column) {
      case ((n, t), rest) => when(col(n) > lit(t), lit(n)).otherwise(rest)
    }
    Seq(violated.reduce(_ || _).unary_!.as("keep"),
      violated.map(_.cast("long")).reduce(_ + _).as("n_violations"),
      firstViol.as("first_violation"))
  }

  def repSignals(spark: SparkSession, dir: String): DataFrame =
    withRepSignals(Tables.read(spark, dir, "documents").select("doc_id", "text"), "text")
      .drop("text")
      .orderBy("doc_id")

  /** rep_signals oracle CTE block + final select, kept separate so
    * rep_filter and the funnel can extend the same chain (SQL allows one
    * top-level WITH; nesting would fork the definitions).
    */
  private val (repCteBlock: String, repFinalSelect: String) = {
    val gramCtes = (2 to 10).map { n =>
      s"""c$n AS (
      SELECT doc_id, array_to_string(t[i+1:i+$n], ' ') AS g, count(*) AS c
      FROM base, unnest(range(0, greatest(len(t) - $n, 0) + 1)) AS u$n(i)
      WHERE len(t) >= $n GROUP BY doc_id, g)"""
    }
    val topCtes = Seq(2, 3, 4).map { n =>
      s"""t$n AS (
      SELECT doc_id, c * length(g) AS mass FROM (
        SELECT doc_id, g, c, row_number() OVER (
          PARTITION BY doc_id ORDER BY c DESC, length(g) DESC, g ASC) AS rn
        FROM c$n) WHERE rn = 1)"""
    }
    val dupCtes = (5 to 10).map { n =>
      s"""d$n AS (
      SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS mass
      FROM c$n GROUP BY doc_id)"""
    }
    def fracCol(cte: String, name: String) =
      s"""CASE WHEN b.nl > 0 THEN round(CAST(coalesce($cte.mass, 0) AS DOUBLE)
        / CAST(b.nl AS DOUBLE), 6) ELSE 0.0 END AS $name"""
    val topSel = Seq(2, 3, 4).map(n => fracCol(s"t$n", s"top${n}_frac"))
    val dupSel = (5 to 10).map(n => fracCol(s"d$n", s"dup${n}_frac"))
    val joins = (Seq(2, 3, 4).map(n => s"LEFT JOIN t$n USING (doc_id)")
      ++ (5 to 10).map(n => s"LEFT JOIN d$n USING (doc_id)")).mkString("\n    ")
    val ctes = s"""toks AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    base AS (
      SELECT doc_id, text, t,
        cast(length(array_to_string(t, ' ')) AS BIGINT) AS nl FROM toks),
    ${(gramCtes ++ topCtes ++ dupCtes).mkString(",\n    ")},
    lc AS (
      SELECT doc_id, line, count(*) AS c, length(line) AS ln
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
            FROM documents)
      GROUP BY doc_id, line),
    ls AS (
      SELECT doc_id, sum(c) AS nlines, count(*) AS ndist,
             sum((c - 1) * ln) AS dupchars, sum(c * ln) AS allchars
      FROM lc GROUP BY doc_id),
    pc AS (
      SELECT doc_id, para, count(*) AS c, length(para) AS ln
      FROM (SELECT doc_id,
              unnest(string_split(text, chr(10) || chr(10))) AS para
            FROM documents)
      GROUP BY doc_id, para),
    ps AS (
      SELECT doc_id, sum(c) AS nparas, count(*) AS ndist,
             sum((c - 1) * ln) AS dupchars, sum(c * ln) AS allchars
      FROM pc GROUP BY doc_id)"""
    val sel = s"""SELECT b.doc_id,
      round(CAST(ls.nlines - ls.ndist AS DOUBLE)
        / CAST(ls.nlines AS DOUBLE), 6) AS dup_line_frac,
      round(CAST(ps.nparas - ps.ndist AS DOUBLE)
        / CAST(ps.nparas AS DOUBLE), 6) AS dup_para_frac,
      CASE WHEN ls.allchars > 0 THEN round(CAST(ls.dupchars AS DOUBLE)
        / CAST(ls.allchars AS DOUBLE), 6) ELSE 0.0 END AS dup_line_char_frac,
      CASE WHEN ps.allchars > 0 THEN round(CAST(ps.dupchars AS DOUBLE)
        / CAST(ps.allchars AS DOUBLE), 6) ELSE 0.0 END AS dup_para_char_frac,
      ${(topSel ++ dupSel).mkString(",\n      ")}
    FROM base b
    JOIN ls USING (doc_id)
    JOIN ps USING (doc_id)
    $joins"""
    (ctes, sel)
  }

  /** rep_signals oracle body (no ORDER BY — shared with rep_filter). */
  private val repSignalsBody: String =
    s"WITH $repCteBlock\n    $repFinalSelect"

  val repSignalsSql: String = repSignalsBody + "\n    ORDER BY doc_id"

  /** [[repSignalsBody]] exposed for cross-family composition (the
    * combined `gopher_filter` embeds it as a nested-WITH subquery —
    * its CTE names stay scoped inside the parentheses).
    */
  def repSignalsBodyForComposition: String = repSignalsBody

  /** Gopher repetition FILTER: applies [[RepThresholds]] to the signal
    * frame. Emits every document with the keep verdict, the violation
    * count, and the FIRST violated rule in threshold-table order (so a
    * triage dashboard can group by one stable reason). Built directly on
    * the rep_signals frame — thresholds compare the same rounded values
    * both engines hash, so the verdict can never disagree with the report.
    */
  def repFilter(spark: SparkSession, dir: String): DataFrame =
    repSignals(spark, dir)
      .select(col("doc_id") +: repVerdictCols: _*)
      .orderBy("doc_id")

  val repFilterSql: String = {
    val viol  = RepThresholds.map { case (n, t) => s"($n > $t)" }
    val nViol = viol.map(v => s"CAST($v AS BIGINT)").mkString(" + ")
    val firstViol = RepThresholds.map { case (n, t) =>
      s"WHEN $n > $t THEN '$n'"
    }.mkString("\n        ")
    s"""WITH sig AS (
    $repSignalsBody)
    SELECT doc_id,
      NOT (${viol.mkString(" OR ")}) AS keep,
      $nViol AS n_violations,
      CASE $firstViol ELSE '' END AS first_violation
    FROM sig
    ORDER BY doc_id"""
  }

  // ----------------------------------------------- paragraph activation

  /** Paragraph-rule ACTIVATION proof (`rep_para`): the raw corpus is
    * single-paragraph, so `dup_para_frac`/`dup_para_char_frac` score 0 on
    * every registered document — this query plants real structure and
    * shows the rules fire. Each document is rebuilt as two
    * blank-line-separated paragraphs (first half / second half of its
    * tokens); every `doc_id % 3 == 0` document gets its first paragraph
    * repeated as a third — a planted duplicate whose
    * dup_para_frac = 1/3 > 0.30 and char mass ≈ 1/3 > 0.20 cull it,
    * while unplanted documents score exactly 0 on both rules.
    * Engine-portable construction (token slices + literal joins) so the
    * DuckDB oracle rebuilds byte-identical text. Scale shape: row-local
    * projection end-to-end — no shuffle but the presentation sort.
    */
  def repPara(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents").select("doc_id", "text")
    val withT = d.select(col("doc_id"),
      TextAnalysis.wordTokens(col("text")).as("t"))
      .withColumn("h", floor(size(col("t")) / 2).cast("int"))
    val paraA = concat_ws(" ", slice(col("t"), lit(1), col("h")))
    val paraB = concat_ws(" ",
      slice(col("t"), col("h") + 1, size(col("t")) - col("h")))
    val sep = lit("\n\n")
    val t2 = when(col("doc_id") % 3 === 0,
      concat(paraA, sep, paraB, sep, paraA))
      .otherwise(concat(paraA, sep, paraB))
    val staged = withT
      .select(col("doc_id"), t2.as("t2"))
      .select(col("doc_id"), col("t2"),
        graft.functions.RepScanKernels
          .repScanCol(split(col("t2"), "\n\n"), 1).as("__psc"))
    val nP = size(split(col("t2"), "\n\n")).cast("long")
    val dupParaFrac = round((nP - col("__psc").getField("n_runs"))
      .cast("double") / nP.cast("double"), 6)
    val allParaChars = length(col("t2")).cast("long") - (nP - 1L) * 2L
    val dupParaCharFrac = when(allParaChars > 0,
      round(col("__psc").getField("dup_extra").cast("double")
        / allParaChars.cast("double"), 6)).otherwise(lit(0.0))
    staged.select(col("doc_id"), nP.as("n_para"),
      dupParaFrac.as("dup_para_frac"),
      dupParaCharFrac.as("dup_para_char_frac"))
      .withColumn("para_keep",
        col("dup_para_frac") <= 0.30 && col("dup_para_char_frac") <= 0.20)
      .orderBy("doc_id")
  }

  val repParaSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents),
    aug AS (
      SELECT doc_id,
        array_to_string(t[1:len(t)//2], ' ')
          || chr(10) || chr(10) ||
        array_to_string(t[len(t)//2+1:len(t)], ' ')
          || CASE WHEN doc_id % 3 = 0
               THEN chr(10) || chr(10) || array_to_string(t[1:len(t)//2], ' ')
               ELSE '' END AS t2
      FROM toks),
    pc AS (
      SELECT doc_id, para, count(*) AS c, length(para) AS ln
      FROM (SELECT doc_id,
              unnest(string_split(t2, chr(10) || chr(10))) AS para FROM aug)
      GROUP BY doc_id, para),
    ps AS (
      SELECT doc_id, sum(c) AS np, count(*) AS nd,
             sum((c - 1) * ln) AS dupchars, sum(c * ln) AS allchars
      FROM pc GROUP BY doc_id),
    sig AS (
      SELECT doc_id, cast(np AS BIGINT) AS n_para,
        round(CAST(np - nd AS DOUBLE) / CAST(np AS DOUBLE), 6) AS dup_para_frac,
        CASE WHEN allchars > 0 THEN round(CAST(dupchars AS DOUBLE)
          / CAST(allchars AS DOUBLE), 6) ELSE 0.0 END AS dup_para_char_frac
      FROM ps)
    SELECT doc_id, n_para, dup_para_frac, dup_para_char_frac,
      (dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20) AS para_keep
    FROM sig
    ORDER BY doc_id"""

  // ------------------------------------------------- span dedup rewrite

  /** Window width shared with the detector ([[CorpusQueries.SpanK]]). */
  private val K = CorpusQueries.SpanK

  /** Exact-substring dedup REWRITE (Lee et al. 2022): every stride-1
    * [[K]]-token window keeps only its globally FIRST occurrence
    * (min (doc_id, position) — a total, engine-portable keep rule; both
    * cross- AND intra-document repeats count, unlike the detector
    * [[CorpusQueries.dupSpans]] which reports cross-document spans only).
    * Later occurrences' positions merge into maximal intervals, covered
    * tokens are dropped, and each document is reassembled from its
    * surviving tokens in order. Output per doc: token counts, removals,
    * and the md5 of the rewritten text — the integrity witness that both
    * engines rebuilt byte-identical documents. A fully-duplicated doc
    * rewrites to the empty string, not a dropped row.
    *
    * Scale shape (see object scaladoc): hash-keyed keeper ranking, per-doc
    * interval merge, per-doc span list, row-local HOF strip — no pair join.
    */
  def spanDedupText(spark: SparkSession, dir: String): DataFrame =
    spanDedupCore(Tables.read(spark, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - col("kept_tok")).as("n_removed"), col("kept_fp"))
      .orderBy("doc_id")

  /** The rewrite over any (doc_id, text) frame — shared by the
    * registered query and [[hygieneFunnel]] (which runs it over the
    * repetition-filtered survivor set, where the keeper ranking sees
    * only surviving documents). Emits (doc_id, n_tok, kept_tok, kept_fp).
    */
  def spanDedupCore(d: DataFrame): DataFrame = {
    val toks = d
      .select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
    // window hashes; short docs contribute one clamped whole-doc window
    val g = toks
      .select(col("doc_id"), col("n_tok"), col("t"),
        explode(sequence(lit(0), greatest(size(col("t")) - K, lit(0)))).as("i"))
      .select(col("doc_id"), col("n_tok"), col("i"),
        md5(concat_ws(" ", slice(col("t"), col("i") + 1, lit(K)))
          .cast("binary")).as("gh"))
    // keeper = global first occurrence; both window functions share the
    // gh partition, so the ranking costs ONE shuffle
    val wg = Window.partitionBy("gh")
    val rem = g
      .withColumn("rn", row_number().over(wg.orderBy("doc_id", "i")))
      .withColumn("cnt", count(lit(1)).over(wg))
      .where(col("cnt") >= 2 && col("rn") > 1)
      .select("doc_id", "n_tok", "i")
    // interval union per doc (same island rule as the detector), with the
    // end clamped to the token count for the short-doc window
    val wi = Window.partitionBy("doc_id").orderBy("i")
    val spans = rem
      .withColumn("prev", lag("i", 1).over(wi))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > K, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(wi))
      .groupBy("doc_id", "n_tok", "island")
      .agg(min("i").cast("long").as("s"),
        least(max(col("i")) + K, col("n_tok")).cast("long").as("e1"))
    val spanList = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e1"))).as("sp"))
    // row-local strip + reassembly; get() is 0-based and null-safe
    val joined = toks.join(spanList, Seq("doc_id"), "left")
      .withColumn("sp2", coalesce(col("sp"),
        array().cast("array<struct<s:bigint,e1:bigint>>")))
    val keptIdx = filter(sequence(lit(0), size(col("t")) - 1),
      i => not(exists(col("sp2"),
        sp => i >= sp.getField("s") && i < sp.getField("e1"))))
    val keptText = concat_ws(" ",
      transform(keptIdx, i => get(col("t"), i)))
    joined.select(col("doc_id"), col("n_tok"),
      size(keptIdx).cast("long").as("kept_tok"),
      md5(keptText.cast("binary")).as("kept_fp"))
  }

  /** Span-dedup CTE chain (prefix `sp_`) reading (doc_id, text) from any
    * relation — the SQL twin of [[spanDedupCore]], shared by the
    * registered rewrite (over `documents`) and the funnel (over the
    * repetition-filtered survivors).
    */
  private def spanCtes(fromRel: String): String = s"""sp_toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $fromRel),
    sp_g AS (
      SELECT doc_id, cast(len(t) AS BIGINT) AS n_tok, i,
        md5(array_to_string(t[i+1:i+$K], ' ')) AS gh
      FROM sp_toks, unnest(range(0, greatest(len(t) - $K, 0) + 1)) AS u(i)),
    sp_r AS (
      SELECT doc_id, n_tok, i,
        row_number() OVER (PARTITION BY gh ORDER BY doc_id, i) AS rn,
        count(*) OVER (PARTITION BY gh) AS cnt
      FROM sp_g),
    sp_rem AS (SELECT doc_id, n_tok, i FROM sp_r WHERE cnt >= 2 AND rn > 1),
    sp_isl AS (
      SELECT doc_id, n_tok, i,
        sum(CASE WHEN prev IS NULL OR i - prev > $K THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM (SELECT doc_id, n_tok, i,
              lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM sp_rem)),
    sp_spans AS (
      SELECT doc_id, cast(min(i) AS BIGINT) AS s,
             cast(least(max(i) + $K, n_tok) AS BIGINT) AS e1
      FROM sp_isl GROUP BY doc_id, n_tok, island),
    sp_remidx AS (
      SELECT doc_id, cast(j AS BIGINT) AS j
      FROM sp_spans, unnest(range(s, e1)) AS u(j)),
    sp_words AS (
      SELECT doc_id, cast(i AS BIGINT) AS i, t[i+1] AS w
      FROM sp_toks, unnest(range(0, len(t))) AS u(i)),
    sp_kept AS (
      SELECT w.doc_id, w.i, w.w
      FROM sp_words w LEFT JOIN sp_remidx r2 ON w.doc_id = r2.doc_id AND w.i = r2.j
      WHERE r2.j IS NULL),
    sp_agg AS (
      SELECT doc_id, count(*) AS kw,
             md5(string_agg(w, ' ' ORDER BY i)) AS fp
      FROM sp_kept GROUP BY doc_id),
    sp_out AS (
      SELECT t2.doc_id, cast(len(t2.t) AS BIGINT) AS n_tok,
        cast(coalesce(a.kw, 0) AS BIGINT) AS kept_tok,
        coalesce(a.fp, md5('')) AS kept_fp
      FROM sp_toks t2 LEFT JOIN sp_agg a USING (doc_id))"""

  val spanDedupTextSql: String = s"""
    WITH ${spanCtes("documents")}
    SELECT doc_id, n_tok, n_tok - kept_tok AS n_removed, kept_fp
    FROM sp_out
    ORDER BY doc_id"""

  // --------------------------------------------------------- the funnel

  /** End-to-end document-hygiene FUNNEL — the per-stage attrition report
    * a pipeline ships with every corpus build: stage 1 applies the
    * repetition filter, stage 2 runs the exact-substring rewrite over the
    * SURVIVORS (the keeper ranking sees only surviving documents — stage
    * order changes dedup decisions, which is why the composition is one
    * query and not three), stage 3 exact-dedups the rewritten texts by
    * fingerprint (fully-rewritten empty documents fall out at the stage-2
    * boundary). One row per stage: documents and tokens in/out.
    *
    * Scale shape: the rep stage is the row-local scan, the span stage is
    * the one window-hash shuffle, stage 3 is one fingerprint ranking;
    * the stage aggregates are single-row reductions crossed together —
    * nothing here adds a join over data.
    */
  def hygieneFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.read(spark, dir, "documents").select("doc_id", "text")
    val s0 = d0.agg(
      count(lit(1)).as("docs0"),
      sum(size(TextAnalysis.wordTokens(col("text"))).cast("long")).as("toks0"))
    // materialize the stage frames: each is read by 2-3 downstream
    // consumers (the stage aggregate + the next stage), and without this
    // every consumer re-runs the full upstream scan — measured 149.7 s
    // vs ~21 s for the stages' own costs at the sf10 replica
    val kept1 = graft.operators.Materialize(
      withRepSignals(d0, "text")
        .select(col("doc_id") +: col("text") +: repVerdictCols: _*)
        .where(col("keep")).select("doc_id", "text"))
    val s1 = kept1.agg(
      count(lit(1)).as("docs1"),
      sum(size(TextAnalysis.wordTokens(col("text"))).cast("long")).as("toks1"))
    val sd = graft.operators.Materialize(spanDedupCore(kept1))
    val s2 = sd.agg(
      count(when(col("kept_tok") > 0, 1)).as("docs2"),
      coalesce(sum("kept_tok"), lit(0L)).as("toks2"))
    val keep3 = sd.where(col("kept_tok") > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy("kept_fp").orderBy("doc_id")))
      .where(col("rn") === 1)
    val s3 = keep3.agg(
      count(lit(1)).as("docs3"),
      coalesce(sum("kept_tok"), lit(0L)).as("toks3"))
    // NOT materialized (measured 2.5 -> 3.0 s): the three presentation
    // selects re-evaluate the four stage aggregates, but those run as
    // parallel subtrees of one job over the already-materialized stage
    // frames (and ReuseExchange dedups the aggregate exchanges);
    // checkpointing the 1-row summary serializes the DAG for nothing
    val all = s0.crossJoin(s1).crossJoin(s2).crossJoin(s3)
    val rows = Seq(
      (1L, "rep_filter", "docs0", "docs1", "toks0", "toks1"),
      (2L, "span_dedup", "docs1", "docs2", "toks1", "toks2"),
      (3L, "exact_dedup", "docs2", "docs3", "toks2", "toks3"))
    rows.map { case (id, nm, di, dout, ti, tout) =>
      all.select(lit(id).as("stage"), lit(nm).as("name"),
        col(di).as("docs_in"), col(dout).as("docs_out"),
        col(ti).as("tokens_in"), col(tout).as("tokens_out"))
    }.reduce(_.union(_)).orderBy("stage")
  }

  val hygieneFunnelSql: String = {
    val keepCond = "NOT (" +
      RepThresholds.map { case (n, t) => s"($n > $t)" }.mkString(" OR ") + ")"
    s"""WITH $repCteBlock,
    sig AS (
    $repFinalSelect),
    keep1 AS (
      SELECT b.doc_id, b.text FROM base b JOIN sig s USING (doc_id)
      WHERE $keepCond),
    s0 AS (SELECT count(*) AS docs0,
                  cast(coalesce(sum(len(t)), 0) AS BIGINT) AS toks0 FROM base),
    s1 AS (SELECT count(*) AS docs1,
                  cast(coalesce(sum(len(string_split_regex(trim(text), '\\s+'))), 0) AS BIGINT) AS toks1
           FROM keep1),
    ${spanCtes("keep1")},
    s2 AS (SELECT count(*) FILTER (WHERE kept_tok > 0) AS docs2,
                  cast(coalesce(sum(kept_tok), 0) AS BIGINT) AS toks2 FROM sp_out),
    keep3 AS (
      SELECT doc_id, kept_tok FROM (
        SELECT doc_id, kept_tok,
          row_number() OVER (PARTITION BY kept_fp ORDER BY doc_id) AS rn
        FROM sp_out WHERE kept_tok > 0) WHERE rn = 1),
    s3 AS (SELECT count(*) AS docs3,
                  cast(coalesce(sum(kept_tok), 0) AS BIGINT) AS toks3 FROM keep3)
    SELECT cast(1 AS BIGINT) AS stage, 'rep_filter' AS name,
           docs0 AS docs_in, docs1 AS docs_out,
           toks0 AS tokens_in, toks1 AS tokens_out FROM s0, s1
    UNION ALL
    SELECT cast(2 AS BIGINT), 'span_dedup', docs1, docs2, toks1, toks2 FROM s1, s2
    UNION ALL
    SELECT cast(3 AS BIGINT), 'exact_dedup', docs2, docs3, toks2, toks3 FROM s2, s3
    ORDER BY stage"""
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rep_signals"     -> (repSignals _),
    "rep_filter"      -> (repFilter _),
    "rep_para"        -> (repPara _),
    "span_dedup_text" -> (spanDedupText _),
    "hygiene_funnel"  -> (hygieneFunnel _))

  val oracle: Map[String, String] = Map(
    "rep_signals"     -> repSignalsSql,
    "rep_filter"      -> repFilterSql,
    "rep_para"        -> repParaSql,
    "span_dedup_text" -> spanDedupTextSql,
    "hygiene_funnel"  -> hygieneFunnelSql)
}
