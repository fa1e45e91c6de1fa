package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus curation: tokenization
  * stats, language ID, quality scoring, and content fingerprinting
  * (the training-data-pipeline surface, BASELINE.json north star).
  *
  * Everything is a narrow per-row projection over built-in/higher-order
  * functions — no UDFs, no shuffle; these run at scan speed and
  * column-prune down to (doc_id, text) at the parquet reader.
  */
object TextAnalysis {

  /** Whitespace word tokens of a trimmed string. */
  def wordTokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish subword count: word runs plus isolated punctuation. */
  def regexTokenCount(c: Column): Column =
    regexp_count(c, lit("\\w+|[^\\w\\s]")).cast("long")

  /** Sum of token lengths via a codegen'd fold (no explode/shuffle). */
  def totalTokenLength(tokens: Column): Column =
    aggregate(tokens, lit(0L), (acc, w) => acc + length(w))

  /** Count of tokens that appear in a fixed vocabulary. */
  def vocabHits(tokens: Column, vocab: Seq[String]): Column =
    size(filter(tokens, t => t.isin(vocab.map(x => x: Any): _*))).cast("long")

  /** Stopword inventories for the n-gram-heuristic language ID. Disjoint
    * across languages so scores never double-count.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "que", "un", "una", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "im"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans", "pour", "une", "au", "ce"))

  /** Language scores + argmax with a fixed precedence (en>es>de>fr) so
    * ties are deterministic.
    */
  def langScores(tokens: Column): Map[String, Column] =
    Stopwords.map { case (lang, words) => lang -> vocabHits(tokens, words) }

  def langPredict(s: Map[String, Column]): Column =
    when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr"), "en")
      .when(s("es") >= s("de") && s("es") >= s("fr"), "es")
      .when(s("de") >= s("fr"), "de")
      .otherwise("fr")

  /** Punctuation-ish character count (anything not word/space). */
  def punctCount(c: Column): Column =
    regexp_count(c, lit("[^\\w\\s]")).cast("long")

  /** Normalized text for fingerprinting: lowercase alphanumerics only. */
  def normalizedText(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** Content fingerprint: md5 of the normalized text (engine-portable). */
  def fingerprint(c: Column): Column = md5(normalizedText(c).cast("binary"))

  /** Winnowing fingerprints (rolling-hash document fingerprinting, à la
    * MOSS): hash every word n-gram, slide a w-gram window over the
    * positions, keep the minimum hash of each window, emit the distinct
    * minima. Robust to local edits: only windows overlapping a change
    * produce different fingerprints, so shared-substring detection
    * reduces to an equi-join on (fingerprint).
    *
    * Hash = md5 hex string, chosen deliberately: it is computable
    * bit-identically by any engine (the DuckDB oracle included), and
    * lexicographic MIN over hex strings is a total order both engines
    * agree on.
    *
    * The whole winnow is ROW-LOCAL: grams and window minima derive from
    * the one token array, so they're computed with array HOFs inside the
    * projection and only the final distinct (id, fp) rows leave the row.
    * The alternative — explode grams, shuffle on id, sort, window-min —
    * ships |tokens| rows per document through a shuffle: a ~10× data
    * amplification that IS the bottleneck at corpus scale. (HOFs are
    * interpreted, but md5 dominates per-gram cost either way; measured
    * faster warm at sf0.1 than the explode+window form, and shuffle-free.)
    *
    * Precondition: `df` is a scan-side frame (a projection/filter over
    * a source scan, no shuffle in its plan) — it goes through
    * [[Relational.spreadToCores]], which rejects anything else.
    */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    // input spread over cores before the per-position md5 pass
    // (identity at cluster scale): winnowing is the expensive-per-row
    // md5 regime where the spread pays — A/B round 18 over the six
    // winnow consumers: fingerprint_winnow 0.93 -> 0.35 s, decon_spans
    // 2.37 -> 1.68, cross_source_overlap 1.79 -> 1.14, dup_clusters
    // 1.81 -> 1.33, cluster_rep 2.10 -> 1.78, dup_cluster_sizes
    // 1.91 -> 1.53 (same-window subset bench), oracle-green
    val toks = Relational.spreadToCores(df)
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("t"))
    // gram hashes at every start position 0..max(L-n,0); slice clamps at
    // the tail exactly like the skipped-null concat of out-of-range gets
    val grams = transform(
      sequence(lit(0), greatest(size(col("t")) - n, lit(0))),
      i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(n))).cast("binary")))
    // per-position sliding-window min, tail windows shortening like a
    // rowsBetween(current, w-1) frame; distinct minima = the fingerprints
    val fps = array_distinct(
      transform(col("g"), (_, k) => array_min(slice(col("g"), k + 1, lit(w)))))
    toks
      .select(col("id"), grams.as("g"))
      .select(col("id"), explode(fps).as("fp"))
  }

  /** Composite quality score in [0,1]: length, lexical diversity,
    * stopword density, and word-length sanity. Single-pass, pure doubles
    * with a fixed operation order so any engine reproduces it bit-exactly.
    */
  def qualityScore(text: Column): Column = {
    val toks     = wordTokens(text)
    val nChars   = length(text).cast("double")
    val nWords   = size(toks).cast("double")
    val nUniq    = size(array_distinct(toks)).cast("double")
    val avgLen   = totalTokenLength(toks).cast("double") / nWords
    val stopHits = vocabHits(toks, Stopwords.values.flatten.toSeq).cast("double")
    val lenScore  = least(lit(1.0), nChars / lit(500.0))
    val ttr       = nUniq / nWords
    val stopScore = least(lit(1.0), (stopHits / nWords) * lit(5.0))
    val lenOk     = when(avgLen >= 3.0 && avgLen <= 12.0, 1.0).otherwise(0.25)
    round(lenScore * 0.4 + ttr * 0.2 + stopScore * 0.2 + lenOk * 0.2, 6)
  }
}
