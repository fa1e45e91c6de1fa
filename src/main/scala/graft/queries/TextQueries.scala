package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis._
import graft.sources.Tables

/** Text-analysis queries over `documents` (doc_id, text, lang, source,
  * n_chars): stats, language ID, quality scoring, fingerprinting, exact
  * dedup, and the multimodal binary-column plumbing. All per-row
  * projections except dedup (one shuffle on the text hash).
  */
object TextQueries extends QueryModule {

  /** DuckDB-side token list (mirrors [[wordTokens]]). */
  private val toksSql = "string_split_regex(trim(text), '\\s+')"

  // ----------------------------------------------------------- text stats

  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      // stage the token array once; downstream stats read the column
      .select(col("doc_id"), col("text"), wordTokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(col("toks")).cast("long").as("n_words"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq_words"),
        totalTokenLength(col("toks")).as("sum_word_len"),
        punctCount(col("text")).as("n_punct"))
      .withColumn("avg_word_len", col("sum_word_len").cast("double") / col("n_words"))
      .select("doc_id", "n_chars_m", "n_words", "n_uniq_words", "sum_word_len",
        "avg_word_len", "n_punct")
      .orderBy("doc_id")

  val textStatsSql: String = s"""
    SELECT doc_id,
      cast(length(text) AS BIGINT) AS n_chars_m,
      cast(len($toksSql) AS BIGINT) AS n_words,
      cast(len(list_distinct($toksSql)) AS BIGINT) AS n_uniq_words,
      cast(list_sum(list_transform($toksSql, w -> length(w))) AS BIGINT) AS sum_word_len,
      cast(list_sum(list_transform($toksSql, w -> length(w))) AS DOUBLE)
        / len($toksSql) AS avg_word_len,
      cast(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct
    FROM documents
    ORDER BY doc_id"""

  // ---------------------------------------------------------- token count

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents").select(
      col("doc_id"),
      size(wordTokens(col("text"))).cast("long").as("ws_tokens"),
      regexTokenCount(col("text")).as("re_tokens"))
      .orderBy("doc_id")

  val tokenCountSql: String = s"""
    SELECT doc_id,
      cast(len($toksSql) AS BIGINT) AS ws_tokens,
      cast(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS re_tokens
    FROM documents
    ORDER BY doc_id"""

  // -------------------------------------------------------------- lang id

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks   = wordTokens(lower(col("text")))
    val scores = langScores(toks)
    Tables.read(spark, dir, "documents").select(
      col("doc_id"), col("lang").as("labeled_lang"),
      scores("en").as("s_en"), scores("es").as("s_es"),
      scores("de").as("s_de"), scores("fr").as("s_fr"),
      langPredict(scores).as("predicted_lang"))
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    val lt = "string_split_regex(trim(lower(text)), '\\s+')"
    def hits(words: Seq[String]) =
      s"cast(len(list_filter($lt, t -> t IN (${words.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"
    val en = hits(Stopwords("en")); val es = hits(Stopwords("es"))
    val de = hits(Stopwords("de")); val fr = hits(Stopwords("fr"))
    s"""
    SELECT doc_id, lang AS labeled_lang,
      $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr,
      CASE WHEN $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
           WHEN $es >= $de AND $es >= $fr THEN 'es'
           WHEN $de >= $fr THEN 'de'
           ELSE 'fr' END AS predicted_lang
    FROM documents
    ORDER BY doc_id"""
  }

  /** Confusion matrix of the n-gram language heuristic against the
    * stored labels — the calibration report that tells a router WHICH
    * confusions happen (en→fr vs en→de need different fixes), where
    * a single accuracy number can't. One aggregation over one scan;
    * the per-label share divides exact counts from a window over the
    * ≤|langs|² matrix frame.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = langScores(wordTokens(lower(col("text"))))
    Tables.read(spark, dir, "documents")
      .select(col("lang").as("labeled"), langPredict(scores).as("predicted"))
      .groupBy("labeled", "predicted").agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("labeled")).cast("double"), 6))
      .orderBy("labeled", "predicted")
  }

  val langidConfusionSql: String = {
    val lt = "string_split_regex(trim(lower(text)), '\\s+')"
    def hits(words: Seq[String]) =
      s"cast(len(list_filter($lt, t -> t IN (${words.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"
    val en = hits(Stopwords("en")); val es = hits(Stopwords("es"))
    val de = hits(Stopwords("de")); val fr = hits(Stopwords("fr"))
    s"""
    WITH p AS (
      SELECT lang AS labeled,
        CASE WHEN $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
             WHEN $es >= $de AND $es >= $fr THEN 'es'
             WHEN $de >= $fr THEN 'de'
             ELSE 'fr' END AS predicted
      FROM documents),
    m AS (SELECT labeled, predicted, count(*) AS n FROM p GROUP BY 1, 2)
    SELECT labeled, predicted, n,
      round(cast(n AS DOUBLE) /
        cast(sum(n) OVER (PARTITION BY labeled) AS DOUBLE), 6) AS share
    FROM m
    ORDER BY labeled, predicted"""
  }

  /** Block size cap and edit-distance threshold for [[dedupEdit]]. */
  val EditBlockCap = 50
  val EditMax = 3

  /** Edit-distance near-dup pairs — the one dedup modality set-overlap
    * signatures can't see (a handful of in-place character edits moves
    * few grams but IS a near-dup): canonical-prefix blocking (the
    * [[dedupCanonical]] key's first 12 chars), hot blocks capped at
    * [[EditBlockCap]] members (the capGramDocFreq scale guard, mirrored
    * as a QUALIFY), a |len Δ| ≤ [[EditMax]] lower-bound prune, then the
    * exact Levenshtein verify — Spark's THRESHOLDED 3-arg
    * `levenshtein` bails out of the DP early above the cut, the oracle
    * recomputes it unbounded and filters. Pure function surface, fully
    * oracle-checkable (unlike the hash-seeded signature paths).
    */
  def dedupEdit(spark: SparkSession, dir: String): DataFrame =
    editPairs(Tables.read(spark, dir, "documents")).orderBy("a_id", "b_id")

  /** The blocked Levenshtein body over any (doc_id, text) frame —
    * shared by [[dedupEdit]] and the consensus union
    * (`CorpusQueries.dedupConsensus`).
    */
  private[graft] def editPairs(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = trim(regexp_replace(
      graft.functions.Accent.deaccent(lower(col("text"))), "[^a-z0-9]+", " "))
    val blocked = d
      .select(col("doc_id"), canon.as("c"))
      .withColumn("blk", substring(col("c"), 1, 12))
      .withColumn("len", length(col("c")))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("blk")))
      .filter(col("bn") <= EditBlockCap)
    val l = blocked.select(col("blk"), col("doc_id").as("a_id"),
      col("c").as("ca"), col("len").as("la"))
    val r = blocked.select(col("blk"), col("doc_id").as("b_id"),
      col("c").as("cb"), col("len").as("lb"))
    l.join(r, Seq("blk"))
      .filter(col("a_id") < col("b_id") && abs(col("la") - col("lb")) <= EditMax)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ca"), col("cb"), EditMax).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  val dedupEditSql: String = s"""
    WITH c AS (
      SELECT doc_id,
        trim(regexp_replace(strip_accents(lower(text)), '[^a-z0-9]+', ' ', 'g')) AS c
      FROM documents),
    b AS (
      SELECT doc_id, c, substring(c, 1, 12) AS blk, length(c) AS len
      FROM c
      QUALIFY count(*) OVER (PARTITION BY substring(c, 1, 12)) <= $EditBlockCap)
    SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
      cast(levenshtein(a.c, b2.c) AS BIGINT) AS dist
    FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id
      AND abs(a.len - b2.len) <= $EditMax
    WHERE levenshtein(a.c, b2.c) <= $EditMax
    ORDER BY a_id, b_id"""

  // ------------------------------------------------------- quality score

  def qualityScoreQ(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Deflate-compressibility quality signal (Gopher-style) as a
    * TOLERANCE-ORACLE query. SQL has no zlib surface, so the raw ratio
    * can't be cross-checked value-for-value; instead the query emits
    * the portable exact byte length plus an `in_bounds` flag asserting
    * deflate's STRUCTURAL invariants, which any correct zlib must
    * satisfy and DuckDB mirrors as a literal:
    *   - output ≤ deflateBound(raw):  dl ≤ raw + raw/1000 + 13
    *     (worst-case stored-block expansion, zlib's own bound), and
    *   - max compression 1032:1:      dl·1032 ≥ raw
    *     (deflate emits ≥2 bits per 258-byte match).
    * The ratio itself and the 0.35 `repetitive` cut stay available via
    * `Compress.deflateRatio`; CompressSpec pins the kernel on planted
    * extremes (runs, high-entropy text, empty, unicode) and partition
    * invariance. Scale shape: map-only projection, one codegen span
    * over the scan.
    */
  def compressRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_len"),
        graft.functions.Compress.deflateLen(col("text")).as("dl"))
      .select(col("doc_id"), col("raw_len"),
        ((col("dl") <= col("raw_len") + col("raw_len") / 1000 + lit(13L)) &&
         (col("dl") * lit(1032L) >= col("raw_len")))
          .cast("long").as("in_bounds"))
      .orderBy("doc_id")

  val compressRatioSql: String = """
    SELECT doc_id,
      cast(octet_length(encode(text)) AS BIGINT) AS raw_len,
      CASE WHEN text IS NOT NULL THEN cast(1 AS BIGINT) END AS in_bounds
    FROM documents
    ORDER BY doc_id"""

  val qualityScoreSql: String = {
    val allStops = Stopwords.values.flatten.toSeq.map(w => s"'$w'").mkString(", ")
    s"""
    SELECT doc_id, round(
        least(1.0, cast(length(text) AS DOUBLE) / 500.0) * 0.4
      + (cast(len(list_distinct($toksSql)) AS DOUBLE)
         / cast(len($toksSql) AS DOUBLE)) * 0.2
      + least(1.0, (cast(len(list_filter($toksSql, t -> t IN ($allStops))) AS DOUBLE)
                    / cast(len($toksSql) AS DOUBLE)) * 5.0) * 0.2
      + (CASE WHEN cast(list_sum(list_transform($toksSql, w -> length(w))) AS DOUBLE)
                     / cast(len($toksSql) AS DOUBLE) BETWEEN 3.0 AND 12.0
              THEN 1.0 ELSE 0.25 END) * 0.2, 6) AS quality
    FROM documents
    ORDER BY doc_id"""
  }

  // -------------------------------------------------------- fingerprints

  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("fp16", substring(col("fp"), 1, 16))
      .orderBy("doc_id")

  val docFingerprintSql: String = """
    SELECT doc_id,
      md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
      substr(md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')), 1, 16) AS fp16
    FROM documents
    ORDER BY doc_id"""

  // --------------------------------------------------------- exact dedup

  /** Exact dedup: keep the lowest doc_id per distinct text. One shuffle
    * keyed by the text (hash-partitioned); at 100 TB you'd key by
    * md5(text) to bound key width — fp column shows the pattern.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")

  val dedupExactSql: String = """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS fp
    FROM documents
    GROUP BY text
    ORDER BY doc_id"""

  /** Canonical-form dedup: collapse documents equal modulo case,
    * diacritics, punctuation, and whitespace runs — the normalization
    * layer [[dedupExact]]'s byte-identity misses (web corpora are full
    * of `Café`/`cafe` and reflowed copies). The canonical key runs
    * through the custom codegen'd [[graft.functions.Accent]] NFKD
    * expression (the ETL surface's own kernel, mirrored by DuckDB's
    * `strip_accents` — the equivalence the whole ETL oracle family
    * already proves) then folds non-alphanumerics to single spaces.
    * Same one-exchange group-and-argmin shape as dedup_exact; the
    * canonical md5 travels instead of the text.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      graft.functions.Accent.deaccent(lower(col("text"))), "[^a-z0-9]+", " "))
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), md5(canon.cast("binary")).as("cfp"))
      .groupBy("cfp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"), col("cfp"))
      .orderBy("doc_id")
  }

  val dedupCanonicalSql: String = """
    WITH c AS (
      SELECT doc_id,
        md5(trim(regexp_replace(strip_accents(lower(text)), '[^a-z0-9]+', ' ', 'g'))) AS cfp
      FROM documents)
    SELECT min(doc_id) AS doc_id, count(*) AS n_variants, cfp
    FROM c
    GROUP BY cfp
    ORDER BY doc_id"""

  // ----------------------------------------------- multimodal plumbing

  /** Multimodal column plumbing: the corpus has no real image/audio, so
    * the binary payload is the utf-8 encoding of `text` — but the
    * engine-side shape (binary column + typed metadata + content hash)
    * is exactly what a decode/feature-extract stage consumes
    * (see graft.operators.Multimodal for the stubbed decode).
    *
    * `decoded_real` (BIGINT 0/1, per the repo's boolean-column oracle
    * convention) is the STUB BOUNDARY made visible: the engine runs the
    * real decode attempt per row ([[graft.operators.Multimodal.decodesReal]],
    * the exact branch condition of the decode stage), so a user reading
    * this metadata can never mistake fabricated stub features for
    * measured ones. On this corpus every payload is utf-8 prose — no
    * valid PNG/JPEG/GIF/WAV/Y4M container — so the oracle value is a
    * constant 0; a prose payload that somehow decoded would flip the
    * engine bit and fail the hash gate visibly, which is the point.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Multimodal.withPayload(Tables.read(spark, dir, "documents"))
      .select(
        col("doc_id").cast("long"), col("source"), col("kind"),
        col("payload"), md5(col("payload")).as("content_md5"))
      .as[(Long, String, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, src, kind, payload, m) =>
        (id, src, kind, payload.length.toLong, m,
          if (graft.operators.Multimodal.decodesReal(kind, payload)) 1L else 0L)
      })
      .toDF("doc_id", "source", "kind", "byte_len", "content_md5", "decoded_real")
      .orderBy("doc_id")
  }

  val multimodalMetaSql: String = """
    SELECT doc_id, source,
      CASE ((doc_id % 3) + 3) % 3 WHEN 1 THEN 'audio' WHEN 2 THEN 'video' ELSE 'image' END AS kind,
      cast(octet_length(encode(text)) AS BIGINT) AS byte_len,
      md5(text) AS content_md5,
      cast(0 AS BIGINT) AS decoded_real
    FROM documents
    ORDER BY doc_id"""

  /** Corpus-statistics rarity score: per document, the mean and max
    * document-frequency ratio of its DISTINCT tokens — the signal for
    * "this doc is made entirely of ubiquitous tokens" (template/
    * boilerplate pages) vs "this doc has distinctive vocabulary", the
    * frequency-based cousin of TF-IDF used as a curation gate.
    *
    * Scale shape: distinct (doc, token) pairs shuffle once; the token
    * document-frequency aggregate is map-side combined (one row per
    * token on the wire); the join back is keyed by token and carries no
    * amplification (df frame is 1 row/token). The corpus size joins as a
    * broadcast one-row frame — no driver round-trip. All arithmetic is
    * exact integers until one final double division per output cell.
    */
  def tokenRarity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val toks = graft.operators.Materialize(
      d.select(col("doc_id"), explode(wordTokens(col("text"))).as("tok")).distinct())
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = broadcast(d.agg(count(lit(1)).as("n_docs")))
    toks.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("df")).as("sum_df"),
        max(col("df")).as("max_df"))
      .crossJoin(total)
      .select(col("doc_id"), col("n_distinct"),
        round(col("sum_df").cast("double")
          / (col("n_distinct") * col("n_docs")).cast("double"), 6).as("mean_df_ratio"),
        round(col("max_df").cast("double") / col("n_docs").cast("double"), 6).as("max_df_ratio"))
      .orderBy("doc_id")
  }

  val tokenRaritySql: String = s"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest($toksSql) AS tok FROM documents),
    total AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
    SELECT doc_id, count(*) AS n_distinct,
      round(cast(sum(df) AS DOUBLE)
        / cast(count(*) * (SELECT n_docs FROM total) AS DOUBLE), 6) AS mean_df_ratio,
      round(cast(max(df) AS DOUBLE)
        / cast((SELECT n_docs FROM total) AS DOUBLE), 6) AS max_df_ratio
    FROM toks JOIN df USING (tok)
    GROUP BY doc_id
    ORDER BY doc_id"""

  // -------------------------------------------------- corpus analytics

  /** Token explode → per-source top-3 words (Generator + keyed top-k:
    * the canonical corpus-vocabulary query; ties broken lexically).
    */
  def topWords(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.topKPerGroup(
      Tables.read(spark, dir, "documents")
        .select(col("source"), explode(wordTokens(lower(col("text")))).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("n")),
      Seq("source"), col("n"), col("word"), 3)
      .orderBy("source", "rk")

  val topWordsSql: String = """
    WITH w AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents),
    counted AS (
      SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
    ranked AS (
      SELECT source, word, n,
        cast(row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS BIGINT) AS rk
      FROM counted)
    SELECT source, word, n, rk FROM ranked WHERE rk <= 3
    ORDER BY source, rk"""

  /** Regex field extraction: numeric id out of the doc source tag. */
  def regexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents").select(
      col("doc_id"),
      regexp_extract(col("source"), "src(\\d+)", 1).cast("long").as("src_num"),
      regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"))
      .orderBy("doc_id")

  val regexExtractSql: String = """
    SELECT doc_id,
      cast(regexp_extract(source, 'src(\d+)', 1) AS BIGINT) AS src_num,
      regexp_extract(text, '^(\w+)', 1) AS first_word
    FROM documents
    ORDER BY doc_id"""

  // ----------------------------------------------------------- tf-idf

  /** Per-document top-3 TF-IDF terms: term frequencies from an explode +
    * count, document frequencies as a (vocab-sized, broadcast) side
    * aggregate, corpus size as a broadcast one-row frame. Ranking uses
    * the RAW score (both engines compute the identical expression; the
    * rounded value is for display), term as tiebreak.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val tf = d
      .select(col("doc_id"), explode(wordTokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))).as("raw"))
    graft.operators.Relational
      .topKPerGroup(scored, Seq("doc_id"), col("raw"), col("term"), 3)
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("raw"), 6).as("score"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  val tfidfTopTermsSql: String = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
        tf * ln((n_docs + 1.0) / (df + 1.0)) AS raw
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, raw,
        cast(row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS BIGINT) AS rk
      FROM scored)
    SELECT doc_id, term, cast(tf AS BIGINT) AS tf, round(raw, 6) AS score, rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk"""

  /** Per-source vocabulary statistics (Zipf-tail signal): token total,
    * distinct vocabulary, and hapax-legomena ratio.
    */
  /** Cumulative vocabulary coverage: the share of all corpus tokens
    * covered by the top-k most frequent words, at k ∈ {10, 100, 1000}
    * — the curve that sizes a tokenizer budget ("how big must V be
    * before OOV stops hurting"). Rank and cumulative mass are windows
    * over the VOCAB frame (dim-sized — the corpus itself reduces in
    * one combinable count first); `k_eff` reports the clamp when the
    * vocabulary is smaller than k. All integers until the one share
    * division.
    */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.read(spark, dir, "documents")
      .select(explode(wordTokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w"))
    val ranked = cnt.select(col("c"),
      row_number().over(w).as("rk"),
      sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
    val total = cnt.agg(sum("c").as("total"))
    Seq(10, 100, 1000).map { k =>
      ranked.filter(col("rk") <= k)
        .agg(max("rk").as("ke"), max("cum").as("covered"))
        .select(lit(k.toLong).as("k"), col("ke").cast("long").as("k_eff"),
          col("covered"))
    }.reduce(_.union(_))
      .crossJoin(broadcast(total))
      .select(col("k"), col("k_eff"), col("covered"), col("total"),
        round(col("covered").cast("double") / col("total").cast("double"), 6)
          .as("share"))
      .orderBy("k")
  }

  val coverageCurveSql: String = """
    WITH cnt AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
      GROUP BY 1),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk,
        sum(c) OVER (ORDER BY c DESC, w
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnt),
    t AS (SELECT sum(c) AS total FROM cnt),
    ks(k) AS (VALUES (10), (100), (1000))
    SELECT cast(ks.k AS BIGINT) AS k, cast(max(r.rk) AS BIGINT) AS k_eff,
      cast(max(r.cum) AS BIGINT) AS covered, cast(t.total AS BIGINT) AS total,
      round(cast(max(r.cum) AS DOUBLE) / t.total, 6) AS share
    FROM ks JOIN r ON r.rk <= ks.k CROSS JOIN t
    GROUP BY ks.k, t.total
    ORDER BY k"""

  /** Rank-frequency Zipf fit over the top-1000 words: OLS slope and
    * intercept of ln(freq) on ln(rank) — the one-number "does this
    * corpus look like natural language" audit (natural text sits near
    * slope −1; templated/synthetic corpora flatten). Cross-engine
    * determinism: each transcendental ln SNAPS to DECIMAL(18,9) once,
    * the OLS moments accumulate exactly over the snapped values, and
    * slope/intercept are single agreed double expressions over those
    * sums — the `regr_per_group` discipline extended to log space.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.read(spark, dir, "documents")
      .select(explode(wordTokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = cnt
      .select(col("c"),
        row_number().over(Window.orderBy(col("c").desc, col("w"))).as("rk"))
      .filter(col("rk") <= 1000)
    val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(18,9)")
    val xy = ranked.select(dec(log(col("rk").cast("double"))).as("x"),
      dec(log(col("c").cast("double"))).as("y"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  val zipfSlopeSql: String = """
    WITH cnt AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
      GROUP BY 1),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM cnt
      QUALIFY rk <= 1000),
    xy AS (
      SELECT cast(ln(cast(rk AS DOUBLE)) AS DECIMAL(18,9)) AS x,
        cast(ln(cast(c AS DOUBLE)) AS DECIMAL(18,9)) AS y
      FROM r),
    s AS (
      SELECT count(*) AS n, cast(sum(x) AS DOUBLE) AS sx,
        cast(sum(y) AS DOUBLE) AS sy, cast(sum(x * y) AS DOUBLE) AS sxy,
        cast(sum(x * x) AS DOUBLE) AS sxx
      FROM xy)
    SELECT n,
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        AS intercept
    FROM s"""

  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("source"), explode(wordTokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_ratio"))
      .orderBy("source")

  val vocabStatsSql: String = """
    WITH counts AS (
      SELECT source, tok, count(*) AS c FROM (
        SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
      GROUP BY source, tok)
    SELECT source,
      cast(sum(c) AS BIGINT) AS n_tokens,
      count(*) AS vocab,
      cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      round(cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS hapax_ratio
    FROM counts
    GROUP BY source
    ORDER BY source"""

  /** Character-distribution diversity (Simpson index): 1 − Σ(c/n)² per
    * document, plus the distinct-character count. A perplexity-proxy
    * quality gate with PURELY RATIONAL arithmetic — counts are exact
    * integers and the single double division is IEEE-identical on any
    * engine, so unlike an entropy (log₂) formulation there is no
    * transcendental last-ulp risk in the oracle hash.
    */
  def charDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_chars_d"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("doc_id"), col("n_chars_d"), col("n_distinct_chars"),
        round(lit(1.0) - col("s2").cast("double")
          / (col("n_chars_d") * col("n_chars_d")).cast("double"), 6).as("simpson"))
      .orderBy("doc_id")

  val charDiversitySql: String = """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars
      WHERE length(ch) = 1
      GROUP BY doc_id, ch)
    SELECT doc_id,
      cast(sum(c) AS BIGINT) AS n_chars_d,
      count(*) AS n_distinct_chars,
      round(1.0 - cast(sum(c * c) AS DOUBLE)
        / cast(sum(c) * sum(c) AS DOUBLE), 6) AS simpson
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------------------ OOV rate

  /** Budgeted-vocabulary size for the coverage eval. */
  val OovV = 20

  /** Held-out vocabulary coverage: train a budget-V word vocabulary on
    * every source EXCEPT src19 (top [[OovV]] by count under a total
    * (count desc, word) order), then measure each source's
    * out-of-vocabulary token share — the tokenizer-coverage eval run
    * before fixing a vocab, with src19 as the genuinely held-out row.
    * The vocab is ≤V rows (broadcast); the corpus word stream shuffles
    * only for the final per-source aggregation.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.read(spark, dir, "documents")
      .select(col("source"),
        explode(graft.operators.TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
    val vocab = words.filter(col("source") =!= "src19")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(OovV)
      .select(col("w"), lit(1L).as("inv"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .orderBy("source")
  }

  val oovRateSql: String = s"""
    WITH words AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    w2 AS (SELECT * FROM words WHERE w != ''),
    vocab AS (
      SELECT w FROM w2 WHERE source != 'src19'
      GROUP BY w ORDER BY count(*) DESC, w LIMIT $OovV)
    SELECT source, count(*) AS n_tokens,
      cast(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        AS oov_rate
    FROM w2 LEFT JOIN vocab v USING (w)
    GROUP BY source ORDER BY source"""

  // -------------------------------------------------- conditional entropy

  /** Per-source token entropy vs. bigram CONDITIONAL entropy, in nats:
    * H(B|A) = Σ_ab (c_ab/N)·ln(c_a/c_ab) against the source's own
    * bigram counts, with the unigram H over the same prefix marginals
    * (c_a = Σ_b c_ab, so both distributions normalize over the same N).
    * The gap H − H(B|A) is the one-step information gain — templated
    * corpora (next word near-determined) collapse H(B|A) toward 0
    * while H stays high, which no unigram audit can see.
    *
    * Determinism discipline: every transcendental ln SNAPS to
    * DECIMAL(18,9) once, then multiplies an exact integer count in a
    * decimal lane and SUMS exactly (partition-order independent — the
    * zipf_slope regime, not the doc_logprob ±1e-4 regime); the single
    * division per output cell is an agreed double expression. Scale
    * shape: bigrams expand row-locally (no positional self-join), the
    * marginal reuses the bigram counts (no second corpus pass), and the
    * (source, a) join is an aggregate-to-aggregate equi-join — every
    * frame after the first groupBy is vocabulary-sized, not corpus-sized.
    */
  def condEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec9: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(18, 9))
    val cnt: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val bi = Tables.read(spark, dir, "documents")
      .select(col("source"), wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
        .as("p"))
      .select(col("source"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("source", "a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("source", "a").agg(sum(col("c_ab")).as("c_a"))
    val n = ca.groupBy("source").agg(sum(col("c_a")).as("n_bigrams"),
      count(lit(1)).as("vocab_a"))
    val condSum = cab.join(ca, Seq("source", "a"))
      .groupBy("source")
      .agg(sum(dec9(log(col("c_a").cast("double") / col("c_ab").cast("double")))
        * cnt(col("c_ab"))).as("sc"))
    val uniSum = ca.join(broadcast(n), Seq("source"))
      .groupBy("source")
      .agg(sum(dec9(log(col("n_bigrams").cast("double") / col("c_a").cast("double")))
        * cnt(col("c_a"))).as("su"))
    n.join(condSum, Seq("source")).join(uniSum, Seq("source"))
      .select(col("source"), col("n_bigrams"), col("vocab_a"),
        round(col("su").cast("double") / col("n_bigrams").cast("double"), 6).as("h_token"),
        round(col("sc").cast("double") / col("n_bigrams").cast("double"), 6).as("h_cond"))
      .orderBy("source")
  }

  val condEntropySql: String = """
    WITH d AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    bi AS (
      SELECT source, t[i] AS a, t[i + 1] AS b
      FROM d, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    cab AS (SELECT source, a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2, 3),
    ca AS (SELECT source, a, cast(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1, 2),
    n AS (SELECT source, cast(sum(c_a) AS BIGINT) AS n_bigrams,
            count(*) AS vocab_a FROM ca GROUP BY 1),
    sc AS (
      SELECT source,
        sum(cast(ln(cast(c_a AS DOUBLE) / cast(c_ab AS DOUBLE)) AS DECIMAL(18,9))
          * cast(c_ab AS DECIMAL(18,0))) AS sc
      FROM cab JOIN ca USING (source, a) GROUP BY 1),
    su AS (
      SELECT source,
        sum(cast(ln(cast(n_bigrams AS DOUBLE) / cast(c_a AS DOUBLE)) AS DECIMAL(18,9))
          * cast(c_a AS DECIMAL(18,0))) AS su
      FROM ca JOIN n USING (source) GROUP BY 1)
    SELECT source, n_bigrams, vocab_a,
      round(cast(su AS DOUBLE) / cast(n_bigrams AS DOUBLE), 6) AS h_token,
      round(cast(sc AS DOUBLE) / cast(n_bigrams AS DOUBLE), 6) AS h_cond
    FROM n JOIN sc USING (source) JOIN su USING (source)
    ORDER BY source"""

  // ------------------------------------------------- boilerplate grams

  /** `boilerplate_ngrams` — the C4/RefinedWeb cleaning signal: word
    * 3-grams ranked by DOCUMENT frequency (how many distinct docs
    * contain the gram — headers, footers, nav chrome, license blurbs
    * surface here; raw token frequency, `top_words`/`freq_triples`
    * territory, cannot separate "frequent because common" from
    * "present in every page"). Per-doc DISTINCT grams → df count →
    * top-30 under the total (df DESC, gram) order, with df_share
    * against the ≥3-token doc population. On this synthetic corpus
    * the max share is a measured 1.8% (random word streams carry no
    * true boilerplate) — the RANKED report is the honest artifact; a
    * fixed 20% threshold would return an empty frame here and the
    * real signal on a real corpus. Scale shape: grams expand
    * row-locally, one distinct + one count aggregation, top-30 plans
    * as TakeOrderedAndProject.
    */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> " +
          "concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"))
        .as("gram"))
      .distinct()
    val n = grams.agg(countDistinct("doc_id").as("nd"))
    grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("gram"), col("df"),
        round(col("df").cast("double") / col("nd"), 6).as("df_share"))
      .orderBy(col("df").desc, col("gram")).limit(30)
  }

  val boilerplateNgramsSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS gram
      FROM toks, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)
      WHERE len(t) >= 3),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM grams)
    SELECT gram, CAST(count(*) AS BIGINT) AS df,
      round(CAST(count(*) AS DOUBLE) / any_value(nd), 6) AS df_share
    FROM grams, n
    GROUP BY gram
    ORDER BY df DESC, gram LIMIT 30"""

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "boilerplate_ngrams" -> (boilerplateNgrams _),
    "cond_entropy"    -> (condEntropy _),
    "oov_rate"        -> (oovRate _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "vocab_stats"     -> (vocabStats _),
    "coverage_curve"  -> (coverageCurve _),
    "zipf_slope"      -> (zipfSlope _),
    "char_diversity"  -> (charDiversity _),
    "text_stats"      -> (textStats _),
    "token_count"     -> (tokenCount _),
    "lang_id"         -> (langId _),
    "quality_score"   -> (qualityScoreQ _),
    "compress_ratio"  -> (compressRatio _),
    "doc_fingerprint" -> (docFingerprint _),
    "dedup_exact"     -> (dedupExact _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_edit"      -> (dedupEdit _),
    "langid_confusion" -> (langidConfusion _),
    "multimodal_meta" -> (multimodalMeta _),
    "top_words"       -> (topWords _),
    "token_rarity"    -> (tokenRarity _),
    "regex_extract"   -> (regexExtract _))

  val oracle: Map[String, String] = Map(
    "boilerplate_ngrams" -> boilerplateNgramsSql,
    "cond_entropy"    -> condEntropySql,
    "oov_rate"        -> oovRateSql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "vocab_stats"     -> vocabStatsSql,
    "coverage_curve"  -> coverageCurveSql,
    "zipf_slope"      -> zipfSlopeSql,
    "char_diversity"  -> charDiversitySql,
    "text_stats"      -> textStatsSql,
    "token_count"     -> tokenCountSql,
    "lang_id"         -> langIdSql,
    "quality_score"   -> qualityScoreSql,
    "compress_ratio"  -> compressRatioSql,
    "doc_fingerprint" -> docFingerprintSql,
    "dedup_exact"     -> dedupExactSql,
    "dedup_canonical" -> dedupCanonicalSql,
    "dedup_edit"      -> dedupEditSql,
    "langid_confusion" -> langidConfusionSql,
    "multimodal_meta" -> multimodalMetaSql,
    "top_words"       -> topWordsSql,
    "token_rarity"    -> tokenRaritySql,
    "regex_extract"   -> regexExtractSql)
}
