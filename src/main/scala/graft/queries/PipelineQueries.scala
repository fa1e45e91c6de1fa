package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Materialize, TextAnalysis}
import graft.sources.Tables

/** Training-data pipeline operators (the 100 TB curation surface):
  * overlapping chunking, token-budget sharding, PII scrubbing,
  * eval-set decontamination, and intra-document repetition scoring.
  *
  * Every gram/hash is md5-based so the DuckDB oracle reproduces it
  * bit-identically; every explode feeds a codegen'd aggregate (no
  * interpreted higher-order lambdas on the hot path).
  */
object PipelineQueries extends QueryModule {

  val ChunkSize = 64
  val ChunkStride = 48

  /** Overlapping token-window chunking: the standard context-window prep
    * step. One row per (doc, window); the chunk travels as its md5 (the
    * row stays narrow; a real pipeline would keep the text column —
    * identical plumbing).
    */
  def textChunk(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")), lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        expr(s"(start - 1) div $ChunkStride").cast("long").as("chunk_idx"),
        least(lit(ChunkSize), size(col("t")) - col("start") + 1).cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice(col("t"), col("start"), lit(ChunkSize))).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val textChunkSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    SELECT doc_id,
      cast((s - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
      cast(least($ChunkSize, len(t) - s + 1) AS BIGINT) AS n_tokens,
      md5(array_to_string(t[s:s + ${ChunkSize - 1}], ' ')) AS chunk_md5
    FROM toks, unnest(range(1, len(t) + 1, $ChunkStride)) AS u(s)
    ORDER BY doc_id, chunk_idx"""

  val PackBudget = 512

  /** Token-budget sharding: documents packed into ≤-budget batches by a
    * per-source running token total — `batch = (cumsum - own) div B`.
    * Per-source windows keep the prefix sum partitioned (no global
    * single-partition window on the big path).
    */
  def packBatches(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(cum - n_tok) div $PackBudget").as("batch_id"))
      .orderBy("doc_id")
  }

  val packBatchesSql: String = s"""
    WITH t AS (
      SELECT doc_id, source,
        cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT doc_id, source, n_tok,
      cast((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // $PackBudget
        AS BIGINT) AS batch_id
    FROM t
    ORDER BY doc_id"""

  // ------------------------------------- sequence packing (concat-chunk)

  /** Fixed sequence length for the concat-then-chunk packing pair. */
  val SeqLen = 512

  /** The doc-level half of GPT-style sequence packing (`pack_offsets`):
    * the corpus is one GLOBAL token stream in doc_id order, cut into
    * fixed [[SeqLen]]-token training sequences; a document may straddle
    * sequence boundaries, and this query emits each doc's global token
    * offset plus the [chunk_first, chunk_last] span of sequences it
    * touches — the attribution map a decontamination or membership
    * audit needs to go from "training step consumed sequence k" back to
    * documents. Differs from `pack_batches` (per-source ≤-budget
    * batching, docs never split): packing WASTES no tokens — every
    * sequence is exactly full except the last.
    *
    * Scale shape: the global token offset is
    * [[graft.operators.Relational.globalPrefixSum]] — range-partition
    * on doc_id, per-partition local running sums, and a
    * SHUFFLE-PARTITION-COUNT-sized offsets frame broadcast back (the
    * distributed-rank construction `globalRank` already uses; the
    * offsets frame is model-sized at ANY corpus size, so nothing
    * recurses and no global data window exists anywhere). The oracle
    * proves the distributed result cell-identical to the window-prefix
    * definition.
    */
  def packOffsets(spark: SparkSession, dir: String): DataFrame =
    packOffsetFrame(spark, dir).orderBy("doc_id")

  private def packOffsetFrame(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.Relational
      .globalPrefixSum(toks, Seq(col("doc_id")), "n_tok", "start_off")
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        (col("start_off") / SeqLen).cast("long").as("chunk_first"),
        ((col("start_off") + col("n_tok") - 1) / SeqLen).cast("long")
          .as("chunk_last"))
      .withColumn("n_chunks", col("chunk_last") - col("chunk_first") + 1)
  }

  val packOffsetsSql: String = s"""
    WITH t AS (
      SELECT doc_id,
        cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, n_tok,
        cast(coalesce(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_off
      FROM t)
    SELECT doc_id, n_tok, start_off,
      cast(start_off // $SeqLen AS BIGINT) AS chunk_first,
      cast((start_off + n_tok - 1) // $SeqLen AS BIGINT) AS chunk_last,
      cast((start_off + n_tok - 1) // $SeqLen - start_off // $SeqLen + 1
        AS BIGINT) AS n_chunks
    FROM c
    ORDER BY doc_id"""

  /** The [chunk_first, chunk_last] span as an array, guarded for the
    * degenerate n_tok = 0 doc landing exactly on a sequence boundary:
    * there chunk_last = chunk_first - 1 and Spark's `sequence` would
    * emit a DESCENDING 2-element span while DuckDB's `range()` is empty
    * — spurious chunk rows and an engine/oracle split. The guard
    * returns an empty array (row drops at explode), which is exactly
    * `range()`'s semantics for every input. wordTokens currently
    * guarantees n_tok >= 1 ([""] for empty text), so this is a
    * future-proofing invariant, not a live-data fix.
    */
  private def chunkSpan: Column =
    when(col("chunk_last") >= col("chunk_first"),
      sequence(col("chunk_first"), col("chunk_last")))
      .otherwise(array().cast("array<long>"))

  /** The sequence-level half (`pack_chunks`): per training sequence,
    * how many documents it contains, their id range, and its token
    * fill — exactly [[SeqLen]] everywhere but the final sequence (the
    * packing-wastes-nothing invariant, spec-pinned). Row-local explode
    * of each doc's bounded chunk span over the [[packOffsets]] frame,
    * one aggregation exchange keyed by chunk.
    */
  def packChunks(spark: SparkSession, dir: String): DataFrame =
    packOffsetFrame(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        explode(chunkSpan).as("chunk_id"))
      .select(col("chunk_id"), col("doc_id"),
        (least((col("chunk_id") + 1) * SeqLen, col("start_off") + col("n_tok"))
          - greatest(col("chunk_id") * SeqLen, col("start_off"))).as("tok"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("tok").as("n_tokens"))
      .orderBy("chunk_id")

  val packChunksSql: String = s"""
    WITH t AS (
      SELECT doc_id,
        cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, n_tok,
        cast(coalesce(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_off
      FROM t),
    spans AS (
      SELECT doc_id, n_tok, start_off,
        unnest(range(start_off // $SeqLen, (start_off + n_tok - 1) // $SeqLen + 1))
          AS chunk_id
      FROM c),
    o AS (
      SELECT chunk_id, doc_id,
        least((chunk_id + 1) * $SeqLen, start_off + n_tok)
          - greatest(chunk_id * $SeqLen, start_off) AS tok
      FROM spans)
    SELECT cast(chunk_id AS BIGINT) AS chunk_id,
      cast(count(*) AS BIGINT) AS n_docs,
      cast(min(doc_id) AS BIGINT) AS first_doc,
      cast(max(doc_id) AS BIGINT) AS last_doc,
      cast(sum(tok) AS BIGINT) AS n_tokens
    FROM o GROUP BY 1
    ORDER BY chunk_id"""

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val LongNumRe = "[0-9]{7,}"

  /** PII scrubbing: emails and long digit runs replaced with typed
    * placeholders; counts surfaced for audit. A deterministic enrichment
    * plants PII on every third document so the operator provably fires
    * (the corpus itself is synthetic prose).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val enriched = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com ph 12345678901"))).otherwise(col("text"))
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), enriched.as("t2"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t2"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(LongNumRe), lit(0))).cast("long").as("n_longnums"),
        md5(regexp_replace(regexp_replace(col("t2"), EmailRe, "<EMAIL>"),
          LongNumRe, "<NUM>").cast("binary")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  val piiScrubSql: String = s"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
             THEN text || ' contact: user' || cast(doc_id AS VARCHAR) || '@example.com ph 12345678901'
             ELSE text END AS t2
      FROM documents)
    SELECT doc_id,
      cast(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
      cast(len(regexp_extract_all(t2, '$LongNumRe')) AS BIGINT) AS n_longnums,
      md5(regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
        '$LongNumRe', '<NUM>', 'g')) AS scrubbed_md5
    FROM t
    ORDER BY doc_id"""

  private val DecontN = 5

  /** Eval-set decontamination: drop every training document sharing at
    * least one word 5-gram with the (small) eval split. The eval gram
    * set is explicitly broadcast — at 100 TB the train side streams
    * through a hash-set membership probe, no shuffle of the corpus.
    */
  // grams hashed with the fused codegen NgramHash (64-bit, no gram
  // string allocation): overlap detection only needs the SAME hash on
  // both sides of a decontamination query — the oracle recomputes
  // overlap with its own md5 grams and compares surviving doc_ids,
  // which agree modulo ~1e-15 hash-collision odds
  private def contamGrams(d: DataFrame): DataFrame = d
    .select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("t"))
    .select(col("doc_id"), col("t"), explode(
      sequence(lit(0), greatest(size(col("t")) - DecontN, lit(0)))).as("i"))
    .select(col("doc_id"), graft.functions.NgramKernels
      .ngramHashCol(col("t"), col("i"), DecontN).as("gh"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    def grams(d: DataFrame): DataFrame = contamGrams(d)
    val d = Tables.read(spark, dir, "documents")
    val evalGrams = grams(d.filter(col("doc_id") % 97 === 0)).select("gh").distinct()
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val contaminated = grams(train)
      .join(broadcast(evalGrams), "gh")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  val decontaminateSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, md5(array_to_string(t[i+1:i+$DecontN], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t) - $DecontN, 0) + 1)) AS u(i)),
    ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
    bad AS (SELECT DISTINCT doc_id FROM grams
            WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM ev))
    SELECT doc_id FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id"""

  /** `decon_chunks` — contamination mapped onto TRAINING SEQUENCES:
    * the composition of the membership gate (`decontaminate`'s bad set:
    * train docs sharing a [[DecontN]]-gram with the eval slice) with
    * the packing layout (`pack_offsets`' doc→sequence spans). Per
    * affected sequence: how many contaminated docs it contains and how
    * many of its [[SeqLen]] tokens came from them — the artifact that
    * lets a pipeline drop SEQUENCES instead of whole documents (a
    * contaminated doc poisons only the sequences its tokens landed in;
    * doc-level dropping over-deletes by the packing fan-out).
    * `bad_frac` is quoted against the fixed sequence length — the
    * training-relevant denominator — so the final partial sequence can
    * read < its true fraction; training drops it anyway.
    *
    * Scale shape: the gate side is `decontaminate`'s broadcast
    * eval-gram probe; the layout side is the [[packOffsets]] prefix
    * sum; the rendezvous is one LEFT SEMI on doc_id plus the bounded
    * span explode and one chunk-keyed aggregate.
    */
  def deconChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val evalGrams = contamGrams(d.filter(col("doc_id") % 97 === 0))
      .select("gh").distinct()
    val bad = contamGrams(d.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(evalGrams), "gh")
      .select("doc_id").distinct()
    packOffsetFrame(spark, dir)
      .join(bad, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        explode(chunkSpan).as("chunk_id"))
      .select(col("chunk_id"),
        (least((col("chunk_id") + 1) * SeqLen, col("start_off") + col("n_tok"))
          - greatest(col("chunk_id") * SeqLen, col("start_off"))).as("tok"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_bad_docs"), sum("tok").as("bad_tokens"))
      .withColumn("bad_frac",
        round(col("bad_tokens").cast("double") / SeqLen, 6))
      .orderBy("chunk_id")
  }

  val deconChunksSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, md5(array_to_string(t[i+1:i+$DecontN], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t) - $DecontN, 0) + 1)) AS u(i)),
    ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
    bad AS (SELECT DISTINCT doc_id FROM grams
            WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM ev)),
    n AS (SELECT doc_id, cast(len(t) AS BIGINT) AS n_tok FROM toks),
    c AS (
      SELECT doc_id, n_tok,
        cast(coalesce(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_off
      FROM n),
    spans AS (
      SELECT doc_id, n_tok, start_off,
        unnest(range(start_off // $SeqLen, (start_off + n_tok - 1) // $SeqLen + 1))
          AS chunk_id
      FROM c
      WHERE doc_id IN (SELECT doc_id FROM bad)),
    o AS (
      SELECT chunk_id,
        least((chunk_id + 1) * $SeqLen, start_off + n_tok)
          - greatest(chunk_id * $SeqLen, start_off) AS tok
      FROM spans)
    SELECT cast(chunk_id AS BIGINT) AS chunk_id,
      cast(count(*) AS BIGINT) AS n_bad_docs,
      cast(sum(tok) AS BIGINT) AS bad_tokens,
      round(CAST(sum(tok) AS DOUBLE) / $SeqLen, 6) AS bad_frac
    FROM o GROUP BY 1
    ORDER BY chunk_id"""

  /** `decon_spans` — SPAN-granular decontamination: which (train, eval)
    * doc pairs share winnowing fingerprints, and how much of each train
    * doc the overlap covers. The membership gate (`decontaminate`)
    * answers "is this doc touched"; this is the REPORT a pipeline
    * triages with — n_shared counts shared window-minima (each pins a
    * concrete shared token run, the MOSS property) and overlap =
    * n_shared / train-doc fingerprint count ranks containment (the
    * planted full-containment pair surfaces at overlap 1.0 at
    * sf0.001). Same doc_id % 97 split as `decontaminate`; same
    * (n=3, w=4) winnow as `fingerprint_winnow`; boilerplate
    * fingerprints are df-capped at 20 ([[Dedup.capGramDocFreq]] — a
    * fingerprint shared by m docs fans the pair join m·m_eval-fold, so
    * the cap is the scale guard, and sizes are computed POST-cap so
    * overlap stays a true fraction of the compared universe). The eval
    * side is the benchmark-suite-sized ~1% slice, broadcast like
    * `decontaminate`'s gram set. All rows kept (n_shared ≥ 1): the
    * consumer thresholds; a singleton shared fingerprint is already a
    * real shared 3-gram window, not hash noise (md5).
    */
  def deconSpans(spark: SparkSession, dir: String): DataFrame = {
    val fps = TextAnalysis
      .winnowFingerprints(Tables.read(spark, dir, "documents"), "doc_id", "text", n = 3, w = 4)
      .select(col("id"), col("fp").as("gh"))
    val capped = Materialize(Dedup.capGramDocFreq(fps, maxDocFreq = 20))
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("nf"))
    val tr = capped.filter(col("id") % 97 =!= 0)
      .select(col("id").as("train_id"), col("gh"))
    val ev = capped.filter(col("id") % 97 === 0)
      .select(col("id").as("eval_id"), col("gh").as("e_gh"))
    val pairs = tr.join(broadcast(ev), col("gh") === col("e_gh"))
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
    pairs.join(sizes.select(col("id").as("train_id"), col("nf")), "train_id")
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("nf"), 6).as("overlap"))
      .orderBy("train_id", "eval_id")
  }

  val deconSpansSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, i, md5(array_to_string(t[i+1:i+3], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t)-3, 0) + 1)) AS u(i)),
    wins AS (
      SELECT doc_id, min(gh) OVER (PARTITION BY doc_id ORDER BY i
        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins),
    hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 20),
    capped AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS nf FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        cast(count(*) AS BIGINT) AS n_shared
      FROM capped t JOIN capped e ON t.fp = e.fp
      WHERE t.doc_id % 97 != 0 AND e.doc_id % 97 = 0
      GROUP BY 1, 2)
    SELECT p.train_id, p.eval_id, p.n_shared,
      round(CAST(p.n_shared AS DOUBLE) / s.nf, 6) AS overlap
    FROM pairs p JOIN sizes s ON s.doc_id = p.train_id
    ORDER BY p.train_id, p.eval_id"""

  /** Intra-document repetition (Gopher-style quality signal): fraction
    * of word 3-grams that are repeats of an earlier gram in the same
    * document.
    *
    * ROW-LOCAL: grams derive from one token array, so gram count and
    * distinct count are array expressions in the projection — no explode,
    * no groupBy, no shuffle (the explode+countDistinct form ships every
    * gram of every document through an aggregation exchange).
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id") +: repetitionCols(col("text")): _*)
      .orderBy("doc_id")

  /** (n_grams, rep_ratio) columns for a text column — shared between the
    * standalone query and the curation/attribution gates.
    *
    * Fused kernel, not HOFs: the former `transform(sequence, i ->
    * md5(concat_ws(slice)))` + `array_distinct` shape ran INTERPRETED
    * per gram (HOFs are CodegenFallback) — 2.2–2.5 s for an all-rows
    * pass at sf0.1 — where [[graft.functions.NgramDistinct]] is one
    * kernel call per row (~0.15 s), still a pure map-side projection
    * (no shuffle at any corpus size, unlike an explode+window rewrite).
    * Tokens contain no whitespace, so joined-string gram identity and
    * the kernel's chained-hash identity induce the SAME equality
    * classes: distinct counts match the oracle's distinct-md5-string
    * counts exactly (modulo the accepted ~1e-15 hash collisions).
    */
  private[queries] def repetitionCols(text: Column): Seq[Column] = {
    val t = TextAnalysis.wordTokens(text)
    val k = greatest(size(t) - 3, lit(0)) + 1
    Seq(k.cast("long").as("n_grams"),
      round(lit(1.0) -
        graft.functions.NgramDistinctKernels.ngramDistinctCol(t, 3)
          .cast("double") / k.cast("double"), 6)
        .as("rep_ratio"))
  }

  val repetitionRatioSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, md5(array_to_string(t[i+1:i+3], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i))
    SELECT doc_id, count(*) AS n_grams,
      round(1.0 - cast(count(DISTINCT gh) AS DOUBLE) / cast(count(*) AS DOUBLE), 6) AS rep_ratio
    FROM grams
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** The curation FUNNEL — the composed shape of a real training-data
    * pipeline: language gate → quality gate → repetition gate → exact
    * dedup, with surviving-document counts per stage. Every gate reuses
    * the operator (and its oracle SQL) already verified standalone, so
    * the funnel is provably the composition of its parts.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis._
    val d = Tables.read(spark, dir, "documents")
    // lowered tokens, exactly like the standalone lang_id operator (the
    // oracle lowercases too — raw-case scoring would silently diverge on
    // any mixed-case corpus)
    val toks = wordTokens(lower(col("text")))
    // dedup-window keyed by md5(text), not text: the shuffle carries a
    // 32-char digest instead of whole documents (same grouping modulo a
    // ~1e-38 collision — the §2.1 dedup_exact scaling note, applied)
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    // every gate including repetition is a row-local projection, so the
    // funnel is ONE pass: no join, and the only shuffle is the dedup
    // window + final agg
    val flags = d
      .select(col("doc_id"), col("text"),
        (langPredict(langScores(toks)) === "en").as("f1"),
        (qualityScore(col("text")) >= 0.5).as("f2"),
        (col("doc_id") === min("doc_id").over(w)).as("f4"),
        repetitionCols(col("text")).last.as("rep_ratio"))
      .withColumn("f3", col("rep_ratio") <= 0.2)
    // ONE depth expression instead of five cumulative-AND aggregates:
    // aggregate inputs referencing fk would inline (CollapseProject) a
    // copy of each gate's whole HOF subtree per reference — measured 2×
    // the entire funnel. As the single groupBy key, every gate evaluates
    // exactly once per row; survivors-per-stage is then arithmetic on the
    // ≤5-row depth histogram (n_k = rows with depth ≥ k).
    val depth = when(not(col("f1")), 0L).when(not(col("f2")), 1L)
      .when(not(col("f3")), 2L).when(not(col("f4")), 3L).otherwise(4L)
    val cnts = flags.select(depth.as("depth")).groupBy("depth")
      .agg(count(lit(1)).as("c"))
    spark.range(1).selectExpr("""stack(5,
        0L, 'total',
        1L, 'lang_en',
        2L, 'quality',
        3L, 'repetition',
        4L, 'exact_unique') AS (stage_idx, stage)""")
      .join(cnts, col("depth") >= col("stage_idx"), "left")
      .groupBy("stage_idx", "stage")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"))
      .orderBy("stage_idx")
  }

  /** Incremental-ingest dedup: a new batch (one source) checked against
    * the fingerprint ledger of the existing corpus — the production
    * shape of dedup at 100 TB, where you never re-cluster the whole
    * corpus, you anti-check the day's arrivals against what's already
    * in. The ledger side reduces to DISTINCT fingerprints (map-side
    * combined) before the join; the join is keyed by fingerprint and the
    * (small) batch side is broadcast-eligible. Emits an is_dup audit
    * flag rather than silently dropping, so the gate is observable.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val batch = d.filter(col("source") === "src19")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val ledger = d.filter(col("source") =!= "src19")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct().withColumn("hit", lit(1L))
    batch.join(ledger, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("is_dup"))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String = """
    WITH f AS (
      SELECT doc_id, source,
        md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents),
    ledger AS (SELECT DISTINCT fp FROM f WHERE source != 'src19')
    SELECT b.doc_id,
      cast(CASE WHEN l.fp IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
    FROM (SELECT doc_id, fp FROM f WHERE source = 'src19') b
    LEFT JOIN ledger l ON b.fp = l.fp
    ORDER BY b.doc_id"""

  val curationFunnelSql: String = s"""
    WITH lang AS (${TextQueries.langIdSql}),
    q AS (${TextQueries.qualityScoreSql}),
    rep AS ($repetitionRatioSql),
    flags AS (
      SELECT d.doc_id,
        (l.predicted_lang = 'en') AS f1,
        (q.quality >= 0.5) AS f2,
        (r.rep_ratio <= 0.2) AS f3,
        (d.doc_id = min(d.doc_id) OVER (PARTITION BY d.text)) AS f4
      FROM documents d
      JOIN lang l ON d.doc_id = l.doc_id
      JOIN q ON d.doc_id = q.doc_id
      JOIN rep r ON d.doc_id = r.doc_id),
    agg AS (
      SELECT count(*) AS n0,
        count(*) FILTER (f1) AS n1,
        count(*) FILTER (f1 AND f2) AS n2,
        count(*) FILTER (f1 AND f2 AND f3) AS n3,
        count(*) FILTER (f1 AND f2 AND f3 AND f4) AS n4
      FROM flags)
    SELECT stage_idx, stage, n_docs FROM (
      SELECT cast(0 AS BIGINT) AS stage_idx, 'total' AS stage, n0 AS n_docs FROM agg
      UNION ALL SELECT 1, 'lang_en', n1 FROM agg
      UNION ALL SELECT 2, 'quality', n2 FROM agg
      UNION ALL SELECT 3, 'repetition', n3 FROM agg
      UNION ALL SELECT 4, 'exact_unique', n4 FROM agg)
    ORDER BY stage_idx"""

  /** Per-gate kill attribution for the curation funnel: how many docs
    * each gate fails OUTRIGHT, and how many it UNIQUELY kills (every
    * other gate passes) — the report that says which filter earns its
    * runtime and which is redundant shadow of another. Same four gates
    * as [[curationFunnel]] (same verified SQL in the oracle), but
    * order-free: attribution, not the sequential survivor curve.
    *
    * The flags frame is materialized before the 8-way aggregate — each
    * sum input referencing a flag would otherwise inline a copy of that
    * gate's whole HOF subtree per reference (the measured-2× trap the
    * funnel's depth trick dodges); materializing 4 booleans/row makes
    * every gate evaluate exactly once.
    */
  def gateAttribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis._
    val d = Tables.read(spark, dir, "documents")
    val toks = wordTokens(lower(col("text")))
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    // contingency-cells trick (the curation_funnel depth-histogram
    // generalized): grouping BY the flags makes each gate's HOF subtree
    // evaluate exactly once per row — aggregate inputs referencing the
    // flags directly would inline (CollapseProject) a copy of the whole
    // subtree per reference, and the previous checkpoint workaround for
    // that cost 3.0 s vs 0.24 s for this shape (A/B at sf0.1). The 8
    // attribution sums then run over the ≤16-row cell table.
    val cells = d
      .select(col("doc_id"),
        (langPredict(langScores(toks)) === "en").as("f1"),
        (qualityScore(col("text")) >= 0.5).as("f2"),
        repetitionCols(col("text")).last.as("rep_ratio"),
        (col("doc_id") === min("doc_id").over(w)).as("f4"))
      .withColumn("f3", col("rep_ratio") <= 0.2)
      .groupBy("f1", "f2", "f3", "f4").agg(count(lit(1)).as("c"))
    def cnt(p: Column) = sum(when(p, col("c")).otherwise(0L))
    val a = cells.agg(
      cnt(!col("f1")).as("x1"), cnt(!col("f2")).as("x2"),
      cnt(!col("f3")).as("x3"), cnt(!col("f4")).as("x4"),
      cnt(!col("f1") && col("f2") && col("f3") && col("f4")).as("u1"),
      cnt(col("f1") && !col("f2") && col("f3") && col("f4")).as("u2"),
      cnt(col("f1") && col("f2") && !col("f3") && col("f4")).as("u3"),
      cnt(col("f1") && col("f2") && col("f3") && !col("f4")).as("u4"))
    a.selectExpr("""stack(4,
        'lang_en', x1, u1,
        'quality', x2, u2,
        'repetition', x3, u3,
        'exact_unique', x4, u4) AS (gate, n_fail, n_unique_kill)""")
      .withColumn("n_shared_kill", col("n_fail") - col("n_unique_kill"))
      .orderBy("gate")
  }

  val gateAttributionSql: String = s"""
    WITH lang AS (${TextQueries.langIdSql}),
    q AS (${TextQueries.qualityScoreSql}),
    rep AS ($repetitionRatioSql),
    flags AS (
      SELECT d.doc_id,
        (l.predicted_lang = 'en') AS f1,
        (q.quality >= 0.5) AS f2,
        (r.rep_ratio <= 0.2) AS f3,
        (d.doc_id = min(d.doc_id) OVER (PARTITION BY d.text)) AS f4
      FROM documents d
      JOIN lang l ON d.doc_id = l.doc_id
      JOIN q ON d.doc_id = q.doc_id
      JOIN rep r ON d.doc_id = r.doc_id),
    a AS (SELECT
      count(*) FILTER (NOT f1) AS x1, count(*) FILTER (NOT f2) AS x2,
      count(*) FILTER (NOT f3) AS x3, count(*) FILTER (NOT f4) AS x4,
      count(*) FILTER (NOT f1 AND f2 AND f3 AND f4) AS u1,
      count(*) FILTER (f1 AND NOT f2 AND f3 AND f4) AS u2,
      count(*) FILTER (f1 AND f2 AND NOT f3 AND f4) AS u3,
      count(*) FILTER (f1 AND f2 AND f3 AND NOT f4) AS u4
      FROM flags)
    SELECT gate, n_fail, n_unique_kill,
      n_fail - n_unique_kill AS n_shared_kill FROM (
        SELECT 'lang_en' AS gate, x1 AS n_fail, u1 AS n_unique_kill FROM a
        UNION ALL SELECT 'quality', x2, u2 FROM a
        UNION ALL SELECT 'repetition', x3, u3 FROM a
        UNION ALL SELECT 'exact_unique', x4, u4 FROM a)
    ORDER BY gate"""

  /** Deterministic train/val/test split (80/10/10 by md5 bucket of the
    * doc id): reproducible on any engine, any cluster, any run — the
    * property random() splits can't give — with per-(source, split)
    * counts for the audit. xxhash64 buckets at prod scale; md5 here so
    * the oracle reproduces the exact assignment.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    Tables.read(spark, dir, "documents")
      .select(col("source"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  val splitAssignSql: String = """
    WITH assigned AS (
      SELECT source,
        CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
             WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, count(*) AS n_docs
    FROM assigned
    GROUP BY source, split
    ORDER BY source, split"""

  /** Chunk-level exact dedup (RefinedWeb-style): context-window chunks
    * fingerprinted by md5, then per-source survival stats — how much of
    * each source remains once repeated chunks collapse to their first
    * (doc, chunk) occurrence. Composes the verified [[textChunk]] op;
    * the oracle reuses its SQL as a CTE.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = textChunk(spark, dir)
      .join(Tables.read(spark, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
    val w = Window.partitionBy(col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("rk", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_chunks"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_chunks").cast("double"), 6)
          .as("survival_rate"))
      .orderBy("source")
  }

  val chunkDedupSql: String = s"""
    WITH chunks AS ($textChunkSql),
    ranked AS (
      SELECT d.source, c.chunk_md5,
        row_number() OVER (PARTITION BY c.chunk_md5
                           ORDER BY c.doc_id, c.chunk_idx) AS rk
      FROM chunks c JOIN documents d ON c.doc_id = d.doc_id)
    SELECT source,
      count(*) AS n_chunks,
      cast(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      round(cast(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        AS survival_rate
    FROM ranked
    GROUP BY source
    ORDER BY source"""

  /** Cross-source contamination matrix: for every source pair, how many
    * winnow fingerprints they share — the provenance overlap report run
    * before mixing corpora. Distinct (source, fp) pairs first, so the
    * join counts shared FINGERPRINTS, not document pair blow-up.
    */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // NOT a self-join: group each fingerprint's source set, expand the
    // (≤ |sources|²) ordered pairs ROW-LOCALLY, and count — one
    // aggregation exchange instead of reshuffling both join sides by fp.
    // Safe because the per-fp set is bounded by the (small) source count,
    // never by the corpus.
    val sfp = graft.operators.TextAnalysis
      .winnowFingerprints(Tables.read(spark, dir, "documents"), "doc_id", "text", n = 3, w = 4)
      .join(Tables.read(spark, dir, "documents").select(col("doc_id").as("id"), col("source")), "id")
      .select("source", "fp").distinct()
    val ss = sort_array(collect_set(col("source")))
    val pairs = flatten(transform(col("ss"), (a, i) =>
      transform(slice(col("ss"), i + 2, size(col("ss"))), b =>
        struct(a.as("source_a"), b.as("source_b")))))
    sfp.groupBy("fp").agg(ss.as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(pairs).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .orderBy("source_a", "source_b")
  }

  val crossSourceOverlapSql: String = """
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, source, i, md5(array_to_string(t[i+1:i+3], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t)-3, 0) + 1)) AS u(i)),
    wins AS (
      SELECT DISTINCT source, min(gh) OVER (PARTITION BY doc_id ORDER BY i
        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM grams)
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fps
    FROM wins a JOIN wins b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY source_a, source_b"""

  /** Domain-mixture sampling: deterministic hash sampling toward TARGET
    * mixture weights under a total budget — the corpus-reweighting step
    * of a training-data pipeline (upweight scarce high-quality sources,
    * downweight bulk crawl). Per-source rate = min(1, budget·w_s / (W·n_s))
    * — derived from the DATA (per-source counts), not hardcoded — then
    * rows are kept by the same md5-bucket rule as [[ExtendedQueries
    * .sampleHash]], so the selection is reproducible on any engine and
    * cluster size. The counts frame is |sources| rows: one aggregation
    * exchange, a broadcast join, and a map-side filter — nothing here
    * grows with the corpus.
    */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    val budget = lit(20.0)
    val w = when(col("source") === "src0", 40.0)
      .when(col("source").isin("src1", "src2"), 20.0)
      .otherwise(1.0)
    val counts = Tables.read(spark, dir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n")).withColumn("w", w)
    val totalW = counts.agg(sum("w").as("total_w"))
    val rates = counts.crossJoin(broadcast(totalW))
      .select(col("source").as("r_source"),
        least(lit(1.0), budget * col("w") / (col("total_w") * col("n"))).as("rate"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000
    Tables.read(spark, dir, "documents").select("doc_id", "source", "n_chars")
      .join(broadcast(rates), col("source") === col("r_source"))
      .filter(bucket < floor(col("rate") * 10000))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val mixSampleSql: String = """
    WITH c AS (
      SELECT source, count(*) AS n,
        CASE WHEN source = 'src0' THEN 40.0
             WHEN source IN ('src1', 'src2') THEN 20.0
             ELSE 1.0 END AS w
      FROM documents GROUP BY source),
    r AS (
      SELECT source, least(1.0, 20.0 * w / ((SELECT sum(w) FROM c) * n)) AS rate
      FROM c)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 10000 < floor(rate * 10000)
    ORDER BY d.doc_id"""

  /** Exact k-per-group deterministic sample (quota sampling): the
    * balanced-eval-set builder — every source contributes at most 5
    * documents, chosen by hash rank so the pick is reproducible and
    * unbiased by ingestion order. One shuffle on `source`; Spark's
    * rank-limit pushdown (WindowGroupLimit) truncates each partition to
    * its top-k BEFORE the exchange, so a hot source never floods the
    * window executor at scale.
    */
  def sampleQuota(spark: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.read(spark, dir, "documents").select("doc_id", "source")
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("source", "rk")
  }

  val sampleQuotaSql: String = """
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
        cast(row_number() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      FROM documents)
    WHERE rk <= 5
    ORDER BY source, rk"""

  // ------------------------------------------------- dedup with rewrite

  /** Non-overlapping rewrite-window width (tokens). */
  val RewriteW = 10

  /** Chunk-level dedup WITH document reconstruction — the C4-style
    * rewrite step that turns dup *detection* into the artifact a
    * pipeline actually ships: every 10-token chunk keeps only its
    * globally FIRST occurrence (min (doc_id, chunk_idx) — a total,
    * engine-portable keep rule), then each document is reassembled from
    * its surviving chunks in order. Output per doc: chunk counts, drops,
    * and the md5 of the rewritten text (the integrity witness — both
    * engines must rebuild byte-identical documents, not just agree on
    * counts). A doc whose every chunk appeared earlier elsewhere
    * rewrites to the empty string, not a dropped row.
    *
    * Scale shape: one shuffle keyed by chunk text (exactly the
    * dedup_exact exchange at chunk granularity), one per-doc
    * reassembly aggregation. No self-join, no pair blow-up.
    */
  def dedupRewrite(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), split(btrim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / RewriteW).cast("int"))).as("ci"),
        col("t"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("t"), col("ci") * RewriteW + 1, lit(RewriteW)), " ").as("ctext"))
    val w = Window.partitionBy("ctext")
    val kept = chunks
      .withColumn("first", min(struct(col("doc_id"), col("ci"))).over(w))
      .filter(col("first.doc_id") === col("doc_id") && col("first.ci") === col("ci"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("ci"), col("ctext")))),
          p => p.getField("ctext")), " ")).as("clean_md5"))
    chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_md5"), lit(org.apache.commons.codec.digest.DigestUtils.md5Hex(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  val dedupRewriteSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    chunks AS (
      SELECT doc_id, i AS ci,
        array_to_string(t[(i*$RewriteW+1):(i*$RewriteW+$RewriteW)], ' ') AS ctext
      FROM toks, unnest(range(0, ((len(t)-1)//$RewriteW) + 1)) AS u(i)),
    kept AS (
      SELECT doc_id, ci, ctext FROM (
        SELECT *, row_number() OVER (PARTITION BY ctext ORDER BY doc_id, ci) AS rk
        FROM chunks) WHERE rk = 1),
    reb AS (
      SELECT doc_id, count(*) AS n_kept,
        md5(string_agg(ctext, ' ' ORDER BY ci)) AS clean_md5
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
      coalesce(r.n_kept, 0) AS n_kept,
      t.n_chunks - coalesce(r.n_kept, 0) AS n_dropped,
      coalesce(r.clean_md5, md5('')) AS clean_md5
    FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id"""

  // -------------------------------------------- bloom-prefilter contamination

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[decontaminate]]: the eval gram set compacts into a bloom filter
    * (kilobytes of model parameters, vs. a broadcast hash relation that
    * grows with the eval corpus), and the train side probes it MAP-ONLY
    * through Catalyst's own `BloomFilterMightContain` predicate (codegen,
    * zero UDFs) — only the sliver of bloom-positive grams continues to
    * the exact verification join. Bloom filters have NO false negatives,
    * so prefilter + exact-verify ⊆-preserves the exact answer; fpp is
    * sized at 1e-4 so per-DOC false-positive odds stay ~grams·1e-4.
    *
    * The audit row proves both properties against the exact path:
    * `superset_ok` (every exactly-contaminated doc is bloom-flagged —
    * the no-false-negative law) and `fp_ok` (doc-level bloom excess
    * within 5% of the train corpus). The filter build collects a SKETCH
    * (never corpus rows) — the kmeans-centroid precedent.
    */
  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.GraftShim
    val d = Tables.read(spark, dir, "documents")
    val evalGrams = contamGrams(d.filter(col("doc_id") % 97 === 0))
      .select("gh").distinct()
    val nEval = evalGrams.count()
    val bf = evalGrams.stat.bloomFilter("gh", math.max(nEval, 1L), 1e-4)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftShim.column(BloomFilterMightContain(
      Literal(bfBytes), GraftShim.expression(col("gh"))))
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val trainGrams = contamGrams(train)
    val bloomHits = trainGrams.filter(mightContain).select("doc_id").distinct()
    val exactHits = trainGrams.join(broadcast(evalGrams), "gh")
      .select("doc_id").distinct()
    // fp bound DERIVED from the observed probe count, not a fixed 5% of
    // docs: each false-positive gram PROBE can flag at most one extra
    // doc, and expected FP probes = n_tg·fpp — so excess ≤ 5·n_tg·1e-4
    // (+10 additive floor for tiny corpora) holds with overwhelming
    // probability at ANY grams-per-doc ratio, where the old doc-count
    // bound went flaky past ~500 grams/doc. Integer cross-multiplied;
    // n_tg (the probe count) is pure position arithmetic, so the oracle
    // checks it exactly.
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(trainGrams.agg(count(lit(1)).as("n_tg")))
      .crossJoin(exactHits.agg(count(lit(1)).as("n_exact")))
      .crossJoin(exactHits.join(bloomHits, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_missed")))
      .crossJoin(bloomHits.agg(count(lit(1)).as("n_bloom")))
      .select(col("n_train"), col("n_tg"), col("n_exact"),
        (col("n_missed") === 0).cast("long").as("superset_ok"),
        ((col("n_bloom") - col("n_exact")) * 10000 <= col("n_tg") * 5 + 100000)
          .cast("long").as("fp_ok"))
  }

  /** Oracle: the exact counts are SQL; the two bloom laws are literal 1
    * (no false negatives is a bloom-filter theorem; the fp bound holds
    * by the 1e-4 sizing with 50× slack).
    */
  val bloomPrefilterSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, md5(array_to_string(t[i+1:i+$DecontN], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t) - $DecontN, 0) + 1)) AS u(i)),
    ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
    bad AS (SELECT DISTINCT doc_id FROM grams
            WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM ev))
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) AS n_train,
      (SELECT count(*) FROM grams WHERE doc_id % 97 <> 0) AS n_tg,
      (SELECT count(*) FROM bad) AS n_exact,
      cast(1 AS BIGINT) AS superset_ok,
      cast(1 AS BIGINT) AS fp_ok"""

  // ------------------------------------------------- temperature mixing

  /** Temperature-scaled source-sampling weights — the multilingual /
    * multi-source rebalancing rule q_s ∝ p_s^α (α < 1 upsamples tail
    * sources, the standard published recipe at α ≈ 0.3–0.7). Computed
    * at α = 0.5 and α = 0.25, where p^α is a nested IEEE sqrt —
    * CORRECTLY ROUNDED by the standard, so both engines produce the
    * bit-identical double with no transcendental pow() in sight. Each
    * sqrt snaps to DECIMAL(18,9) once; the normalizing sums are exact
    * over the snapped values (source-count-sized frame, one broadcast);
    * every output cell is one agreed double expression. `boost_t05` is
    * the up/down-sampling factor q/p a mixer applies per source.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val dec9: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(18, 9))
    val n = Tables.read(spark, dir, "documents").groupBy("source").agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        dec9(sqrt(col("n_docs").cast("double"))).as("w05"),
        dec9(sqrt(sqrt(col("n_docs").cast("double")))).as("w025"))
    val tot = n.agg(sum(col("n_docs")).as("nt"),
      sum(col("w05")).as("s05"), sum(col("w025")).as("s025"))
    n.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / col("nt").cast("double"), 6).as("p"),
        round(col("w05").cast("double") / col("s05").cast("double"), 6).as("q_t05"),
        round(col("w025").cast("double") / col("s025").cast("double"), 6).as("q_t025"),
        round(col("w05").cast("double") / col("s05").cast("double")
          * col("nt").cast("double") / col("n_docs").cast("double"), 6).as("boost_t05"))
      .orderBy("source")
  }

  val mixTemperatureSql: String = """
    WITH n AS (
      SELECT source, count(*) AS n_docs,
        cast(sqrt(cast(count(*) AS DOUBLE)) AS DECIMAL(18,9)) AS w05,
        cast(sqrt(sqrt(cast(count(*) AS DOUBLE))) AS DECIMAL(18,9)) AS w025
      FROM documents GROUP BY 1),
    t AS (SELECT cast(sum(n_docs) AS BIGINT) AS nt, sum(w05) AS s05,
            sum(w025) AS s025 FROM n)
    SELECT source, n_docs,
      round(cast(n_docs AS DOUBLE) / cast(nt AS DOUBLE), 6) AS p,
      round(cast(w05 AS DOUBLE) / cast(s05 AS DOUBLE), 6) AS q_t05,
      round(cast(w025 AS DOUBLE) / cast(s025 AS DOUBLE), 6) AS q_t025,
      round(cast(w05 AS DOUBLE) / cast(s05 AS DOUBLE)
        * cast(nt AS DOUBLE) / cast(n_docs AS DOUBLE), 6) AS boost_t05
    FROM n CROSS JOIN t
    ORDER BY source"""

  // ---------------------------------------------------- waterfill budget

  /** Water-filling byte-budget allocator: spend HALF the corpus bytes
    * so that every source below the water level L keeps everything
    * (saturated) and every larger source is clipped to ≈L — the
    * max-min-fair allocation (Σ min(cap_s, L) = B) a mixture designer
    * uses to cap head sources without starving the tail. Closed form,
    * no iteration: source k (capacity-ascending order) saturates iff
    * prefix_k + cap_k·(S−k) ≤ B; the remainder splits evenly over the
    * unsaturated with the first (B_rem mod U) of them (deterministic
    * order) taking +1, so Σ alloc = B EXACTLY. All integer arithmetic;
    * the saturation product runs in DECIMAL(38,0)/HUGEINT (cap ×
    * source-count crosses 2⁶³ at corpus scale). Everything after the
    * per-source aggregation is windows over the sources-sized frame.
    */
  def mixWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val w = Window.orderBy(col("cap"), col("source"))
    val all = Window.partitionBy()
    val caps = Tables.read(spark, dir, "documents").groupBy("source")
      .agg(sum(col("n_chars")).as("cap"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("s", count(lit(1)).over(all))
      .withColumn("b", expr("sum(cap) OVER () div 2"))
      .withColumn("sat",
        dec(col("prefix")) + dec(col("cap")) * dec(col("s") - col("rn"))
          <= dec(col("b")))
    val planned = caps
      .withColumn("b_rem", col("b") - sum(when(col("sat"), col("cap"))
        .otherwise(lit(0L))).over(all))
      .withColumn("u", sum(when(col("sat"), 0L).otherwise(1L)).over(all))
      .withColumn("urn", sum(when(col("sat"), 0L).otherwise(1L)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("alloc", when(col("sat"), col("cap")).otherwise(
        expr("b_rem div u") + when(col("urn") <= col("b_rem") % col("u"), 1L)
          .otherwise(0L)))
    planned.select(col("source"), col("cap").as("cap_bytes"),
        col("alloc").as("alloc_bytes"), col("sat").cast("long").as("saturated"))
      .orderBy("source")
  }

  val mixWaterfillSql: String = """
    WITH caps AS (
      SELECT source, cast(sum(n_chars) AS BIGINT) AS cap
      FROM documents GROUP BY 1),
    r AS (
      SELECT source, cap,
        row_number() OVER (ORDER BY cap, source) AS rn,
        sum(cap) OVER (ORDER BY cap, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        count(*) OVER () AS s,
        sum(cap) OVER () // 2 AS b
      FROM caps),
    sat AS (
      SELECT *,
        (cast(prefix AS HUGEINT) + cast(cap AS HUGEINT) * (s - rn))
          <= cast(b AS HUGEINT) AS is_sat
      FROM r),
    p AS (
      SELECT *,
        b - sum(CASE WHEN is_sat THEN cap ELSE 0 END) OVER () AS b_rem,
        sum(CASE WHEN is_sat THEN 0 ELSE 1 END) OVER () AS u,
        sum(CASE WHEN is_sat THEN 0 ELSE 1 END) OVER (ORDER BY cap, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS urn
      FROM sat)
    SELECT source, cap AS cap_bytes,
      cast(CASE WHEN is_sat THEN cap
           ELSE b_rem // u + (CASE WHEN urn <= b_rem % u THEN 1 ELSE 0 END)
           END AS BIGINT) AS alloc_bytes,
      cast(CASE WHEN is_sat THEN 1 ELSE 0 END AS BIGINT) AS saturated
    FROM p
    ORDER BY source"""

  // ------------------------------------------------------ shard planning

  /** Output shards for the balanced-write plan. */
  val ShardK = 8

  /** Balanced output-shard assignment: rank documents by (bytes desc,
    * doc_id) and deal them to [[ShardK]] shards SERPENTINE (pass 0 deals
    * 0..k−1, pass 1 deals k−1..0, …) — the deterministic one-pass
    * approximation of LPT bin packing that a 100 TB export uses to keep
    * shard files within a few percent of each other (big docs spread
    * first, the alternating direction cancels the within-pass bias).
    * Everything is exact integer arithmetic except the final share,
    * one IEEE division per shard row.
    *
    * The global row_number is the RANK DEFINITION; it materializes via
    * [[graft.operators.Relational.globalRank]] — range-repartition on
    * (n_chars desc, doc_id), per-partition row_number, broadcast
    * partition-offset cumsum — never a single-partition WindowExec
    * (`ShardPlanSpec` pins the plan shape).
    */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Relational.globalRank(
      Tables.read(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id")))
    val s = ranked
      .select(when(expr(s"(rk div $ShardK) % 2") === 0, col("rk") % ShardK)
        .otherwise(lit(ShardK - 1) - col("rk") % ShardK).as("shard"),
        col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    s.crossJoin(broadcast(s.agg(sum(col("bytes")).as("tb"))))
      .select(col("shard"), col("n_docs"), col("bytes"),
        round(col("bytes").cast("double") / col("tb").cast("double"), 6).as("share"))
      .orderBy("shard")
  }

  val shardPlanSql: String = s"""
    WITH r AS (
      SELECT doc_id, n_chars,
        row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
      FROM documents),
    a AS (
      SELECT CASE WHEN (rk // $ShardK) % 2 = 0 THEN rk % $ShardK
                  ELSE ${ShardK - 1} - rk % $ShardK END AS shard, n_chars
      FROM r),
    s AS (SELECT shard, count(*) AS n_docs,
            cast(sum(n_chars) AS BIGINT) AS bytes FROM a GROUP BY 1),
    t AS (SELECT cast(sum(bytes) AS BIGINT) AS tb FROM s)
    SELECT cast(shard AS BIGINT) AS shard, n_docs, bytes,
      round(cast(bytes AS DOUBLE) / cast(tb AS DOUBLE), 6) AS share
    FROM s CROSS JOIN t
    ORDER BY shard"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_prefilter"  -> (bloomPrefilter _),
    "mix_waterfill"    -> (mixWaterfill _),
    "mix_temperature"  -> (mixTemperature _),
    "shard_plan"       -> (shardPlan _),
    "split_assign"     -> (splitAssign _),
    "chunk_dedup"      -> (chunkDedup _),
    "cross_source_overlap" -> (crossSourceOverlap _),
    "text_chunk"       -> (textChunk _),
    "pack_batches"     -> (packBatches _),
    "pack_offsets"     -> (packOffsets _),
    "pack_chunks"      -> (packChunks _),
    "pii_scrub"        -> (piiScrub _),
    "decontaminate"    -> (decontaminate _),
    "decon_spans"      -> (deconSpans _),
    "decon_chunks"     -> (deconChunks _),
    "repetition_ratio" -> (repetitionRatio _),
    "dedup_incremental" -> (dedupIncremental _),
    "mix_sample"       -> (mixSample _),
    "sample_quota"     -> (sampleQuota _),
    "curation_funnel"  -> (curationFunnel _),
    "dedup_rewrite"    -> (dedupRewrite _),
    "gate_attribution" -> (gateAttribution _))

  val oracle: Map[String, String] = Map(
    "bloom_prefilter"  -> bloomPrefilterSql,
    "mix_waterfill"    -> mixWaterfillSql,
    "mix_temperature"  -> mixTemperatureSql,
    "shard_plan"       -> shardPlanSql,
    "split_assign"     -> splitAssignSql,
    "chunk_dedup"      -> chunkDedupSql,
    "cross_source_overlap" -> crossSourceOverlapSql,
    "text_chunk"       -> textChunkSql,
    "pack_batches"     -> packBatchesSql,
    "pack_offsets"     -> packOffsetsSql,
    "pack_chunks"      -> packChunksSql,
    "pii_scrub"        -> piiScrubSql,
    "decontaminate"    -> decontaminateSql,
    "decon_spans"      -> deconSpansSql,
    "decon_chunks"     -> deconChunksSql,
    "repetition_ratio" -> repetitionRatioSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "mix_sample"       -> mixSampleSql,
    "sample_quota"     -> sampleQuotaSql,
    "curation_funnel"  -> curationFunnelSql,
    "dedup_rewrite"    -> dedupRewriteSql,
    "gate_attribution" -> gateAttributionSql)
}
