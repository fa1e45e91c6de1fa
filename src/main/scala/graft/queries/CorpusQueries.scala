package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Dedup, Graph, Materialize, Relational, TextAnalysis}
import graft.sources.Tables

/** Corpus-scale operators, round-6 continuation: exact duplicated-span
  * detection (substring dedup), prefix-filtered set-similarity join,
  * iterative PageRank, BPE pair counting, robust outlier detection,
  * sliding-window aggregation, and the per-source data card.
  *
  * Everything here is oracle-checked (md5/integer arithmetic only on
  * the comparison surface) and shaped for the 100 TB path: candidate
  * generation is always an equi-join on a derived key, iteration state
  * is a keyed frame, and no driver-side data collects anywhere.
  */
object CorpusQueries extends QueryModule {

  // -------------------------------------------------------- dup spans

  /** Window size for duplicated-span detection (tokens). */
  val SpanK = 8

  /** Exact duplicated-SPAN detection (the substring-dedup shape of
    * "Deduplicating Training Data Makes Language Models Better" — span
    * level, not document level): hash every stride-1 window of
    * [[SpanK]] tokens, mark windows whose hash occurs in ≥ 2 distinct
    * documents, and merge each document's marked positions into maximal
    * spans (interval union). Output per affected document: span count,
    * tokens covered by duplicated spans, and the covered fraction.
    *
    * Scale shape: the window frame is (doc, pos, hash) rows — one
    * shuffle keyed by hash for the distinct-doc count, one hash-keyed
    * join back, and one per-document window for the interval merge
    * (partitioned by doc, never global). A suffix-array build — the
    * paper's single-node approach — does not distribute; stride-1
    * window hashing is the standard cluster re-expression and finds
    * exactly the ≥ K-token shared substrings (any shared span of
    * length ≥ K contains a shared K-window, and merged K-window runs
    * reconstruct the span).
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    // NOT spread (A/B round 18: dup_spans flat, and the same spread on
    // spanDedupCore regressed span_dedup_text 0.26 -> 0.54 s and
    // hygiene_funnel 3.5 -> 4.6 s): the gh-keyed shuffle right above
    // re-partitions everything anyway, so the extra exchange only adds
    // cost — unlike winnowFingerprints, whose consumers aggregate the
    // fingerprints without a second corpus-wide shuffle
    val toks = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"), col("t"))
    // md5 window hashes (engine-portable); short docs contribute their
    // whole token array as one clamped window, like the other gram ops
    val g = toks
      .select(col("doc_id"), col("n_tok"), col("t"),
        explode(sequence(lit(0), greatest(size(col("t")) - SpanK, lit(0)))).as("i"))
      .select(col("doc_id"), col("n_tok"), col("i"),
        md5(concat_ws(" ", slice(col("t"), col("i") + 1, lit(SpanK))).cast("binary")).as("gh"))
    // hashes seen in >= 2 DISTINCT docs; the distinct collapses a doc's
    // internal repeats before the count (map-side combined both stages)
    val dup = g.select("gh", "doc_id").distinct()
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val hits = g.join(dup, "gh").select("doc_id", "n_tok", "i")
    // interval union per doc: window at i covers [i, i+K-1]; starts are
    // sorted, so ends are monotone and a new island begins exactly when
    // the gap to the previous start exceeds K
    val w = Window.partitionBy("doc_id").orderBy("i")
    val isl = hits
      .withColumn("prev", lag("i", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > SpanK, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(w))
    val spans = isl.groupBy("doc_id", "n_tok", "island")
      .agg(min("i").cast("long").as("s"), max("i").cast("long").as("e"))
    spans.groupBy("doc_id", "n_tok")
      .agg(count(lit(1)).as("n_spans"),
        // least() clamps the short-doc case where the single clamped
        // window nominally extends past the token count
        sum(least(col("e") + SpanK, col("n_tok")) - col("s")).as("dup_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tok"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  val dupSpansSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    g AS (
      SELECT doc_id, cast(len(t) AS BIGINT) AS n_tok, i,
        md5(array_to_string(t[i+1:i+$SpanK], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t) - $SpanK, 0) + 1)) AS u(i)),
    dup AS (
      SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
      GROUP BY gh HAVING count(*) >= 2),
    hits AS (SELECT doc_id, n_tok, i FROM g WHERE gh IN (SELECT gh FROM dup)),
    isl AS (
      SELECT doc_id, n_tok, i,
        sum(CASE WHEN prev IS NULL OR i - prev > $SpanK THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM (SELECT doc_id, n_tok, i,
              lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM hits)),
    spans AS (
      SELECT doc_id, n_tok, island,
        cast(min(i) AS BIGINT) AS s, cast(max(i) AS BIGINT) AS e
      FROM isl GROUP BY 1, 2, 3)
    SELECT doc_id, count(*) AS n_spans,
      cast(sum(least(e + $SpanK, n_tok) - s) AS BIGINT) AS dup_tokens,
      round(cast(sum(least(e + $SpanK, n_tok) - s) AS DOUBLE) / n_tok, 6) AS dup_ratio
    FROM spans
    GROUP BY doc_id, n_tok
    ORDER BY doc_id"""

  // ---------------------------------------------- prefix-filtered join

  /** Prefix-filtered exact set-similarity self-join (the PPJoin/
    * all-pairs family, Bayardo et al. WWW'07) at Jaccard ≥ 0.5 over
    * word-3-gram sets — UNBLOCKED: unlike [[ScaleQueries.dedupNgram]]
    * (which blocks by source), this is the global-corpus exact join,
    * made tractable by indexing only each document's PREFIX.
    *
    * The filter: order every document's grams by ascending global
    * document frequency (rarest first, gram hash as the tie-break —
    * any total order works, see below); J(x,y) ≥ t forces
    * |x∩y| ≥ ⌈t·|x|⌉, so a match must share at least one gram in x's
    * first |x| − ⌈t·|x|⌉ + 1 grams (pigeonhole). At t = 0.5 the prefix
    * is ~half of each doc, made of its RAREST grams — so hot
    * boilerplate grams almost never reach an index prefix and the
    * candidate join stays sparse without any frequency cap. A length
    * filter (max size ≤ 2 · min size, the t = 0.5 bound) prunes the
    * rest before verification.
    *
    * Oracle note: the two engines order ties differently (xxhash64 here,
    * gram strings there) and therefore index different prefixes — but
    * the theorem makes the candidate set a superset of the true result
    * under ANY consistent order, and exact verification filters both
    * down to the identical pair set, so the query hash-matches.
    */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame =
    prefixPairsFromGrams(
      Materialize(Dedup.explodedNgrams(Tables.read(spark, dir, "documents"), "doc_id", "text", n = 3)))
      .orderBy("a_id", "b_id")

  /** The PPJoin body over an already-materialized gram frame — shared
    * by [[dedupPrefix]] and the consensus union ([[dedupConsensus]]),
    * which feeds prefix and containment from ONE gram materialization.
    */
  private[graft] def prefixPairsFromGrams(grams: DataFrame): DataFrame = {
    val dfreq = grams.groupBy("gh").agg(count(lit(1)).as("df"))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    // sizes join, NOT a count window: A/B'd at sf0.1 under bench
    // methodology — an unbounded-frame count window over the gram frame
    // buffers every id-partition in WindowExec and costs more than the
    // tiny aggregate + broadcast join it would replace (2.8 s -> 4.2 s
    // regression when tried in round 7)
    val ranked = grams.join(dfreq, "gh").join(sizes, "id")
      .withColumn("rk", row_number().over(Window.partitionBy("id").orderBy("df", "gh")))
    // prefix length |x| - ceil(0.5|x|) + 1 = |x| div 2 + 1, exact in
    // integer arithmetic on both engines
    // materialized: the candidate self-join references the prefix frame
    // twice, and each raw reference would recompute the doc-frequency
    // join + ranking window
    val prefix = Materialize(ranked.filter(col("rk") <= expr("sz div 2 + 1"))
      .select("id", "gh", "sz", "rk"))
    val pa = prefix.select(col("id").as("a_id"), col("gh").as("agh"),
      col("sz").as("asz"), col("rk").as("ark"))
    val pb = prefix.select(col("id").as("b_id"), col("gh").as("bgh"),
      col("sz").as("bsz"), col("rk").as("brk"))
    // positional filter (the PPJoin second filter): with the earliest
    // collision at prefix ranks (pa, pb), the overlap can't exceed
    // 1 + min(|a|−pa, |b|−pb), and J ≥ 0.5 needs overlap ≥
    // ⌈(|a|+|b|)/3⌉ — so 3·(1+min(...)) < |a|+|b| kills the pair
    // before the expensive intersection joins (measured 2.5× candidate
    // pruning at sf0.1, soundness cross-checked against brute force).
    // Using min-over-all-collisions relaxes the bound upward, so the
    // filter stays conservative. The pair aggregation replaces the
    // distinct() — same shuffle, the mins ride map-side combine.
    val cands = pa.join(pb,
        col("agh") === col("bgh") && col("a_id") < col("b_id") &&
          greatest(col("asz"), col("bsz")) <= lit(2) * least(col("asz"), col("bsz")))
      .groupBy("a_id", "b_id")
      .agg(max("asz").as("casz"), max("bsz").as("cbsz"),
        min("ark").as("pa"), min("brk").as("pb"))
      .filter(lit(3) * (lit(1) + least(col("casz") - col("pa"), col("cbsz") - col("pb"))) >=
        col("casz") + col("cbsz"))
      .select("a_id", "b_id")
    Dedup.verifyJaccard(cands, grams, 0.5)
  }

  val dedupPrefixSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
    ranked AS (
      SELECT gr.doc_id, gr.g, s.sz,
        row_number() OVER (PARTITION BY gr.doc_id ORDER BY d.df, gr.g) AS rk
      FROM grams gr JOIN dfreq d USING (g) JOIN sizes s USING (doc_id)),
    prefix AS (SELECT doc_id, g, sz, rk FROM ranked WHERE rk <= sz // 2 + 1),
    cand AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          max(a.sz) AS asz, max(b.sz) AS bsz,
          min(a.rk) AS pa, min(b.rk) AS pb
        FROM prefix a JOIN prefix b
          ON a.g = b.g AND a.doc_id < b.doc_id
         AND greatest(a.sz, b.sz) <= 2 * least(a.sz, b.sz)
        GROUP BY 1, 2)
      WHERE 3 * (1 + least(asz - pa, bsz - pb)) >= asz + bsz),
    inter AS (
      SELECT c.a_id, c.b_id, cast(count(*) AS DOUBLE) AS i
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.a_id
      JOIN grams gb ON gb.doc_id = c.b_id AND ga.g = gb.g
      GROUP BY 1, 2)
    SELECT a_id, b_id,
      round(i / (na.sz + nb.sz - i), 6) AS jaccard_sim
    FROM inter
    JOIN sizes na ON inter.a_id = na.doc_id
    JOIN sizes nb ON inter.b_id = nb.doc_id
    WHERE i / (na.sz + nb.sz - i) >= 0.5
    ORDER BY a_id, b_id"""

  // ------------------------------------------------- containment join

  /** Containment threshold as an exact rational (4/5): integer prefix
    * arithmetic on both engines.
    */
  val ContainNum = 4
  val ContainDen = 5

  /** Candidate-generation df cap — same convention (and value) as the
    * rare-gram Jaccard's `capGramDocFreq(maxDocFreq = 20)`. A gram in
    * more than this many docs generates NO candidates: without the cap,
    * one boilerplate gram in a short doc's prefix joins every doc
    * containing it on the full side — O(df) rows per such doc, quadratic
    * when boilerplate-heavy short docs are common (the LSH `maxBucket`
    * failure mode). With it, per-gram candidate fan-out is hard-bounded
    * at df² ≤ 400 rows no matter the corpus size. The exact-intersection
    * VERIFY stage still runs on the uncapped gram frame, so surviving
    * pairs score true containment; only discovery through hot grams is
    * forgone (a doc whose whole prefix — its RAREST grams — is
    * boilerplate has no rare signal to match on; exact/minhash dedup
    * covers the identical-boilerplate case).
    */
  val ContainMaxDf = 20

  /** Directional containment join: pairs (a, b) where ≥ 80% of a's
    * word-3-gram set appears in b — the asymmetric cousin of the
    * Jaccard join that Jaccard MISSES when |b| ≫ |a| (a quoted reply
    * inside a thread, a paragraph inside its wrapper page scores
    * J ≈ |a|/|b| ≈ 0 but containment ≈ 1). The pigeonhole prefix works
    * one-sided: c(a,b) ≥ t forces a shared gram among a's first
    * |a| − ⌈t·|a|⌉ + 1 RAREST grams, so only that prefix of the
    * contained side is indexed; the containing side joins with its full
    * (already materialized) gram frame. |b| ≥ t·|a| (exact integers:
    * den·|b| ≥ num·|a|) prunes before verification; exact intersection
    * verifies. Same ANY-consistent-tie-order soundness argument as
    * `dedup_prefix`, so the xxhash64-ranked engine and the string-ranked
    * oracle converge on the identical verified pair set.
    *
    * The `ContainMaxDf` clamp keeps that argument intact: ranking runs
    * WITHIN the rare (df ≤ cap) gram subset, so the clamped prefix is
    * either (a) the first k of a's rare grams — any k distinct grams
    * of a still pigeonhole-intersect b for a true pair, under any
    * tie-order — or (b) ALL of a's rare grams, which is tie-order-free.
    * Either way the verified pair set is engine-independent, just over
    * the rare-gram discovery space.
    */
  /** Candidate stage of the containment join, exposed so the spec can
    * assert the fan-out bound directly on planted boilerplate. Grams
    * with df > `ContainMaxDf` are excluded from BOTH sides of the
    * prefix⋈full join (never from the verify stage), hard-bounding the
    * per-gram join output at df² ≤ ContainMaxDf².
    */
  def containmentCandidates(grams: DataFrame): DataFrame = {
    val dfreq = grams.groupBy("gh").agg(count(lit(1)).as("df"))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    // sizes join, NOT a count window: A/B'd at sf0.1 under bench
    // methodology — an unbounded-frame count window over the gram frame
    // buffers every id-partition in WindowExec and costs more than the
    // tiny aggregate + broadcast join it would replace (2.8 s -> 4.2 s
    // regression when tried in round 7)
    //
    // ONE joined+clamped pass feeds both join sides (round 8; the
    // previous shape joined grams⋈dfreq⋈sizes twice — once ranked for
    // the prefix, once raw for the full side). `sz` stays the UNCAPPED
    // gram count (prefix length, |b|≥t·|a| prune and the verify
    // denominator all reason about the true set size); only gram ROWS
    // are clamped. Ranking within the rare subset lets a doc whose
    // cheapest grams include hot ones use its full rare prefix — a
    // SUPERSET of the old discovery space (any k distinct grams
    // pigeonhole-intersect a true pair's container), mirrored in the
    // oracle.
    val rare = Materialize(grams.join(dfreq, "gh")
      .filter(col("df") <= ContainMaxDf).join(sizes, "id"))
    val prefix = rare
      .withColumn("rk", row_number().over(Window.partitionBy("id").orderBy("df", "gh")))
      .filter(col("rk") <= expr(s"sz - ($ContainNum * sz + $ContainNum) div $ContainDen + 1"))
      .select(col("id").as("a_id"), col("gh").as("agh"), col("sz").as("asz"))
    val full = rare
      .select(col("id").as("b_id"), col("gh").as("bgh"), col("sz").as("bsz"))
    prefix.join(full,
        col("agh") === col("bgh") && col("a_id") =!= col("b_id") &&
          col("bsz") * ContainDen >= col("asz") * ContainNum)
      .select("a_id", "b_id").distinct()
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairsFromGrams(
      Materialize(Dedup.explodedNgrams(Tables.read(spark, dir, "documents"), "doc_id", "text", n = 3)))
      .orderBy("a_id", "b_id")

  /** Candidate + verify body over an already-materialized gram frame —
    * shared by [[dedupContainment]] and the consensus union.
    */
  private[graft] def containmentPairsFromGrams(grams: DataFrame): DataFrame = {
    val cands = containmentCandidates(grams)
    // verify via ROW-LOCAL array_intersect over per-doc gram arrays
    // (A/B'd under the bench methodology vs the old explode-join-
    // aggregate verify — cands⋈grams⋈grams then a pair-count aggregate:
    // 3.73 s → 2.43 s at sf0.1, identical rows). One aggregation builds
    // the arrays (sz longs per doc — linear in the gram frame), then each
    // candidate pair is two hash-joins and a codegen'd intersect, no per-pair shuffle rows.
    val arrs = grams.groupBy("id")
      .agg(sort_array(collect_list(col("gh"))).as("gs"), count(lit(1)).as("sz"))
    cands
      .join(arrs.select(col("id").as("a_id"), col("gs").as("ga"), col("sz").as("na")), "a_id")
      .join(arrs.select(col("id").as("b_id"), col("gs").as("gb")), "b_id")
      .select(col("a_id"), col("b_id"), col("na"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("inter"))
      .filter(col("inter").cast("double") / col("na") >=
        ContainNum.toDouble / ContainDen)
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / col("na"), 6).as("containment"))
  }

  val dedupContainmentSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
    rare AS (
      SELECT gr.doc_id, gr.g, s.sz, d.df
      FROM grams gr JOIN dfreq d USING (g) JOIN sizes s USING (doc_id)
      WHERE d.df <= $ContainMaxDf),
    ranked AS (
      SELECT doc_id, g, sz,
        row_number() OVER (PARTITION BY doc_id ORDER BY df, g) AS rk
      FROM rare),
    prefix AS (
      SELECT doc_id, g, sz FROM ranked
      WHERE rk <= sz - ($ContainNum * sz + $ContainNum) // $ContainDen + 1),
    full_g AS (
      SELECT doc_id, g, sz FROM rare),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM prefix a JOIN full_g b
        ON a.g = b.g AND a.doc_id != b.doc_id
       AND b.sz * $ContainDen >= a.sz * $ContainNum),
    inter AS (
      SELECT c.a_id, c.b_id, count(*) AS i
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.a_id
      JOIN grams gb ON gb.doc_id = c.b_id AND ga.g = gb.g
      GROUP BY 1, 2)
    SELECT a_id, b_id, round(CAST(i AS DOUBLE) / s.sz, 6) AS containment
    FROM inter JOIN sizes s ON inter.a_id = s.doc_id
    WHERE CAST(i AS DOUBLE) / s.sz >= ${ContainNum.toDouble / ContainDen}
    ORDER BY a_id, b_id"""

  // -------------------------------------------- source minhash similarity

  /** Seeds for the source-level signature; tolerance gate for the
    * estimate (sd ≈ √(J(1−J)/128) ≤ 0.045, so 0.25 is far outside
    * noise).
    */
  val SrcMinhashSeeds = 128
  val SrcMinhashGate = 0.25

  /** Source-pair similarity two ways: the EXACT word-3-gram Jaccard
    * (oracle-checked) next to its MinHash estimate, emitted as an
    * in-bounds flag — the tolerance-oracle pattern. The point is the
    * sketch ALGEBRA: a source's signature is the element-wise min of
    * its documents' signatures (proven in spec), so per-doc sketches
    * computed once merge upward to any grouping without touching raw
    * text again — at 100 TB the estimate costs |sources|·128 longs
    * after the one gram scan, while the exact join reshuffles grams;
    * this query carries both so the estimate is auditable.
    */
  def sourceMinhashSim(spark: SparkSession, dir: String): DataFrame = {
    val grams = Materialize(
      Dedup.explodedNgrams(Tables.read(spark, dir, "documents"), "doc_id", "text", n = 3,
          keep = Seq("source"))
        .select(col("source"), col("gh")).distinct())
    val sigs = Dedup.minhashSignatures(
      grams.select(col("source").as("id"), col("gh")), SrcMinhashSeeds)
    val est = sigs.select(col("id").as("source_a"), col("sig").as("siga"))
      .crossJoin(broadcast(sigs.select(col("id").as("source_b"), col("sig").as("sigb"))))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (aggregate(zip_with(col("siga"), col("sigb"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / SrcMinhashSeeds).as("est"))
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val gb = grams.select(col("source").as("sb"), col("gh").as("ghb"))
    val inter = grams.join(gb, col("gh") === col("ghb") && col("source") < col("sb"))
      .groupBy(col("source").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jac"))
      .join(est, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), round(col("jac"), 6).as("jaccard"),
        (abs(col("est") - col("jac")) <= SrcMinhashGate).cast("long").as("in_bounds"))
      .orderBy("source_a", "source_b")
  }

  val sourceMinhashSimSql: String = """
    WITH toks AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS g
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
    sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b,
      round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard,
      cast(1 AS BIGINT) AS in_bounds
    FROM inter
    JOIN sizes na ON inter.source_a = na.source
    JOIN sizes nb ON inter.source_b = nb.source
    ORDER BY source_a, source_b"""

  // ---------------------------------------------------------- pagerank

  /** PageRank iterations; fixed (not converged) so both engines replay
    * the identical computation.
    */
  val PrIters = 3

  /** Recommended salt fan-out for [[pagerankOn]] past broadcast scale:
    * a degree-d hub's edge rows land on min(distinct dsts, PrSalt)
    * reducers instead of one. Physical distribution only — results are
    * salt-invariant.
    */
  val PrSalt = 8

  /** Fixed-iteration PageRank over the part co-purchase graph (parts
    * linked when they appear in the same order; edges both directions).
    * Top-100 by final rank.
    *
    * Determinism discipline: ranks live as BIGINT micro-units
    * (1e6 = 1.0) and every step is integer arithmetic — contribution =
    * pr div outdeg, update = 150000 + 85·Σ div 100 — so Spark and the
    * oracle agree bit-for-bit regardless of aggregation order (float
    * PageRank sums would drift by shuffle order). The floor-division
    * mass loss and the dropped dangling mass are part of the operator's
    * documented semantics, identical on both engines.
    *
    * Scale shape: edges + out-degrees materialize ONCE and every
    * iteration is one join keyed by src and one aggregation keyed by
    * dst — the standard distributed PageRank step. No collects, no
    * driver state; at cluster scale you'd pre-partition edges by src
    * and reuse that partitioning across all iterations.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOn(Tables.read(spark, dir, "lineitem"),
      Tables.read(spark, dir, "part").select(col("p_partkey").as("node")))

  /** [[pagerank]] core over an (l_orderkey, l_partkey) co-purchase frame
    * and a (node) universe — factored so `GraphSkewSpec` can plant a
    * power-law hot node against the REAL operator.
    *
    * @param salts hub fan-out for the per-iteration contrib join.
    *   1 (default) joins on plain `src`: the node-sized rank side stays
    *   auto-broadcastable, which is the optimal plan while nodes fit
    *   the broadcast threshold (this bench's regime — measured, a
    *   forced salted SMJ costs +50% here). At node counts past
    *   broadcast the join becomes an SMJ whose hub partition no plan
    *   rewrite can split (AQE's skew rule needs bare shuffle-stage
    *   children; the rank side is always a join output) — THERE, set
    *   salts > 1: [[Relational.saltedDimJoin]] salts edges by
    *   hash(dst) % salts and replicates ranks, so a hub spreads over
    *   `salts` reducers by construction.
    *   Results are salt-invariant (`GraphSkewSpec` pins ranks at
    *   salts = 8 against a planted hub and the driver replay).
    */
  def pagerankOn(li: DataFrame, nodes: DataFrame, salts: Int = 1): DataFrame = {
    // out-degree as a window count over the SAME src partitioning (a
    // groupBy+join would read the un-materialized edge plan twice and
    // recompute the whole build); materialized once for the 3
    // iterations
    val esrc = Materialize(Graph.mirrored(Graph.oriented(li))
      .withColumn("od", count(lit(1)).over(Window.partitionBy("src"))))
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to PrIters) {
      val contrib = Relational.saltedDimJoin(esrc,
          pr.select(col("node").as("src"), col("pr")), Seq("src"), col("dst"), salts)
        .select(col("dst").as("node"), expr("pr div od").as("c"))
        .groupBy("node").agg(sum("c").as("cs"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("cast(150000 as bigint) + (85 * coalesce(cs, cast(0 as bigint))) div 100").as("pr"))
    }
    pr.orderBy(col("pr").desc, col("node")).limit(100)
      .select(col("node").as("p_partkey"), col("pr"))
  }

  val pagerankSql: String = {
    val base = s"""${Graph.edgeCtes(bulk = false)},
    p0 AS (SELECT p_partkey AS node, cast(1000000 AS BIGINT) AS pr FROM part)"""
    val iters = (1 to PrIters).map { k =>
      s"""
    c$k AS (
      SELECT e.dst AS node, sum(p.pr // o.deg) AS cs
      FROM e JOIN deg o ON e.src = o.node JOIN p${k - 1} p ON e.src = p.node
      GROUP BY e.dst),
    p$k AS (
      SELECT n.node,
        cast(150000 + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS pr
      FROM p${k - 1} n LEFT JOIN c$k c ON n.node = c.node)"""
    }.mkString(",")
    s"""$base,$iters
    SELECT node AS p_partkey, pr FROM p$PrIters
    ORDER BY pr DESC, node LIMIT 100"""
  }

  // --------------------------------------------------------- bpe pairs

  /** Corpus-level adjacent-token-pair counts — the inner step of BPE
    * vocabulary induction (the most frequent pair is the next merge).
    * Top-20 with deterministic (count desc, pair asc) tie-break.
    *
    * Row-local pair extraction (explode positions of ONE array), one
    * map-side-combined aggregation — the frequency table never carries
    * more than |vocab|² keys regardless of corpus size.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(TextAnalysis.wordTokens(lower(col("text"))).as("t"))
      // guard: sequence(1, 0) would generate a DESCENDING range
      .filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(20)

  val bpePairsSql: String = """
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
    p AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i))
    SELECT w1, w2, count(*) AS n
    FROM p GROUP BY w1, w2
    ORDER BY n DESC, w1, w2 LIMIT 20"""

  // ------------------------------------------------------- bpe trainer

  /** Merge rounds the BPE trainer runs (unrolled in engine and oracle). */
  val BpeRounds = 6

  /** Iterative BPE vocabulary trainer — [[bpePairs]] computes one inner
    * step; this runs [[BpeRounds]] full merge rounds over the
    * word-frequency table, the actual training loop of a byte-pair
    * tokenizer: count adjacent symbol pairs (weighted by word
    * frequency), merge the most frequent pair everywhere, repeat.
    * Output: one row per round — the learned merge and its frequency.
    *
    * Symbol sequences are spelled as a space-wrapped string
    * (" s1  s2 ... ": every symbol wrapped in single spaces), so the
    * merge (x, y) is the LITERAL substring rewrite " x  y " → " xy ".
    * `replace()` on both engines rewrites non-overlapping occurrences
    * left-to-right — exactly BPE's greedy merge order — and the wrap
    * makes boundary false-matches impossible: a match must start and
    * end on a symbol boundary ("ba","b" can never match the pattern
    * for ("a","b")). The rewrite preserves the wrap invariant, so
    * rounds compose.
    *
    * Scale shape: the trainer iterates over the WORD-FREQUENCY table
    * (|vocab| rows), never the corpus — one corpus pass builds the
    * vocab, then each round is a vocab-sized pair aggregation plus a
    * broadcast of the single winning pair. Each round's vocab is
    * materialized: it has two consumers (pair count + re-tokenize), so
    * an unmaterialized lineage would replay the round prefix 2^k times.
    * Winner selection is a 1-row limit with a total (n desc, s1, s2)
    * order — deterministic across partitionings.
    */
  def bpeMergesFrom(words: DataFrame): DataFrame = bpeTrainFrom(words)._2

  /** The trainer loop shared by [[bpeMerges]] (the learned merge table)
    * and [[bpeEncode]] (applying the final vocab back to documents).
    *
    * @return (final vocab as (w, freq, repr) — repr already rewritten
    *         by all [[BpeRounds]] merges, merges as (round, lhs, rhs, n))
    */
  def bpeTrainFrom(words: DataFrame): (DataFrame, DataFrame) = {
    var vocab = Materialize(words.filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        regexp_replace(col("w"), "(.)", " $1 ").as("repr")))
    val rounds = (1 to BpeRounds).map { r =>
      val pairs = vocab
        .select(col("freq"), split(btrim(col("repr")), "  ").as("t"))
        // guard: sequence(1, 0) would generate a DESCENDING range
        .filter(size(col("t")) >= 2)
        .select(col("freq"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(element_at(col("t"), col("i")).as("s1"),
          element_at(col("t"), col("i") + 1).as("s2"), col("freq"))
        .groupBy("s1", "s2").agg(sum("freq").as("n"))
      val best = Materialize(
        pairs.orderBy(col("n").desc, col("s1"), col("s2")).limit(1))
      // LEFT join on true, not crossJoin: a round with no pairs left
      // (tiny vocab fully merged early) must be a NO-OP rewrite, not
      // wipe the vocab — bpe_encode reads the final vocab
      vocab = Materialize(vocab
        .join(broadcast(best.select(col("s1").as("m1"), col("s2").as("m2"))),
          lit(true), "left")
        .selectExpr("w", "freq",
          "CASE WHEN m1 IS NULL THEN repr ELSE " +
            "replace(repr, concat(' ', m1, '  ', m2, ' '), concat(' ', m1, m2, ' ')) END AS repr"))
      best.select(lit(r.toLong).as("round"),
        col("s1").as("lhs"), col("s2").as("rhs"), col("n"))
    }
    (vocab, rounds.reduce(_ unionByName _).orderBy("round"))
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(Tables.read(spark, dir, "documents")
      .select(explode(TextAnalysis.wordTokens(lower(col("text")))).as("w")))

  /** Per-document subword statistics under the trained BPE vocab: join
    * every document word to its final symbol count and aggregate —
    * n_words, n_subtokens, and fertility (subtokens per word), the
    * metric tokenizer evaluations report. Same trainer, so the oracle
    * reuses the unrolled-CTE prefix and joins v[[BpeRounds]] back to
    * the per-doc word stream. The vocab side is vocabulary-sized
    * (auto-broadcast); the corpus-sized word stream is never shuffled
    * except for the final per-doc aggregation.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val dw = Tables.read(spark, dir, "documents").select(col("doc_id"),
        explode(TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
    val vocab = bpeTrainFrom(dw.select("w"))._1
    dw.join(vocab.select(col("w"),
        size(split(btrim(col("repr")), "  ")).cast("long").as("n_sub")), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subtokens"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        round(col("n_subtokens").cast("double") / col("n_words"), 6).as("fertility"))
      .orderBy("doc_id")
  }

  /** Unrolled-CTE trainer prefix (shared by the merges and encode
    * oracles), same shape as [[pagerankSql]]: v0 is the char-split
    * vocab, each round is (pairs → 1-row best → rewritten vocab).
    */
  private val bpeCtePrefix: String = {
    val base = """
    WITH words AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents),
    v0 AS (
      SELECT w, count(*) AS freq, regexp_replace(w, '(.)', ' \1 ', 'g') AS repr
      FROM words WHERE w != '' GROUP BY w)"""
    val iters = (1 to BpeRounds).map { r =>
      s"""
    p$r AS (
      SELECT t[i] AS s1, t[i+1] AS s2, cast(sum(freq) AS BIGINT) AS n
      FROM (SELECT freq, string_split(trim(repr), '  ') AS t FROM v${r - 1}),
        unnest(range(1, len(t))) AS u(i)
      GROUP BY 1, 2),
    b$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
    v$r AS (
      SELECT v.w, v.freq,
        CASE WHEN b.s1 IS NULL THEN v.repr ELSE
          replace(v.repr, ' ' || b.s1 || '  ' || b.s2 || ' ',
                          ' ' || b.s1 || b.s2 || ' ') END AS repr
      FROM v${r - 1} v LEFT JOIN b$r b ON true)"""
    }.mkString(",")
    s"$base,$iters"
  }

  val bpeMergesSql: String = {
    val out = (1 to BpeRounds)
      .map(r => s"SELECT cast($r AS BIGINT) AS round, s1 AS lhs, s2 AS rhs, n FROM b$r")
      .mkString("\n    UNION ALL ")
    s"$bpeCtePrefix\n    $out\n    ORDER BY round"
  }

  /** The trained tokenizer's user-visible artifact: the 50 most
    * frequent words with their final subword segmentation — what a
    * tokenizer card prints and the first thing you inspect when
    * fertility regresses. Pure projection over the trainer's final
    * vocab (vocabulary-sized, corpus never re-read); top-50 under a
    * TOTAL order (freq desc, w) so the limit is deterministic.
    */
  def bpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val dw = Tables.read(spark, dir, "documents").select(col("doc_id"),
        explode(TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
    val vocab = bpeTrainFrom(dw.select("w"))._1
    val pieces = split(btrim(col("repr")), "  ")
    vocab.select(col("w"), col("freq"),
        size(pieces).cast("long").as("n_pieces"),
        array_join(pieces, "|").as("pieces"))
      .orderBy(col("freq").desc, col("w")).limit(50)
  }

  val bpeEncodeSql: String = s"""$bpeCtePrefix,
    dw AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    enc AS (
      SELECT d.doc_id, count(*) AS n_words,
        cast(sum(len(string_split(trim(v.repr), '  '))) AS BIGINT) AS n_subtokens
      FROM dw d JOIN v$BpeRounds v USING (w)
      WHERE d.w != ''
      GROUP BY d.doc_id)
    SELECT doc_id, n_words, n_subtokens,
      round(cast(n_subtokens AS DOUBLE) / n_words, 6) AS fertility
    FROM enc ORDER BY doc_id"""

  val bpeSegmentSql: String = s"""$bpeCtePrefix
    SELECT w, freq,
      cast(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_pieces,
      array_to_string(string_split(trim(repr), '  '), '|') AS pieces
    FROM v$BpeRounds
    ORDER BY freq DESC, w LIMIT 50"""

  // --------------------------------------------- unigram-LM tokenizer

  /** Longest word the oracle's unrolled Viterbi DP covers — an
    * ORACLE-REPLAY bound, not a trainer limitation (the Scala Viterbi
    * handles any length): the registered query trains on words within
    * the unroll, mirrored by `len(w) <= 8` in the oracle's vocab CTE.
    */
  private val UgMaxWord = 8

  /** Trainer vocab bounds, applied BEFORE anything leaves the engine:
    * a min-document-frequency floor and a top-V candidate cap under
    * the TOTAL (f desc, w) order — SentencePiece's own discipline (it
    * trains on a bounded seed vocab, never the raw distinct-token
    * table, whose size at 100 TB is billions of rows). On the test
    * corpus both are provably inert (31 distinct words, min f = 26 —
    * UnigramLmSpec pins that), so every oracle stays hash-green while
    * the engine path is driver-safe at any corpus size.
    */
  private[graft] val UgMinDf = 2L
  private[graft] val UgTopV = 1024

  /** The bounded trainer vocab from a (w, f) frame: length / min-df
    * filters then the top-V cap as `orderBy(...).limit(...)` — plans
    * as TakeOrderedAndProject (distributed per-partition top-V, one
    * V-row exchange), NEVER a global sort or an unbounded collect.
    */
  private[graft] def boundedUnigramVocab(wf: DataFrame): Map[String, Long] =
    wf.filter(length(col("w")) <= UgMaxWord && col("f") >= UgMinDf)
      .orderBy(col("f").desc, col("w")).limit(UgTopV)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One corpus pass: the (word, freq) vocab the trainer consumes —
    * the ONLY corpus-sized work in the family ([[graft.operators.UnigramLm]]
    * scaladoc: production SentencePiece trains on a vocab/sample too).
    * What reaches the driver is BOUNDED by [[boundedUnigramVocab]]
    * (≤ [[UgTopV]] rows), so no corpus growth can OOM the collect.
    */
  private def unigramWordFreqs(spark: SparkSession, dir: String): Map[String, Long] =
    boundedUnigramVocab(Tables.read(spark, dir, "documents")
      .select(explode(TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f")))

  /** `unigram_train` — the trained unigram-LM piece inventory:
    * (piece, usage, logp) after [[graft.operators.UnigramLm.Rounds]]
    * EM rounds. Usage counts are exact integers (sums of word freqs),
    * so the prune boundary (usage > 0) is fp-robust, and logp =
    * ln(int/int) diverges cross-engine only in the last ulp.
    */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = graft.operators.UnigramLm.train(unigramWordFreqs(spark, dir))
    m.usage.toSeq.sortBy(_._1)
      .map { case (p, u) => (p, u, m.logp(p)) }
      .toDF("piece", "usage", "lp")
      .select(col("piece"), col("usage"), round(col("lp"), 6).as("logp"))
      .orderBy("piece")
  }

  /** `unigram_segment` — the tokenizer card: the 20 most frequent
    * words with their final Viterbi segmentation (pieces left to
    * right), the `bpe_segment` artifact for the unigram model. The
    * measured Viterbi decision margin is 0.90 across SFs — nine
    * orders above ln()'s cross-engine ulp — so both engines pick the
    * identical path for every word.
    */
  def unigramSegment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = unigramWordFreqs(spark, dir)
    val m = graft.operators.UnigramLm.train(wf)
    wf.toSeq.sortBy { case (w, f) => (-f, w) }.take(20)
      .map { case (w, f) =>
        val pieces = graft.operators.UnigramLm.viterbi(w, m.logp)
        (w, f, pieces.length.toLong, pieces.mkString("|"))
      }
      .toDF("w", "f", "n_pieces", "pieces")
      .orderBy(col("f").desc, col("w"))
  }

  /** `unigram_encode` — per-document fertility under the trained
    * unigram model: the corpus word stream joins the vocab-sized
    * per-word piece counts (auto-broadcast — the `bpe_encode` shape),
    * one aggregation keyed doc_id. The engine-side scale path: the
    * corpus is scanned once, map-only, and the model rides along as a
    * 31-row broadcast.
    */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = unigramWordFreqs(spark, dir)
    val m = graft.operators.UnigramLm.train(wf)
    val np = wf.keys.toSeq.sorted
      .map(w => (w, graft.operators.UnigramLm.viterbi(w, m.logp).length.toLong))
      .toDF("w", "n_pieces")
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), explode(TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(np), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subtokens"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        round(col("n_subtokens").cast("double") / col("n_words"), 6).as("fertility"))
      .orderBy("doc_id")
  }

  /** The unrolled Viterbi chain for EM round `r` against piece table
    * `pc${r-1}`: dp tables per position (argmax with the TOTAL
    * (score DESC, start ASC, piece ASC) tie-break), the tagged union,
    * and the backtrace hops emitting one piece per hop. Shared by the
    * training rounds and the final segmentation replay.
    */
  private def ugViterbiCtes(r: Int): String = {
    val mp = graft.operators.UnigramLm.MaxPiece
    val dps = (1 to UgMaxWord).map { j =>
      val cands = (math.max(0, j - mp) until j).map { i =>
        s"""SELECT d.w, d.f, d.s + pc.lp AS s, $i AS i, substr(d.w, ${i + 1}, ${j - i}) AS p
      FROM ugdp${r}_$i d JOIN ugpc${r - 1} pc ON pc.p = substr(d.w, ${i + 1}, ${j - i})
      WHERE len(d.w) >= $j"""
      }.mkString("\n      UNION ALL ")
      s"""ugdp${r}_$j AS (
      SELECT w, f, s, i, p FROM (
        SELECT *, row_number() OVER (PARTITION BY w ORDER BY s DESC, i ASC, p ASC) AS rn
        FROM ($cands))
      WHERE rn = 1)"""
    }
    val dpa = s"""ugdpa$r AS (
      ${(1 to UgMaxWord).map(j => s"SELECT w, f, s, i, p, $j AS j FROM ugdp${r}_$j")
        .mkString("\n      UNION ALL ")})"""
    val bts = (1 to UgMaxWord).map { h =>
      val prev = if (h == 1) s"ugbt${r}_0" else s"ugbt${r}_${h - 1}"
      s"""ugbt${r}_$h AS (
      SELECT b.w, b.f, d.i AS j, d.p AS p, $h AS h
      FROM $prev b JOIN ugdpa$r d ON d.w = b.w AND d.j = b.j
      WHERE b.j > 0)"""
    }
    (Seq(s"ugdp${r}_0 AS (SELECT w, f, CAST(0.0 AS DOUBLE) AS s FROM ugwf)") ++
      dps ++ Seq(dpa) ++
      Seq(s"ugbt${r}_0 AS (SELECT w, f, len(w) AS j FROM ugwf)") ++ bts)
      .mkString(",\n    ")
  }

  /** Usage/prune/renorm CTEs closing EM round `r`: exact-integer
    * usage, the single-char +1 floor (chars never prune), survivors
    * only in both the rows and the normalizer.
    */
  private def ugRoundClose(r: Int): String = s"""uguse$r AS (
      SELECT p, CAST(sum(f) AS BIGINT) AS u FROM (
        ${(1 to UgMaxWord).map(h => s"SELECT p, f FROM ugbt${r}_$h").mkString("\n        UNION ALL ")})
      GROUP BY p),
    ugsur$r AS (
      SELECT p, u2 FROM (
        SELECT pc.p,
          coalesce(u.u, 0) + CASE WHEN len(pc.p) = 1 THEN 1 ELSE 0 END AS u2
        FROM ugpc${r - 1} pc LEFT JOIN uguse$r u USING (p))
      WHERE u2 > 0),
    ugpc$r AS (
      SELECT p, ln(CAST(u2 AS DOUBLE) / (SELECT CAST(sum(u2) AS DOUBLE) FROM ugsur$r)) AS lp
      FROM ugsur$r)"""

  /** Seed + the full EM unroll up to `ugpc$Rounds`/`ugsur$Rounds`. */
  private def ugTrainCtes: String = {
    val mp = graft.operators.UnigramLm.MaxPiece
    val top = graft.operators.UnigramLm.PoolTop
    val rounds = (1 to graft.operators.UnigramLm.Rounds)
      .map(r => s"${ugViterbiCtes(r)},\n    ${ugRoundClose(r)}").mkString(",\n    ")
    s"""ugwords AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    ugwf AS (
      SELECT w, f FROM (
        SELECT w, CAST(count(*) AS BIGINT) AS f,
          row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM ugwords WHERE w != '' AND len(w) <= $UgMaxWord GROUP BY w)
      WHERE f >= $UgMinDf AND rn <= $UgTopV),
    ugsp AS (
      SELECT f, substr(w, i, l) AS p
      FROM ugwf, range(1, ${UgMaxWord + 1}) t1(i), range(1, ${mp + 1}) t2(l)
      WHERE i + l - 1 <= len(w)),
    ugcand AS (SELECT p, CAST(sum(f) AS BIGINT) AS cf FROM ugsp GROUP BY p),
    ugpool AS (
      SELECT p, cf FROM (
        SELECT p, cf, row_number() OVER (ORDER BY cf * len(p) DESC, p) AS rn
        FROM ugcand)
      WHERE rn <= $top
      UNION
      SELECT p, cf FROM ugcand WHERE len(p) = 1),
    ugpc0 AS (
      SELECT p, ln(CAST(cf AS DOUBLE) / (SELECT CAST(sum(cf) AS DOUBLE) FROM ugpool)) AS lp
      FROM ugpool),
    $rounds"""
  }

  val unigramTrainSql: String = ScaleQueries.materializeCtes {
    val R = graft.operators.UnigramLm.Rounds
    s"""
    WITH $ugTrainCtes
    SELECT s.p AS piece, s.u2 AS usage, round(pc.lp, 6) AS logp
    FROM ugsur$R s JOIN ugpc$R pc USING (p)
    ORDER BY piece"""
  }

  /** Final segmentation replay: one more Viterbi round (r = Rounds+1)
    * against the trained `ugpc$Rounds`, pieces re-assembled left to
    * right (backtrace hop h walks right to left, so h DESC).
    */
  private def ugSegCtes: String = {
    val r = graft.operators.UnigramLm.Rounds + 1
    s"""$ugTrainCtes,
    ${ugViterbiCtes(r)},
    ugseg AS (
      SELECT w, any_value(f) AS f, CAST(count(*) AS BIGINT) AS n_pieces,
        string_agg(p, '|' ORDER BY h DESC) AS pieces
      FROM (
        ${(1 to UgMaxWord).map(h => s"SELECT w, f, p, h FROM ugbt${r}_$h").mkString("\n        UNION ALL ")})
      GROUP BY w)"""
  }

  val unigramSegmentSql: String = ScaleQueries.materializeCtes(s"""
    WITH $ugSegCtes
    SELECT w, f, n_pieces, pieces
    FROM ugseg
    ORDER BY f DESC, w LIMIT 20""")

  val unigramEncodeSql: String = ScaleQueries.materializeCtes(s"""
    WITH $ugSegCtes,
    ugdw AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents)
    SELECT d.doc_id, count(*) AS n_words,
      CAST(sum(s.n_pieces) AS BIGINT) AS n_subtokens,
      round(CAST(sum(s.n_pieces) AS DOUBLE) / count(*), 6) AS fertility
    FROM ugdw d JOIN ugseg s USING (w)
    WHERE d.w != ''
    GROUP BY d.doc_id
    ORDER BY d.doc_id""")

  /** `tokenizer_compare` — the tokenizer-selection artifact: per
    * source, mean fertility (subtokens per word) under the trained
    * BPE and the trained unigram-LM side by side, plus their ratio —
    * the one table a pipeline reads before committing a vocabulary
    * (fertility is the context-window tax; a 10% fertility gap is 10%
    * of every training and serving budget). Both models ride along as
    * vocab-sized broadcast frames over ONE shared (source, word)
    * corpus pass; the oracle nests both full training replays (the
    * BPE merge unroll and the unigram EM unroll) in a single
    * materialized WITH.
    */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dw = Tables.read(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
    val bpe = bpeTrainFrom(dw.select("w"))._1
      .select(col("w"), size(split(btrim(col("repr")), "  ")).cast("long").as("n_sub"))
    val wf = unigramWordFreqs(spark, dir)
    val m = graft.operators.UnigramLm.train(wf)
    val ug = wf.keys.toSeq.sorted
      .map(w => (w, graft.operators.UnigramLm.viterbi(w, m.logp).length.toLong))
      .toDF("w", "n_pieces")
    dw.join(broadcast(bpe), "w").join(broadcast(ug), "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("sb"), sum("n_pieces").as("su"))
      .select(col("source"), col("n_words"),
        round(col("sb").cast("double") / col("n_words"), 6).as("bpe_fertility"),
        round(col("su").cast("double") / col("n_words"), 6).as("unigram_fertility"),
        round(col("su").cast("double") / col("sb"), 6).as("fertility_ratio"))
      .orderBy("source")
  }

  /** [[bpeCtePrefix]] without its leading WITH, so it can splice into
    * a combined chain next to the unigram CTEs.
    */
  private def bpeCteBody: String =
    bpeCtePrefix.replaceFirst("""(?s)^\s*WITH\s+""", "")

  val tokenizerCompareSql: String = ScaleQueries.materializeCtes(s"""
    WITH $bpeCteBody,
    $ugSegCtes,
    tcdw AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    bpn AS (
      SELECT w, CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_sub
      FROM v$BpeRounds)
    SELECT d.source, count(*) AS n_words,
      round(CAST(sum(b.n_sub) AS DOUBLE) / count(*), 6) AS bpe_fertility,
      round(CAST(sum(u.n_pieces) AS DOUBLE) / count(*), 6) AS unigram_fertility,
      round(CAST(sum(u.n_pieces) AS DOUBLE) / sum(b.n_sub), 6) AS fertility_ratio
    FROM tcdw d JOIN bpn b USING (w) JOIN ugseg u USING (w)
    WHERE d.w != ''
    GROUP BY d.source
    ORDER BY d.source""")

  // ------------------------------------------------------- outlier MAD

  /** Robust per-source outlier detection on document length: median +
    * MAD (median absolute deviation), flagging |x − med| > 3·MAD — the
    * quality-gate variant that, unlike mean/stddev z-scores, a few
    * giant documents cannot drag. Exact percentiles with linear
    * interpolation on both engines (the `percentiles` query pins that
    * equivalence); halves are exact in binary floating point, so the
    * comparison surface is drift-free.
    *
    * Three narrow aggregations over a two-column projection — the
    * extra passes scan (source, n_chars) only, never the text.
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents").select(col("source"), col("n_chars"))
    val med = d.groupBy("source").agg(expr("percentile(n_chars, 0.5)").as("med"))
    val mad = d.join(med, "source")
      .groupBy(col("source"), col("med"))
      .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
    d.join(mad, "source")
      .groupBy(col("source"), col("med"), col("mad"))
      .agg(sum(when(abs(col("n_chars") - col("med")) > lit(3.0) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("source"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), col("n_outliers"))
      .orderBy("source")
  }

  val outlierMadSql: String = """
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY source),
    mad AS (
      SELECT d.source, any_value(m.med) AS med,
        quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
      FROM documents d JOIN med m ON d.source = m.source
      GROUP BY d.source)
    SELECT d.source, round(any_value(m.med), 6) AS med,
      round(any_value(m.mad), 6) AS mad,
      cast(sum(CASE WHEN abs(d.n_chars - m.med) > 3.0 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM documents d JOIN mad m ON d.source = m.source
    GROUP BY d.source
    ORDER BY d.source"""

  // --------------------------------------------------- sliding windows

  /** Sliding-window event aggregation: 1-hour windows every 15 minutes
    * (each event lands in exactly 4 overlapping windows) — the
    * trailing-hour dashboard shape tumbling windows can't express.
    * Spark's `window(slide)` generates the window copies row-locally
    * before ONE aggregation; the oracle expands the same 4 windows per
    * event arithmetically. Value sums ride the exact-decimal path so
    * neither engine's shuffle order shows in the doubles.
    */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.sumExact(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("w_start", "event_type")

  val eventsSlidingSql: String = """
    WITH e AS (
      SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events),
    w AS (
      SELECT event_type, value,
        make_timestamp((us // 900000000) * 900000000 - k * 900000000) AS w_start
      FROM e, unnest(range(0, 4)) AS u(k))
    SELECT w_start, event_type, count(*) AS n_events,
      cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM w
    GROUP BY w_start, event_type
    ORDER BY w_start, event_type"""

  // ---------------------------------------------------------- data card

  /** Per-source dataset report ("data card"): document and token
    * volume, mean quality, English share, and exact-duplicate count —
    * the at-a-glance table a corpus release ships. Composes the
    * verified quality / language / fingerprint operators in ONE pass
    * over the text (each gate is a row-local projection; the only
    * shuffles are the dedup window keyed by fingerprint and the final
    * per-source aggregation — same discipline as the curation funnel).
    * Mean quality sums decimals (order-free), not doubles.
    */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    val toks = wordTokens(lower(col("text")))
    val w = Window.partitionBy(fingerprint(col("text")))
    Tables.read(spark, dir, "documents")
      .select(col("source"),
        size(wordTokens(col("text"))).cast("long").as("n_tok"),
        qualityScore(col("text")).as("q"),
        (langPredict(langScores(toks)) === "en").as("is_en"),
        (col("doc_id") === min("doc_id").over(w)).as("is_first"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        round(sum(col("q").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_quality"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_english"),
        sum(when(col("is_first"), 0L).otherwise(1L)).as("n_dups"))
      .orderBy("source")
  }

  val dataCardSql: String = s"""
    WITH q AS (${TextQueries.qualityScoreSql}),
    l AS (${TextQueries.langIdSql}),
    f AS (
      SELECT doc_id, source,
        cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
        (doc_id = min(doc_id) OVER (PARTITION BY
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))) AS is_first
      FROM documents)
    SELECT f.source, count(*) AS n_docs,
      cast(sum(f.n_tok) AS BIGINT) AS n_tokens,
      round(cast(sum(cast(q.quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        AS mean_quality,
      cast(sum(CASE WHEN l.predicted_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_english,
      cast(sum(CASE WHEN f.is_first THEN 0 ELSE 1 END) AS BIGINT) AS n_dups
    FROM f
    JOIN q ON f.doc_id = q.doc_id
    JOIN l ON f.doc_id = l.doc_id
    GROUP BY f.source
    ORDER BY source"""

  // ---------------------------------------------------- consensus dedup

  /** Evidence edges from the three ORACLE-PORTABLE near-dup families,
    * tagged with their modality and normalized to undirected (a < b)
    * pairs — the input a real curation pipeline accumulates after
    * maintaining several near-dup detectors over the same corpus:
    *   - `jaccard`:     the PPJoin prefix-filtered set-similarity join
    *     (word-3-gram J ≥ 0.5, [[prefixPairsFromGrams]]);
    *   - `containment`: the directional 80 % gram-containment join
    *     ([[containmentPairsFromGrams]]), collapsed to undirected;
    *   - `edit`:        blocked Levenshtein ≤ 3 on the canonical form
    *     (`TextQueries.editPairs`).
    * The hash-seeded families (MinHash/SimHash) plug into the SAME
    * union — ConsensusDedupSpec exercises a planted corpus with their
    * edges included — but the REGISTERED query sticks to the portable
    * three so the whole resolution stays hash-checkable end to end
    * (xxhash64 signatures are Spark-specific; the same reason
    * `dedup_minhash` is rows-only by design).
    *
    * Scale shape: ONE gram materialization feeds both set-overlap
    * families; each family keeps its own quadratic guard (PPJoin
    * prefix + positional filter, df-cap, block cap); the union is
    * columnar concat, no shuffle of its own.
    */
  private[graft] def consensusEdges(d: DataFrame): DataFrame = {
    // grams NOT spread across cores (measured round 18, ProfileQ warm
    // single-run: consensus 3.9 -> 6.1 s, keep_best 3.2 -> 5.6 s with
    // spreadToCores(d) before the gram build): even though the
    // composite runs six downstream aggregations over this frame whose
    // map sides are single-task at 1 partition, fanning the frame makes
    // every one of those stages pay 32-task scheduling + exchange
    // overhead that exceeds the serial map work — the Dedup.scala
    // rejection (cheap xxhash gram pipelines don't amortize a spread)
    // holds for the composite too.
    val grams = Materialize(Dedup.explodedNgrams(d, "doc_id", "text", n = 3))
    // the two set-overlap families' construction each blocks on an
    // internal prefix-frame checkpoint (PPJoin prefix / containment
    // rare set) — independent given the materialized gram frame, so
    // they overlap on two driver threads (guide §2.6). The edit family
    // stays lazy: it has no blocking step, and its stages already run
    // concurrently inside the union consumer's one job.
    val (jac, con) = graft.operators.Materialize.par2(
      prefixPairsFromGrams(grams)
        .select(col("a_id"), col("b_id"), lit("jaccard").as("modality")),
      containmentPairsFromGrams(grams)
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"),
          lit("containment").as("modality"))
        .distinct()) // both containment directions collapse to one edge
    val edit = TextQueries.editPairs(d)
      .select(col("a_id"), col("b_id"), lit("edit").as("modality"))
    jac.union(con).union(edit)
  }

  /** Consensus dedup over any (doc_id, text) frame: union the evidence
    * edges, aggregate per-edge provenance (how many detectors agree,
    * and which), resolve ONE set of connected components over the
    * union graph, and emit each evidence edge with its provenance and
    * final component id — the artifact that lets a curation pipeline
    * collapse once across all detectors (and audit WHY any two
    * documents were merged). Components via the verified
    * [[graft.operators.DupClusters]] min-label machinery; the oracle
    * recomputes them with a recursive CTE over the SAME union of the
    * three families' SQL mirrors.
    */
  private[graft] def dedupConsensusOn(d: DataFrame): DataFrame = {
    // prov feeds both the component solve and the final provenance
    // join; materialized, the three evidence families (each its own
    // banded/capped pipeline over the corpus) run once, not per consumer
    val prov = Materialize(consensusEdges(d)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("long").as("n_modalities"),
        array_join(array_sort(collect_set(col("modality"))), ",").as("modalities")))
    val comp = graft.operators.DupClusters.connectedComponents(
      d.select(col("doc_id").as("id")),
      prov.select(col("a_id").as("src"), col("b_id").as("dst")),
      smallGraphMaxEdges = 2_000_000L, // same opt-in bound as dup_clusters
      edgesStable = true) // prov is Materialized above — skip the copy
    prov.join(comp.select(col("id").as("a_id"), col("cluster_id")), "a_id")
      .select(col("a_id"), col("b_id"), col("n_modalities"),
        col("modalities"), col("cluster_id"))
      .orderBy("a_id", "b_id")
  }

  def dedupConsensus(spark: SparkSession, dir: String): DataFrame =
    dedupConsensusOn(Tables.read(spark, dir, "documents"))

  val dedupConsensusSql: String = s"""
    WITH RECURSIVE edges AS (
      SELECT a_id, b_id, 'jaccard' AS modality FROM ($dedupPrefixSql)
      UNION
      SELECT least(a_id, b_id), greatest(a_id, b_id), 'containment'
      FROM ($dedupContainmentSql)
      UNION
      SELECT a_id, b_id, 'edit' FROM (${TextQueries.dedupEditSql})),
    prov AS (
      SELECT a_id, b_id, cast(count(*) AS BIGINT) AS n_modalities,
        string_agg(modality, ',' ORDER BY modality) AS modalities
      FROM edges GROUP BY 1, 2),
    und AS (
      SELECT a_id AS src, b_id AS dst FROM prov
      UNION ALL SELECT b_id, a_id FROM prov),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, u.dst FROM r JOIN und u ON u.src = r.m),
    comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM r GROUP BY n)
    SELECT p.a_id, p.b_id, p.n_modalities, p.modalities, c.cluster_id
    FROM prov p JOIN comp c ON p.a_id = c.doc_id
    ORDER BY p.a_id, p.b_id"""

  /** `dedup_consensus_keep_best` — the curation end of the consensus
    * pipeline: every document mapped to its consensus component (the
    * union of the jaccard/containment/edit evidence families, same
    * edges as [[dedupConsensus]]) with ONE quality-chosen survivor per
    * component. One row per document: its component, the component's
    * keeper, and whether the row survives — the frame a pruning pass
    * anti-joins the corpus against, and the audit trail for why a
    * document was dropped (its keeper displaced it).
    *
    * Keeper choice is (quality DESC, doc_id ASC) — a total order
    * (quality is round-6 on both engines, ties broken by id), so the
    * keeper is deterministic. The per-component window partitions by
    * cluster_id: component-sized partitions, never corpus-sized (the
    * giant-component risk is the same one `dup_clusters` documents —
    * bounded here by the same capped evidence families).
    */
  private[graft] def dedupConsensusKeepBestOn(d: DataFrame): DataFrame = {
    // no distinct(): min-label propagation and driver union-find are
    // both idempotent to duplicate edges (the connectedComponents edge
    // contract documents this), so deduping the ≤3-modality union here
    // only paid an extra exchange — the components are identical
    // (oracle-checked). Local bench wash (3.40 -> 3.36 s); the point is
    // scale, where the dropped shuffle is O(evidence edges)
    val edges = consensusEdges(d).select("a_id", "b_id")
    val comp = graft.operators.DupClusters.connectedComponents(
      d.select(col("doc_id").as("id")),
      edges.select(col("a_id").as("src"), col("b_id").as("dst")),
      smallGraphMaxEdges = 2_000_000L)
    val scored = comp.select(col("id").as("doc_id"), col("cluster_id"))
      .join(d.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality")), "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored.withColumn("keep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }

  def dedupConsensusKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupConsensusKeepBestOn(Tables.read(spark, dir, "documents"))

  val dedupConsensusKeepBestSql: String = s"""
    WITH RECURSIVE edges AS (
      SELECT a_id, b_id FROM ($dedupPrefixSql)
      UNION
      SELECT least(a_id, b_id), greatest(a_id, b_id)
      FROM ($dedupContainmentSql)
      UNION
      SELECT a_id, b_id FROM (${TextQueries.dedupEditSql})),
    und AS (
      SELECT a_id AS src, b_id AS dst FROM edges
      UNION ALL SELECT b_id, a_id FROM edges),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, u.dst FROM r JOIN und u ON u.src = r.m),
    comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM r GROUP BY n),
    q AS (${TextQueries.qualityScoreSql}),
    j AS (
      SELECT c.doc_id, c.cluster_id, q.quality
      FROM comp c JOIN q ON c.doc_id = q.doc_id)
    SELECT doc_id, cluster_id, quality,
      first_value(doc_id) OVER (PARTITION BY cluster_id
        ORDER BY quality DESC, doc_id ASC) AS keep_id,
      doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
        ORDER BY quality DESC, doc_id ASC) AS kept
    FROM j
    ORDER BY doc_id"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_consensus" -> (dedupConsensus _),
    "dedup_consensus_keep_best" -> (dedupConsensusKeepBest _),
    "dup_spans"      -> (dupSpans _),
    "dedup_prefix"   -> (dedupPrefix _),
    "dedup_contain"  -> (dedupContainment _),
    "source_minhash" -> (sourceMinhashSim _),
    "pagerank"       -> (pagerank _),
    "bpe_pairs"      -> (bpePairs _),
    "bpe_merges"     -> (bpeMerges _),
    "bpe_encode"     -> (bpeEncode _),
    "bpe_segment"    -> (bpeSegment _),
    "unigram_train"   -> (unigramTrain _),
    "unigram_segment" -> (unigramSegment _),
    "unigram_encode"  -> (unigramEncode _),
    "tokenizer_compare" -> (tokenizerCompare _),
    "outlier_mad"    -> (outlierMad _),
    "events_sliding" -> (eventsSliding _),
    "data_card"      -> (dataCard _))

  val oracle: Map[String, String] = Map(
    "dedup_consensus" -> dedupConsensusSql,
    "dedup_consensus_keep_best" -> dedupConsensusKeepBestSql,
    "dup_spans"      -> dupSpansSql,
    "dedup_prefix"   -> dedupPrefixSql,
    "dedup_contain"  -> dedupContainmentSql,
    "source_minhash" -> sourceMinhashSimSql,
    "pagerank"       -> pagerankSql,
    "bpe_pairs"      -> bpePairsSql,
    "bpe_merges"     -> bpeMergesSql,
    "bpe_encode"     -> bpeEncodeSql,
    "bpe_segment"    -> bpeSegmentSql,
    "unigram_train"   -> unigramTrainSql,
    "unigram_segment" -> unigramSegmentSql,
    "unigram_encode"  -> unigramEncodeSql,
    "tokenizer_compare" -> tokenizerCompareSql,
    "outlier_mad"    -> outlierMadSql,
    "events_sliding" -> eventsSlidingSql,
    "data_card"      -> dataCardSql)
}
