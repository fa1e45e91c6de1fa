package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Relational, TextAnalysis}
import graft.sources.Tables

/** Retrieval-stack operators over the documents corpus: BM25 keyword
  * scoring, reciprocal-rank fusion of two candidate lists, unigram-LM
  * cross-entropy quality scoring, DSIR-style importance weights against
  * a target sub-corpus, and PMI collocation mining.
  *
  * These are the "find and weigh training data" half of a corpus
  * pipeline — the retrieval/scoring counterpart of the dedup operators
  * in [[graft.operators.Dedup]].
  *
  * Cross-engine determinism discipline (same as the rest of the
  * engine): every score that reaches the oracle hash is either computed
  * from exact integers with a single final division (PMI), or pivoted
  * into a FIXED-ORDER sum of identically-shaped IEEE expressions (BM25:
  * s_q1 + s_q2 + s_q3 in that literal order on both engines), or — when
  * an unordered SUM over many doubles is inherent to the semantics
  * (per-doc log-prob sums) — rounded to 4 decimals so the ±1e-12
  * accumulation-order jitter cannot reach the compared value.
  */
object RetrievalQueries extends QueryModule {

  private def toks(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(TextAnalysis.wordTokens(lower(col("text")))).as("term"))

  /** The fixed keyword query scored by `bm25_score` (and list A of
    * `rrf_fusion`). A literal — the operator is parameterized in
    * [[bm25]]; the registry entry pins one instance for the oracle.
    */
  val QueryTerms: Seq[String] = Seq("vector", "join", "stream")
  val K1 = 1.2
  val B  = 0.75

  /** BM25 over the corpus for a k-term keyword query.
    *
    * Shape, built for 100 TB: token stats aggregate map-side first
    * (doc-length frame is a groupBy on doc_id — co-partitioned with
    * every later per-doc join); the df/N/avgdl side frames are
    * vocabulary-sized or single-row and BROADCAST; the final ranking is
    * an `ORDER BY ... LIMIT k` (TakeOrderedAndProject — per-partition
    * top-k then a k-row driver merge, never a global sort).
    *
    * Per-term partial scores pivot into fixed columns via conditional
    * aggregation, then sum LEFT-TO-RIGHT in query-term order, so both
    * engines evaluate the identical IEEE expression tree.
    */
  def bm25(d: DataFrame, query: Seq[String], topK: Int): DataFrame = {
    val t = toks(d)
    val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("t_tokens"))
    val tf = t.filter(col("term").isin(query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val s = idf * (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) +
        lit(B) * (col("dl") * col("n_docs")).cast("double") / col("t_tokens")))
    val perTerm = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), s.as("s"))
    val aggCols =
      query.map(q => coalesce(max(when(col("term") === q, col("s"))), lit(0.0))
        .as(s"s_$q")) ++
      query.map(q => coalesce(max(when(col("term") === q, col("tf"))), lit(0L))
        .as(s"tf_$q"))
    val pivoted = perTerm.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
    val total = query.map(q => col(s"s_$q")).reduceLeft(_ + _)
    // Select on the ROUNDED score (doc_id tiebreak): ln is
    // transcendental, so engines can differ by an ulp, and the
    // unrounded LIMIT boundary would let that ulp swap the k-th doc.
    pivoted.select(
      (col("doc_id") +: total.as("raw") +: query.map(q => col(s"tf_$q"))): _*)
      .orderBy(round(col("raw"), 6).desc, col("doc_id"))
      .limit(topK)
  }

  def bm25Score(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.read(spark, dir, "documents"), QueryTerms, topK = 50)
      .select((col("doc_id") +: round(col("raw"), 6).as("bm25") +:
        QueryTerms.map(q => col(s"tf_$q"))): _*)
      .orderBy("doc_id")

  val bm25ScoreSql: String = s"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS t_tokens FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM t
      WHERE term IN ('vector', 'join', 'stream') GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    per AS (
      SELECT tf.doc_id, tf.term, tf.tf,
        ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
          * (tf.tf * ${K1 + 1.0}) /
          (tf.tf + $K1 * (${1.0 - B} +
            $B * CAST(dl.dl * s.n_docs AS DOUBLE) / s.t_tokens)) AS s
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
    piv AS (
      SELECT doc_id,
        coalesce(max(CASE WHEN term = 'vector' THEN s END), 0.0) AS s_vector,
        coalesce(max(CASE WHEN term = 'join'   THEN s END), 0.0) AS s_join,
        coalesce(max(CASE WHEN term = 'stream' THEN s END), 0.0) AS s_stream,
        coalesce(max(CASE WHEN term = 'vector' THEN tf END), 0) AS tf_vector,
        coalesce(max(CASE WHEN term = 'join'   THEN tf END), 0) AS tf_join,
        coalesce(max(CASE WHEN term = 'stream' THEN tf END), 0) AS tf_stream
      FROM per GROUP BY doc_id),
    top AS (
      SELECT doc_id, s_vector + s_join + s_stream AS raw,
        tf_vector, tf_join, tf_stream
      FROM piv ORDER BY round(raw, 6) DESC, doc_id LIMIT 50)
    SELECT doc_id, round(raw, 6) AS bm25,
      cast(tf_vector AS BIGINT) AS tf_vector,
      cast(tf_join   AS BIGINT) AS tf_join,
      cast(tf_stream AS BIGINT) AS tf_stream
    FROM top ORDER BY doc_id"""

  /** Candidate-list depth for each ranker feeding the fusion. */
  val RrfDepth = 200
  val RrfK = 60

  /** Reciprocal-rank fusion of two top-[[RrfDepth]] candidate lists:
    * a length-prior ranking of documents and an embedding-cosine
    * ranking against a fixed query vector (vec 0), joined doc_id =
    * vec_id. rrf = Σ_lists 1/(60 + rank), absent from a list → 0 —
    * the standard candidate-list RRF (full-corpus ranks are never
    * materialized; the rank≤depth filter pushes down as
    * WindowGroupLimit, so each partition contributes at most `depth`
    * pre-sorted rows to the single merge, exactly like a top-k).
    *
    * Determinism: ranks are integers; each 1/(60+r) is one IEEE
    * division and the two-term sum is written in the same order on
    * both engines — bit-identical, no rounding slack needed (the
    * rounding below is display-width only).
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val listA = d
      .withColumn("ra", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .filter(col("ra") <= RrfDepth)
      .select(col("doc_id"), col("ra"))
    import graft.functions.VectorKernels.dotProduct
    val e = Tables.read(spark, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val cos = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (dotProduct(col("v"), col("qv")) /
          (sqrt(dotProduct(col("v"), col("v"))) *
           sqrt(dotProduct(col("qv"), col("qv"))))).as("cos"))
    val listB = cos
      .withColumn("rb", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rb") <= RrfDepth)
      .select(col("vec_id").as("doc_id"), col("rb"))
    listA.join(listB, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("ra"), col("rb"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0))).as("raw"))
      .orderBy(col("raw").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("ra"), col("rb"), round(col("raw"), 6).as("rrf"))
      .orderBy("doc_id")
  }

  val rrfFusionSql: String = s"""
    WITH a AS (
      SELECT doc_id, cast(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS ra
      FROM documents QUALIFY ra <= $RrfDepth),
    e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cos AS (
      SELECT vec_id,
        list_inner_product(v, qv) /
          (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))) AS cos
      FROM e CROSS JOIN qv WHERE vec_id != 0),
    b AS (
      SELECT vec_id AS doc_id,
        cast(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rb
      FROM cos QUALIFY rb <= $RrfDepth),
    fused AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, ra, rb,
        coalesce(1.0 / ($RrfK + ra), 0.0) + coalesce(1.0 / ($RrfK + rb), 0.0) AS raw
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
    top AS (SELECT * FROM fused ORDER BY raw DESC, doc_id LIMIT 50)
    SELECT doc_id, ra, rb, round(raw, 6) AS rrf FROM top ORDER BY doc_id"""

  /** Per-document unigram-LM cross-entropy (avg negative log-prob per
    * token): the classic cheap LM-quality filter. The LM is the corpus
    * itself (token → corpus count, a vocabulary-sized broadcast), so
    * nll(doc) = ln(T) − (Σ_t ln n_t)/L — the Σ/L term is the only
    * unordered double sum and is rounded to 4 decimals.
    *
    * Map-only over the exploded corpus after two vocabulary-sized
    * aggregations; no per-doc data ever crosses a shuffle wider than
    * the (doc_id) aggregation itself.
    */
  def docLogprob(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(Tables.read(spark, dir, "documents"))
    val cnt = t.groupBy("term").agg(count(lit(1)).as("n"))
    val total = cnt.agg(sum("n").as("t_tokens"))
    t.join(broadcast(cnt), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(log(col("n"))).as("s"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("t_tokens")) - col("s") / col("n_tokens"), 4).as("nll"))
      .orderBy("doc_id")
  }

  val docLogprobSql: String = """
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    cnt AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
    total AS (SELECT sum(n) AS t_tokens FROM cnt)
    SELECT doc_id, count(*) AS n_tokens,
      round(ln(t_tokens) - sum(ln(n)) / count(*), 4) AS nll
    FROM t JOIN cnt USING (term) CROSS JOIN total
    GROUP BY doc_id, t_tokens
    ORDER BY doc_id"""

  /** Bigram-LM document score: average per-transition negative log
    * conditional probability −(1/m)·Σ ln(c(a,b)/c(a)) under the
    * corpus's own bigram counts — the sharper cousin of the unigram
    * [[docLogprob]] (a doc of common words in UNCOMMON order now scores
    * high). MLE without smoothing is total here because every scored
    * bigram exists in the corpus counts by construction (the corpus is
    * its own LM). The bigram stream expands ROW-LOCALLY (transform over
    * the token array, no positional self-join); the unigram frame is a
    * vocab-sized broadcast; only the per-doc Σ of ln terms is
    * accumulation-ordered, hence the 4-decimal round (the docLogprob
    * contract). Docs with < 2 tokens have no transitions and are
    * absent, matching the oracle.
    */
  /** Salt fan-out for the bigram-count joins in [[docLogprob2]] /
    * [[docLogprobInterp]]: a Zipf-hot bigram spreads over `LmSalt`
    * reducers instead of one (the [[graft.queries.CorpusQueries.PrSalt]]
    * convention — physical distribution only, results salt-invariant).
    */
  val LmSalt = 8

  def docLogprob2(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = d.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
      .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = toks(Tables.read(spark, dir, "documents")).groupBy("term").agg(count(lit(1)).as("c_a"))
    // hub-proof bigram join: a boilerplate bigram ("of the" at corpus
    // scale) would otherwise land its whole token stream on one SMJ
    // reducer, and AQE's skew split can't fire here (QuerySkewSpec)
    Relational.saltedDimJoin(bi, cab, Seq("a", "b"), col("doc_id"), LmSalt)
      .join(broadcast(ca.select(col("term").as("a"), col("c_a"))), Seq("a"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log(col("c_a")) - log(col("c_ab"))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s") / col("n_bigrams"), 4).as("nll2"))
      .orderBy("doc_id")
  }

  val docLogprob2Sql: String = """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    bi AS (
      SELECT doc_id, t[i] AS a, t[i + 1] AS b
      FROM d, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
    toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS a
      FROM documents),
    ca AS (SELECT a, count(*) AS c_a FROM toks GROUP BY 1)
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
      round(sum(ln(c_a) - ln(c_ab)) / count(*), 4) AS nll2
    FROM bi JOIN cab USING (a, b) JOIN ca USING (a)
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Jelinek-Mercer interpolated LM score: −(1/m)·Σ ln(0.7·p₂ + 0.3·p₁)
    * with p₂ = c(a,b)/c(a) and p₁ = c(b)/N — the smoothing that keeps
    * [[docLogprob2]]'s sharpness while backing off to unigram mass on
    * rare transitions (the standard fix for MLE brittleness when the
    * scoring corpus stops being the counting corpus). The mixture
    * collapses to ONE exact rational per transition:
    * (7·c_ab·N + 3·c_a·c_b) / (10·c_a·N), products in
    * DECIMAL(38,0)/HUGEINT (token-total² crosses 2⁶³ at corpus scale),
    * one ln each, per-doc Σ rounded to 4 (the doc_logprob contract).
    * Same frames as docLogprob2 plus the unigram pair (vocab-sized
    * broadcasts).
    */
  def docLogprobInterp(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val d = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = d.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
      .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val uni = toks(Tables.read(spark, dir, "documents")).groupBy("term").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n"))
    val lnMix = log(
      (dec(lit(7)) * dec(col("c_ab")) * dec(col("n"))
        + dec(lit(3)) * dec(col("c_a")) * dec(col("c_b"))).cast("double")
      / (dec(lit(10)) * dec(col("c_a")) * dec(col("n"))).cast("double"))
    Relational.saltedDimJoin(bi, cab, Seq("a", "b"), col("doc_id"), LmSalt)
      .join(broadcast(uni.select(col("term").as("a"), col("c").as("c_a"))), Seq("a"))
      .join(broadcast(uni.select(col("term").as("b"), col("c").as("c_b"))), Seq("b"))
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(lnMix).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 4).as("nll_jm"))
      .orderBy("doc_id")
  }

  val docLogprobInterpSql: String = """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    bi AS (
      SELECT doc_id, t[i] AS a, t[i + 1] AS b
      FROM d, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
    toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    uni AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
    n AS (SELECT cast(sum(c) AS BIGINT) AS n FROM uni)
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
      round(-sum(ln(
        cast(cast(7 AS HUGEINT) * c_ab * n.n
           + cast(3 AS HUGEINT) * ca.c * cb.c AS DOUBLE)
        / cast(cast(10 AS HUGEINT) * ca.c * n.n AS DOUBLE)))
        / count(*), 4) AS nll_jm
    FROM bi
    JOIN cab USING (a, b)
    JOIN uni ca ON bi.a = ca.term
    JOIN uni cb ON bi.b = cb.term
    CROSS JOIN n
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** DSIR-style importance weight per document: average per-token
    * log-likelihood ratio between a target sub-corpus LM (lang = 'en')
    * and the full-corpus LM, add-one smoothed over the shared
    * vocabulary. Selecting the top-weighted documents tilts a mixture
    * toward the target distribution — the published importance-
    * resampling recipe for targeted pre-training data.
    *
    * Every per-term ratio is exact-integer cross-multiplied with ONE
    * division; only the per-doc Σ is accumulation-ordered, hence the
    * 4-decimal round. Both LM frames are vocabulary-sized broadcasts.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val t = toks(d)
    val all = t.groupBy("term").agg(count(lit(1)).as("na"))
    val allStats = all.agg(sum("na").as("ta"), count(lit(1)).as("v"))
    val en = toks(d.filter(col("lang") === "en"))
      .groupBy("term").agg(count(lit(1)).as("ne"))
    val enTotal = en.agg(sum("ne").as("te"))
    // likelihood-ratio factors in DECIMAL(38,0) (HUGEINT in the
    // oracle): (ne+1)·(ta+v) multiplies two token totals and crosses
    // 2⁶³ on a ~10¹³-token corpus — a long product would THROW under
    // Spark 4's default ANSI mode at cluster scale
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val lm = all.join(broadcast(en), Seq("term"), "left")
      .crossJoin(broadcast(allStats)).crossJoin(broadcast(enTotal))
      .select(col("term"), log(
        (dec(coalesce(col("ne"), lit(0L)) + lit(1L)) * dec(col("ta") + col("v"))).cast("double") /
        (dec(col("na") + lit(1L)) * dec(col("te") + col("v"))).cast("double")).as("r"))
    t.join(broadcast(lm), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("s"))
      .join(d.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // + 0.0 canonicalizes IEEE −0.0 (a rounded tiny negative) to +0.0
        (round(col("s") / col("n_tokens"), 4) + lit(0.0)).as("llr"))
      .orderBy("doc_id")
  }

  val dsirWeightsSql: String = """
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    all_lm AS (SELECT term, count(*) AS na FROM t GROUP BY 1),
    all_stats AS (SELECT sum(na) AS ta, count(*) AS v FROM all_lm),
    en_t AS (
      SELECT d.doc_id, unnest(string_split_regex(trim(lower(d.text)), '\s+')) AS term
      FROM documents d WHERE d.lang = 'en'),
    en_lm AS (SELECT term, count(*) AS ne FROM en_t GROUP BY 1),
    en_total AS (SELECT sum(ne) AS te FROM en_lm),
    lm AS (
      SELECT a.term,
        ln(CAST(cast(coalesce(e.ne, 0) + 1 AS HUGEINT) * (s.ta + s.v) AS DOUBLE) /
           CAST(cast(a.na + 1 AS HUGEINT) * (t.te + s.v) AS DOUBLE)) AS r
      FROM all_lm a LEFT JOIN en_lm e USING (term)
      CROSS JOIN all_stats s CROSS JOIN en_total t)
    SELECT t.doc_id, d.lang, count(*) AS n_tokens,
      round(sum(lm.r) / count(*), 4) + 0.0 AS llr
    FROM t JOIN lm USING (term) JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY t.doc_id, d.lang
    ORDER BY t.doc_id"""

  /** Collocation floor and report size for PMI mining. */
  val PmiMinCount = 5
  val PmiTopK = 30

  /** Top adjacent-bigram collocations by pointwise mutual information:
    * pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with unigram probs from token
    * counts and p(ab) over the bigram total. The RANKING key is the
    * exact-integer ratio c_ab·Tu² / (Tb·c_a·c_b) evaluated as one
    * division of two exactly-computed DECIMAL(38,0) products (HUGEINT
    * on the oracle) — ln() is applied only to the already-agreed
    * double for display.
    *
    * Bigram extraction is a row-local array transform (no self-join on
    * position); all count frames are vocabulary-sized.
    */
  /** Window half-width and report size for [[skipgramPairs]]. */
  val SkipWindow = 2
  val SkipTopK = 30

  /** Skip-gram co-occurrence counts: (center, context) pairs within
    * ±[[SkipWindow]] tokens — the word2vec / GloVe training-pair
    * extraction, where [[pmiBigrams]] sees only ADJACENT pairs.
    * Pairs expand ROW-LOCALLY (one struct per (i, offset) from the
    * token array — no positional self-join, fan-out a fixed 2·W per
    * token), then one keyed count; the report is the top-30 by
    * (count desc, pair) — exact integers end to end, top-k via
    * TakeOrderedAndProject.
    */
  def skipgramPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(TextAnalysis.wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
    // offsets 1..W on the ordered side only: (t[i], t[i+o]) covers every
    // unordered co-occurrence once in each direction the model trains on.
    // Shape: one arrays_zip of two slices per offset, unioned — slice and
    // zip are codegen'd, where the flatten(transform(filter(...))) HOF
    // nest runs INTERPRETED per token (the NgramDistinct rationale);
    // A/B'd at sf0.1: 0.82 → 0.70 s
    def shifted(o: Int): DataFrame = d
      .filter(size(col("t")) > o)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - o),
        slice(col("t"), lit(o + 1), size(col("t")) - o))).as("p"))
      .select(col("p.0").as("a"), col("p.1").as("b"))
    val pairs = (1 to SkipWindow).map(shifted).reduce(_.union(_))
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(SkipTopK)
      .orderBy("a", "b")
      .select(col("a"), col("b"), col("n"))
  }

  val skipgramPairsSql: String = s"""
    WITH d AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    p AS (
      SELECT t[i] AS a, t[i + o] AS b
      FROM d, unnest(range(1, len(t))) AS u(i),
           unnest(range(1, $SkipWindow + 1)) AS v(o)
      WHERE len(t) >= 2 AND i + o <= len(t)),
    c AS (SELECT a, b, count(*) AS n FROM p GROUP BY 1, 2
          ORDER BY n DESC, a, b LIMIT $SkipTopK)
    SELECT a, b, n FROM c ORDER BY a, b"""

  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(TextAnalysis.wordTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = d.select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
      .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val uni = toks(Tables.read(spark, dir, "documents")).groupBy("term").agg(count(lit(1)).as("c"))
    val tu = uni.agg(sum("c").as("tu"))
    val tb = cab.agg(sum("c_ab").as("tb"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    cab.filter(col("c_ab") >= PmiMinCount)
      .join(broadcast(uni.select(col("term").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uni.select(col("term").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .select(col("a"), col("b"), col("c_ab"),
        ((dec(col("c_ab")) * dec(col("tu")) * dec(col("tu"))).cast("double") /
         (dec(col("tb")) * dec(col("c_a")) * dec(col("c_b"))).cast("double")).as("ratio"))
      .orderBy(col("ratio").desc, col("a"), col("b"))
      .limit(PmiTopK)
      .select(col("a"), col("b"), col("c_ab"), round(log(col("ratio")), 6).as("pmi"))
      .orderBy("a", "b")
  }

  val pmiBigramsSql: String = s"""
    WITH d AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    bi AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM d, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
    toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    uni AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
    tu AS (SELECT sum(c) AS tu FROM uni),
    tb AS (SELECT sum(c_ab) AS tb FROM cab),
    scored AS (
      SELECT cab.a, cab.b, cab.c_ab,
        CAST(cast(cab.c_ab AS HUGEINT) * tu.tu * tu.tu AS DOUBLE) /
        CAST(cast(tb.tb AS HUGEINT) * ua.c * ub.c AS DOUBLE) AS ratio
      FROM cab
      JOIN uni ua ON ua.term = cab.a
      JOIN uni ub ON ub.term = cab.b
      CROSS JOIN tu CROSS JOIN tb
      WHERE cab.c_ab >= $PmiMinCount),
    top AS (
      SELECT * FROM scored ORDER BY ratio DESC, a, b LIMIT $PmiTopK)
    SELECT a, b, c_ab, round(ln(ratio), 6) AS pmi FROM top ORDER BY a, b"""

  // ----------------------------------------------------------- registry

  /** CCNet-style quality bucketing (`ccnet_buckets`, Wenzek et al.
    * 2020): within each source, rank documents by the unigram-LM
    * negative log-likelihood ([[docLogprob]]'s score — CCNet uses an
    * external LM's perplexity; the corpus-trained unigram NLL is the
    * engine's self-contained stand-in, same monotonic role) and cut
    * into head / middle / tail terciles with NTILE(3) over the total
    * order (nll, doc_id) — the canonical keep-the-head selection rule.
    *
    * Scale shape: the NLL is the one vocab-broadcast join + per-doc
    * aggregate docLogprob already pays; the tercile is a per-source
    * window over the SMALL per-doc score frame (one shuffle on source).
    * At 100 TB the per-source NTILE becomes a two-pass approx-quantile
    * cut (the committed pattern for `quantile_norm`); the tercile
    * DEFINITION here is the exact one both engines agree on.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // source rides the token frame (functionally dependent on doc_id,
    // so it joins the per-doc groupBy key for free) — ONE documents
    // scan, no second fetch-source pass + join
    val t = Tables.read(spark, dir, "documents").select(col("doc_id"), col("source"),
      explode(TextAnalysis.wordTokens(lower(col("text")))).as("term"))
    val cnt = t.groupBy("term").agg(count(lit(1)).as("n"))
    val total = cnt.agg(sum("n").as("t_tokens"))
    val nll = t.join(broadcast(cnt), "term")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"), sum(log(col("n"))).as("s"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(log(col("t_tokens")) - col("s") / col("n_tokens"), 4).as("nll"))
    val rk = ntile(3).over(
      Window.partitionBy("source").orderBy(col("nll"), col("doc_id")))
    nll.withColumn("__b", rk)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("nll"),
        when(col("__b") === 1, "head").when(col("__b") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  val ccnetBucketsSql: String = """
    WITH t AS (
      SELECT doc_id, source,
        unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    cnt AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
    total AS (SELECT sum(n) AS t_tokens FROM cnt),
    nll AS (
      SELECT doc_id, source, count(*) AS n_tokens,
        round(ln(t_tokens) - sum(ln(n)) / count(*), 4) AS nll
      FROM t JOIN cnt USING (term) CROSS JOIN total
      GROUP BY doc_id, source, t_tokens),
    ranked AS (
      SELECT doc_id, source, n_tokens, nll,
        ntile(3) OVER (PARTITION BY source
          ORDER BY nll, doc_id) AS b
      FROM nll)
    SELECT doc_id, source, n_tokens, nll,
      CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM ranked
    ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_score"   -> (bm25Score _),
    "rrf_fusion"   -> (rrfFusion _),
    "doc_logprob"  -> (docLogprob _),
    "ccnet_buckets" -> (ccnetBuckets _),
    "doc_logprob2" -> (docLogprob2 _),
    "doc_logprob_jm" -> (docLogprobInterp _),
    "dsir_weights" -> (dsirWeights _),
    "pmi_bigrams"  -> (pmiBigrams _),
    "skipgram_pairs" -> (skipgramPairs _))

  val oracle: Map[String, String] = Map(
    "bm25_score"   -> bm25ScoreSql,
    "rrf_fusion"   -> rrfFusionSql,
    "doc_logprob"  -> docLogprobSql,
    "ccnet_buckets" -> ccnetBucketsSql,
    "doc_logprob2" -> docLogprob2Sql,
    "doc_logprob_jm" -> docLogprobInterpSql,
    "dsir_weights" -> dsirWeightsSql,
    "pmi_bigrams"  -> pmiBigramsSql,
    "skipgram_pairs" -> skipgramPairsSql)
}
