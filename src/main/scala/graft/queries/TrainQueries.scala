package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Training-set construction operators that sit between curation and
  * the trainer: hard-example mining over the embedding space and
  * embedding-health audits. (Curation itself — dedup, mixing, splits,
  * packing — lives in the pipeline/corpus query families.)
  */
object TrainQueries extends QueryModule {

  /** Prepped embedding frame that KEEPS the class label (Similarity.prep
    * drops everything but id/v/nrm).
    */
  private def labelled(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))

  // ------------------------------------------------------ triplet mining

  /** Hard positive + hardest negative per anchor (every 25th vector),
    * margin and a violates flag at 0.1 — the between-epoch offline miner
    * for metric learning. Single corpus scan, single aggregation
    * exchange (see [[Similarity.tripletMine]]).
    */
  def tripletMine(spark: SparkSession, dir: String): DataFrame = {
    val p = labelled(spark, dir)
    val anchors = p.filter(col("id") % 25 === 0)
    Similarity.tripletMine(anchors, p, minMargin = 0.1).orderBy("q_id")
  }

  /** Oracle mirrors the struct-aggregate tie-breaks with window ranks:
    * positives (min struct) order cos ASC, n_id ASC; negatives (max
    * struct) order cos DESC, n_id DESC.
    */
  val tripletMineSql: String = """
    WITH e AS (
      SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(cast(embedding AS DOUBLE[]), cast(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS q_id, q.label AS a_label, c.vec_id AS n_id,
        (c.label = q.label) AS same,
        list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id % 25 = 0 AND c.vec_id != q.vec_id),
    pos AS (
      SELECT q_id, a_label, n_id AS pos_id, cos AS pcos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos ASC, n_id ASC) AS rk
      FROM scored WHERE same),
    neg AS (
      SELECT q_id, n_id AS neg_id, cos AS ncos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id DESC) AS rk
      FROM scored WHERE NOT same)
    SELECT p.q_id, p.a_label, p.pos_id, round(p.pcos, 6) AS pos_cos,
      n.neg_id, round(n.ncos, 6) AS neg_cos,
      round(p.pcos - n.ncos, 6) AS margin,
      cast(p.pcos - n.ncos < 0.1 AS BIGINT) AS violates
    FROM pos p JOIN neg n ON p.q_id = n.q_id
    WHERE p.rk = 1 AND n.rk = 1
    ORDER BY p.q_id"""

  // ---------------------------------------------------- embedding health

  /** Per-label embedding-table QA — the audit a pipeline runs before
    * trusting an embedding column: row counts, dimension consistency
    * (a ragged array breaks every kernel downstream), zero vectors
    * (cosine is undefined), non-finite components, and the norm
    * envelope. One aggregation over one scan; the mean norm sums in
    * exact decimal so it is partition-order independent.
    */
  def embHealth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = labelled(spark, dir)
    val bad = exists(col("v"), x => isnan(x) ||
      x === lit(Float.PositiveInfinity) || x === lit(Float.NegativeInfinity))
    e.select(col("label"), col("nrm"),
        size(col("v")).cast("long").as("d"), bad.cast("long").as("nf"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("d")).as("dim_min"), max(col("d")).as("dim_max"),
        sum((col("nrm") === 0.0).cast("long")).as("n_zero"),
        sum(col("nf")).as("n_nonfinite"),
        round(min(col("nrm")), 6).as("norm_min"),
        round(sum(col("nrm").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)).cast("double"), 6).as("norm_avg"),
        round(max(col("nrm")), 6).as("norm_max"))
      .orderBy("label")
  }

  val embHealthSql: String = """
    WITH n AS (
      SELECT label, len(embedding) AS d,
        sqrt(list_inner_product(cast(embedding AS DOUBLE[]), cast(embedding AS DOUBLE[]))) AS nrm,
        CASE WHEN list_aggregate(list_transform(cast(embedding AS DOUBLE[]),
          x -> isnan(x) OR isinf(x)), 'bool_or') THEN 1 ELSE 0 END AS nf
      FROM embeddings)
    SELECT label, count(*) AS n_vecs,
      cast(min(d) AS BIGINT) AS dim_min, cast(max(d) AS BIGINT) AS dim_max,
      cast(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      cast(sum(nf) AS BIGINT) AS n_nonfinite,
      round(min(nrm), 6) AS norm_min,
      round(cast(sum(cast(nrm AS DECIMAL(28, 12))) AS DOUBLE) / count(*), 6) AS norm_avg,
      round(max(nrm), 6) AS norm_max
    FROM n GROUP BY label ORDER BY label"""

  // ------------------------------------------------------ epoch shuffle

  /** Deterministic per-epoch training order: epoch e ranks docs by
    * md5(e ‖ doc_id) — reproducible on any engine/cluster/run (the same
    * argument as `split_assign`), yet decorrelated BETWEEN epochs,
    * which is what shuffling is for. The audit quantifies that:
    * Spearman ρ between every epoch pair's rank vectors, from the
    * exact-integer Σd² identity (d up to n so Σd² ~ n³ — DECIMAL(38,0)
    * lane, ANSI-safe at billion-doc scale). Healthy shuffles sit at
    * |ρ| = O(1/√n) ≈ 0.
    *
    * The per-epoch row_number is the order DEFINITION; at cluster
    * scale you materialize it with a range partitioner on the md5 key
    * (the guarded-global-window note on W1 applies).
    */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ranked = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2))).as("epoch"))
      .withColumn("rk", row_number().over(Window.partitionBy("epoch")
        .orderBy(md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))), col("doc_id"))).cast("long"))
    val a = ranked.select(col("doc_id"), col("epoch").as("epoch_a"), col("rk").as("ra"))
    val b = ranked.select(col("doc_id"), col("epoch").as("epoch_b"), col("rk").as("rb"))
    a.join(b, Seq("doc_id")).filter(col("epoch_a") < col("epoch_b"))
      .groupBy("epoch_a", "epoch_b")
      .agg(count(lit(1)).as("n_docs"),
        // cast BEFORE squaring: d ≤ n, so a long d·d crosses 2⁶³ past
        // ~3×10⁹ docs and Spark-4 ANSI throws — the decimal lane must
        // carry the product, not just receive it (the gini/chi2 fix)
        sum((col("ra") - col("rb")).cast(DecimalType(38, 0))
          * (col("ra") - col("rb")).cast(DecimalType(38, 0))).as("sd2"))
      .select(col("epoch_a"), col("epoch_b"), col("n_docs"),
        round(lit(1.0) - lit(6.0) * col("sd2").cast("double") /
          (col("n_docs").cast("double") *
            (col("n_docs").cast("double") * col("n_docs").cast("double") - 1.0)), 6)
          .as("spearman"))
      .orderBy("epoch_a", "epoch_b")
  }

  val epochShuffleSql: String = """
    WITH ranked AS (
      SELECT doc_id, e AS epoch,
        cast(row_number() OVER (PARTITION BY e
          ORDER BY md5(CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), doc_id)
          AS BIGINT) AS rk
      FROM documents, unnest([0, 1, 2]) AS u(e))
    SELECT a.epoch AS epoch_a, b.epoch AS epoch_b, count(*) AS n_docs,
      round(1.0 - 6.0 * CAST(sum(cast(a.rk - b.rk AS HUGEINT) * (a.rk - b.rk)) AS DOUBLE)
        / (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) * count(*) - 1.0)), 6)
        AS spearman
    FROM ranked a JOIN ranked b ON a.doc_id = b.doc_id AND a.epoch < b.epoch
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------ shuffle audit

  /** `shuffle_audit` — WITHIN-epoch mixing quality of the epoch-0
    * training order (the complement of [[epochShuffle]]'s between-epoch
    * decorrelation): the adjacent-pair same-source rate along the
    * order, against the Σp² rate a well-mixed order would show, with
    * the normal-approximation z — sustained positive z means
    * consecutive batches over-concentrate one source (the loss-spike /
    * gradient-staleness failure mode a bad shard layout causes even
    * when each epoch's permutation LOOKS random).
    *
    * Scale shape: adjacency is computed BLOCK-LOCALLY — the md5 order
    * key's first two hex chars partition the order into 256
    * contiguous blocks, `lag` runs within blocks (a partitioned
    * window, never the single-reducer global sort), and only the 255
    * block-boundary pairs are dropped: deterministic, statistically
    * irrelevant, and exactly what a sharded trainer sees anyway
    * (adjacency within shards).
    */
  def shuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("0:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("blk", substring(col("k"), 1, 2))
    val w = Window.partitionBy("blk").orderBy("k", "doc_id")
    val pairs = d.withColumn("prev", lag("source", 1).over(w))
      .filter(col("prev").isNotNull)
      .agg(count(lit(1)).as("m"),
        sum(when(col("source") === col("prev"), 1L).otherwise(0L)).as("o"))
    val exp = d.groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(sum(col("ns").cast("double") * col("ns").cast("double")).as("ss"),
        sum("ns").as("n"))
      .select(col("n"), (col("ss") / (col("n").cast("double") * col("n").cast("double"))).as("p"))
    // m = 0 (a corpus with no adjacencies) must yield NULL rates, not
    // an ANSI divide-by-zero — the ab_lift degenerate-guard discipline
    pairs.crossJoin(exp).select(
      col("n").as("n_docs"), col("m").as("n_pairs"),
      when(col("m") > 0,
        round(col("o").cast("double") / col("m"), 6)).as("same_rate"),
      round(col("p"), 6).as("expected_rate"),
      when(col("m") > 0,
        round((col("o").cast("double") / col("m") - col("p")) /
          sqrt(col("p") * (lit(1.0) - col("p")) / col("m")), 6)).as("z"))
  }

  val shuffleAuditSql: String = """
    WITH d AS (
      SELECT doc_id, source, md5('0:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents),
    b AS (SELECT doc_id, source, k, substr(k, 1, 2) AS blk FROM d),
    lagged AS (
      SELECT source,
        lag(source) OVER (PARTITION BY blk ORDER BY k, doc_id) AS prev
      FROM b),
    pairs AS (
      SELECT count(*) AS m,
        sum(CASE WHEN source = prev THEN 1 ELSE 0 END) AS o
      FROM lagged WHERE prev IS NOT NULL),
    exp AS (
      SELECT sum(CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE))
               / (CAST(sum(ns) AS DOUBLE) * CAST(sum(ns) AS DOUBLE)) AS p,
        CAST(sum(ns) AS BIGINT) AS n
      FROM (SELECT count(*) AS ns FROM documents GROUP BY source))
    SELECT exp.n AS n_docs, CAST(pairs.m AS BIGINT) AS n_pairs,
      CASE WHEN m > 0 THEN round(CAST(o AS DOUBLE) / m, 6) END AS same_rate,
      round(p, 6) AS expected_rate,
      CASE WHEN m > 0 THEN
        round((CAST(o AS DOUBLE) / m - p) / sqrt(p * (1.0 - p) / m), 6)
      END AS z
    FROM pairs, exp"""

  // ------------------------------------------------------ margin sampling

  /** Active-learning margin sampling: score every vector against each
    * label's centroid, take margin = best − second-best cosine, and
    * surface the 20 most AMBIGUOUS vectors (smallest margin) — the
    * label-these-next queue of an annotation loop, and the pool a
    * hard-example curriculum drains first.
    *
    * Scale shape: centroids build with the exact-decimal posexplode
    * means (partition-order independent, the `label_centroids` shape)
    * and come back as a labels-sized broadcast; scoring is one map-only
    * corpus pass (labels-per-row fan-out, no corpus shuffle); top1/top2
    * extraction is a ROW-LOCAL struct sort over the per-row affinity
    * array — no window, no per-vector aggregation. The only exchange is
    * the final global bottom-20, which AQE collapses to a
    * TakeOrderedAndProject. Ranking follows the rounded-key discipline:
    * order on round(margin, 6) with vec_id tiebreak.
    */
  def marginSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = labelled(spark, dir)
    val cent = e
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("double").cast(DecimalType(28, 12)))
        .cast("double") / count(lit(1)).cast("double")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("c_label"),
        transform(col("pm"), p => p.getField("m")).as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("id").as("vec_id"),
        struct(Similarity.cosine(col("v"), col("nrm"), col("cv"), col("cn"))
          .as("aff"), col("c_label")).as("s"))
      .groupBy("vec_id")
      .agg(reverse(array_sort(collect_list(col("s")))).as("arr"))
      // single-label corpus guard: no second centroid → no margin; drop
      // rather than emit NULLs whose sort order differs across engines
      .filter(size(col("arr")) >= 2)
    scored.select(col("vec_id"),
        col("arr")(0).getField("c_label").cast("long").as("top_label"),
        col("arr")(1).getField("c_label").cast("long").as("second_label"),
        round(col("arr")(0).getField("aff") - col("arr")(1).getField("aff"), 6)
          .as("margin"))
      .orderBy(col("margin"), col("vec_id"))
      .limit(20)
  }

  /** Oracle mirrors the exact-decimal centroid build and the
    * (aff desc, label desc) top-2 selection of the reversed struct sort.
    */
  val marginSampleSql: String = """
    WITH e AS (
      SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(cast(embedding AS DOUBLE[]), cast(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    cm AS (
      SELECT label, i - 1 AS pos,
        cast(sum(cast(cast(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
          / cast(count(*) AS DOUBLE) AS m
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY label, i),
    cent AS (
      SELECT label AS c_label, list(m ORDER BY pos) AS cv FROM cm GROUP BY label),
    c2 AS (
      SELECT c_label, cv, sqrt(list_inner_product(cv, cv)) AS cn FROM cent),
    aff AS (
      SELECT vec_id, c_label,
        list_inner_product(v, cv) / (nrm * cn) AS aff,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY list_inner_product(v, cv) / (nrm * cn) DESC, c_label DESC) AS r
      FROM e CROSS JOIN c2)
    SELECT vec_id,
      cast(max(CASE WHEN r = 1 THEN c_label END) AS BIGINT) AS top_label,
      cast(max(CASE WHEN r = 2 THEN c_label END) AS BIGINT) AS second_label,
      round(max(CASE WHEN r = 1 THEN aff END)
        - max(CASE WHEN r = 2 THEN aff END), 6) AS margin
    FROM aff WHERE r <= 2
    GROUP BY vec_id
    HAVING count(*) = 2
    ORDER BY margin, vec_id
    LIMIT 20"""

  // -------------------------------------------------- mutual nearest pairs

  /** Mutual-nearest-neighbor pairs within each label block: (a, b) such
    * that b is a's top-1 cosine neighbor AND a is b's — the standard
    * unsupervised alignment/anchor-pair filter (far higher precision
    * than one-directional top-1, since an asymmetric hub can be
    * many vectors' top-1 while reciprocating none). Top-1 extraction
    * is ONE argmax aggregation per side (max over (cos, −id) structs —
    * map-side combinable, ties take the LOWEST neighbor id), then
    * mutuality is a self-equi-join of the two id-keyed top-1 frames.
    */
  def mutualNn(spark: SparkSession, dir: String): DataFrame = {
    val p = labelled(spark, dir)
    val r = p.select(col("label").as("n_label"), col("id").as("n_id"),
      col("v").as("nv"), col("nrm").as("nn"))
    val scored = p.join(r, col("label") === col("n_label") && col("id") =!= col("n_id"))
      .select(col("id"),
        Similarity.cosine(col("v"), col("nrm"), col("nv"), col("nn")).as("cos"),
        col("n_id"))
    val top1 = scored.groupBy("id")
      .agg(max(struct(col("cos"), (-col("n_id")).as("neg"))).as("m"))
      .select(col("id"), (-col("m.neg")).as("nbr"), col("m.cos").as("cos"))
    val b = top1.select(col("id").as("b_id"), col("nbr").as("b_nbr"))
    top1.join(b, col("nbr") === col("b_id") && col("b_nbr") === col("id")
        && col("id") < col("b_id"))
      .select(col("id").as("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("a_id")
  }

  val mutualNnSql: String = """
    WITH e AS (
      SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(cast(embedding AS DOUBLE[]), cast(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    s AS (
      SELECT a.vec_id AS id, b.vec_id AS n_id,
        list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
    t AS (
      SELECT id, n_id, cos,
        row_number() OVER (PARTITION BY id ORDER BY cos DESC, n_id) AS r
      FROM s QUALIFY r = 1)
    SELECT a.id AS a_id, b.id AS b_id, round(a.cos, 6) AS cosine
    FROM t a JOIN t b ON a.n_id = b.id AND b.n_id = a.id AND a.id < b.id
    ORDER BY a_id"""

  // ------------------------------------------------- span corruption

  /** T5 span-corruption window (tokens) and span length: L/W = 3/20
    * gives the paper's 15% corruption rate with mean span 3 (Raffel et
    * al. 2020 §3.1.4), made deterministic and engine-portable: each FULL
    * 20-token window masks exactly one 3-token span whose offset is
    * md5-derived from (doc_id, window#). The tail partial window stays
    * unmasked (documented divergence from the paper's random sampler —
    * a distributed pipeline needs replayable masking anyway, and this
    * construction is exactly reproducible by any engine).
    */
  private val CorruptW = 20
  private val CorruptL = 3

  /** T5 denoising batch prep (`span_corrupt`): per document, the masked
    * INPUT (each span replaced by its `<extra_id_k>` sentinel) and the
    * TARGET (`<extra_id_0> span0 <extra_id_1> span1 … <extra_id_n>`),
    * emitted as md5 fingerprints (the cross-engine witness both engines
    * rebuilt byte-identical sequences) plus token accounting.
    *
    * Scale shape: fully row-local — span starts are computed ONCE per
    * window into a staged array (one md5 per window, not per token),
    * then the input/target rebuilds are O(1)-per-token HOF projections
    * reading that array. No shuffle beyond the presentation sort; runs
    * at scan speed on any corpus size.
    */
  private def tokFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.wordTokens(col("text")).as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))

  private def sentinelCol(k: org.apache.spark.sql.Column) =
    concat(lit("<extra_id_"), k.cast("string"), lit(">"))

  /** The span-corruption core over a (doc_id, t, n_tok) frame,
    * parameterized for the UL2 denoiser family: window `w`, span `l`,
    * and a hash `tag` so different denoisers draw decorrelated offsets
    * (tag "" keeps `span_corrupt`'s original md5(doc_id:k) seed). Emits
    * (doc_id, n_tok, n_spans, n_masked, input, target) with the
    * sequences as STRINGS — callers fingerprint them.
    */
  private def spanCorruptFrame(toks: DataFrame, w: Int, l: Int,
                               tag: String): DataFrame = {
    val seed = if (tag.isEmpty) ":" else s":$tag:"
    val base = toks.withColumn("nsp", (size(col("t")) / w).cast("long"))
    // one md5 per window: span start s_k = k·w + h(doc_id[:tag]:k) % (w−l+1)
    val spanStarts = when(col("nsp") > 0,
      transform(sequence(lit(0), (col("nsp") - 1).cast("int")), k =>
        k.cast("long") * w +
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(seed),
            k.cast("string"))), 1, 8), 16, 10).cast("long") % (w - l + 1)))
      .otherwise(array().cast("array<bigint>"))
    val staged = base.withColumn("__sp", spanStarts)
    // input: per position — sentinel at a span start, dropped inside a
    // span, the token otherwise; O(1) array lookup per position
    val inputToks = filter(
      transform(sequence(lit(0), size(col("t")) - 1), i => {
        val k = (i / w).cast("int")
        val s = when(k.cast("long") < col("nsp"),
          get(col("__sp"), k)).otherwise(lit(-1L - l))
        when(i.cast("long") === s, sentinelCol(k))
          .when(i.cast("long") > s && i.cast("long") < s + l,
            lit(null).cast("string"))
          .otherwise(get(col("t"), i))
      }), x => x.isNotNull)
    val tgtParts = transform(sequence(lit(0), (col("nsp") - 1).cast("int")), k =>
      concat_ws(" ",
        concat(array(sentinelCol(k)),
          slice(col("t"), (get(col("__sp"), k) + 1).cast("int"), lit(l)))))
    val tgtArr = when(col("nsp") > 0, tgtParts)
      .otherwise(array().cast("array<string>"))
    val target = concat_ws(" ",
      concat(tgtArr, array(sentinelCol(col("nsp")))))
    staged.select(col("doc_id"), col("n_tok"),
      col("nsp").as("n_spans"),
      (col("nsp") * l).as("n_masked"),
      array_join(inputToks, " ").as("input"),
      target.as("target"))
  }

  def spanCorrupt(spark: SparkSession, dir: String): DataFrame =
    spanCorruptFrame(tokFrame(spark, dir), CorruptW, CorruptL, "")
      .select(col("doc_id"), col("n_tok"), col("n_spans"), col("n_masked"),
        md5(col("input").cast("binary")).as("input_fp"),
        md5(col("target").cast("binary")).as("target_fp"))
      .orderBy("doc_id")

  /** Span-corruption CTE chain (names prefixed `p`) over a (doc_id, t)
    * relation — the SQL twin of [[spanCorruptFrame]]. Ends with
    * `${p}out(doc_id, n_tok, nsp, n_masked, inp, tgt)`.
    */
  private def spanCorruptCtes(p: String, rel: String, w: Int, l: Int,
                              tag: String): String = {
    val seed = if (tag.isEmpty) ":" else s":$tag:"
    s"""${p}base AS (
      SELECT doc_id, t, cast(len(t) AS BIGINT) AS n_tok,
        cast(len(t) // $w AS BIGINT) AS nsp
      FROM $rel),
    ${p}spans AS (
      SELECT doc_id, k,
        k * $w + CAST(concat('0x',
          substr(md5(doc_id || '$seed' || k), 1, 8)) AS BIGINT) % ${w - l + 1} AS s
      FROM ${p}base, unnest(range(0, nsp)) AS u(k)),
    ${p}words AS (
      SELECT doc_id, cast(i AS BIGINT) AS i, t[i+1] AS w
      FROM ${p}base, unnest(range(0, len(t))) AS u(i)),
    ${p}remidx AS (
      SELECT doc_id, cast(j AS BIGINT) AS j
      FROM ${p}spans, unnest(range(s, s + $l)) AS u(j)),
    ${p}inp AS (
      SELECT w.doc_id, w.i AS pos, w.w AS tok
      FROM ${p}words w LEFT JOIN ${p}remidx r
        ON w.doc_id = r.doc_id AND w.i = r.j
      WHERE r.j IS NULL
      UNION ALL
      SELECT doc_id, s AS pos, '<extra_id_' || k || '>' FROM ${p}spans),
    ${p}input AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS inp
      FROM ${p}inp GROUP BY doc_id),
    ${p}tparts AS (
      SELECT sp.doc_id, sp.k,
        '<extra_id_' || sp.k || '> ' || array_to_string(b.t[sp.s+1:sp.s+$l], ' ') AS part
      FROM ${p}spans sp JOIN ${p}base b USING (doc_id)),
    ${p}target AS (
      SELECT b.doc_id,
        coalesce(string_agg(tp.part, ' ' ORDER BY tp.k) || ' ', '')
          || '<extra_id_' || b.nsp || '>' AS tgt
      FROM ${p}base b LEFT JOIN ${p}tparts tp USING (doc_id)
      GROUP BY b.doc_id, b.nsp),
    ${p}out AS (
      SELECT b.doc_id, b.n_tok, b.nsp, b.nsp * $l AS n_masked,
        i2.inp, t2.tgt
      FROM ${p}base b
      JOIN ${p}input i2 USING (doc_id)
      JOIN ${p}target t2 USING (doc_id))"""
  }

  val spanCorruptSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    ${spanCorruptCtes("sc_", "toks", CorruptW, CorruptL, "")}
    SELECT doc_id, n_tok, nsp AS n_spans, n_masked,
      md5(inp) AS input_fp, md5(tgt) AS target_fp
    FROM sc_out
    ORDER BY doc_id"""

  // --------------------------------------------- UL2 mixture of denoisers

  /** UL2 X-denoiser config: µ=8 spans at 50% corruption → one 8-token
    * span per 16-token window (the "extreme" regime of Tay et al. 2022).
    */
  private val Ul2XW = 16
  private val Ul2XL = 8

  /** UL2 mixture-of-denoisers prep (`ul2_mix`, Tay et al. 2022): an md5
    * die on doc_id routes each document to one denoiser — R (the T5
    * regular span corruption, µ=3 @ 15%, 2/4 of documents; same hash
    * seed as `span_corrupt`, so R rows are bit-identical to that query
    * on the shared docs), X (extreme: µ=8 @ 50%, decorrelated offsets
    * via a tagged seed), or S (sequential/prefix-LM: one md5 cut in the
    * middle half, input = prefix + sentinel, target = sentinel +
    * suffix). Emits denoiser, token accounting, and the md5 input/target
    * witnesses, oracle-checked.
    *
    * Scale shape: three row-local branch projections over disjoint
    * md5-routed slices of one scan, unioned — no shuffle beyond the
    * presentation sort; the union is append-only, not a join.
    */
  def ul2Mix(spark: SparkSession, dir: String): DataFrame = {
    def h(tag: String) =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":" + tag))),
        1, 8), 16, 10).cast("long")
    val toks = tokFrame(spark, dir).withColumn("__d", h("ul2") % 4)
    def fp(c: org.apache.spark.sql.Column) = md5(c.cast("binary"))
    def branch(df: DataFrame, name: String) =
      df.select(col("doc_id"), lit(name).as("denoiser"), col("n_tok"),
        col("n_masked"), fp(col("input")).as("input_fp"),
        fp(col("target")).as("target_fp"))
    val r = branch(spanCorruptFrame(
      toks.where(col("__d") <= 1).select("doc_id", "t", "n_tok"),
      CorruptW, CorruptL, ""), "R")
    val x = branch(spanCorruptFrame(
      toks.where(col("__d") === 2).select("doc_id", "t", "n_tok"),
      Ul2XW, Ul2XL, "x"), "X")
    // S: one cut in the middle half [n/4, n − n/4]
    val sBase = toks.where(col("__d") === 3)
    val n = col("n_tok")
    val lo = floor(n / 4).cast("long")
    val cut = (lo + h("s") % (n - lo * 2L + 1L)).cast("int")
    val s = sBase
      .withColumn("__cut", cut)
      .select(col("doc_id"), lit("S").as("denoiser"), col("n_tok"),
        (n - col("__cut")).as("n_masked"),
        fp(array_join(concat(
          slice(col("t"), lit(1), col("__cut")),
          array(lit("<extra_id_0>"))), " ")).as("input_fp"),
        fp(array_join(concat(
          array(lit("<extra_id_0>")),
          slice(col("t"), col("__cut") + 1,
            size(col("t")) - col("__cut"))), " ")).as("target_fp"))
    r.union(x).union(s).orderBy("doc_id")
  }

  val ul2MixSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
        CAST(concat('0x', substr(md5(doc_id || ':ul2'), 1, 8)) AS BIGINT)
          % 4 AS d
      FROM documents),
    rdocs AS (SELECT doc_id, t FROM toks WHERE d <= 1),
    ${spanCorruptCtes("r_", "rdocs", CorruptW, CorruptL, "")},
    xdocs AS (SELECT doc_id, t FROM toks WHERE d = 2),
    ${spanCorruptCtes("x_", "xdocs", Ul2XW, Ul2XL, "x")},
    sdocs AS (
      SELECT doc_id, t, cast(len(t) AS BIGINT) AS n FROM toks WHERE d = 3),
    scut AS (
      SELECT doc_id, t, n,
        n // 4 + CAST(concat('0x', substr(md5(doc_id || ':s'), 1, 8)) AS BIGINT)
          % (n - (n // 4) * 2 + 1) AS cut
      FROM sdocs),
    sout AS (
      SELECT doc_id, n AS n_tok, n - cut AS n_masked,
        array_to_string(t[1:cut] || ['<extra_id_0>'], ' ') AS inp,
        array_to_string(['<extra_id_0>'] || t[cut+1:n], ' ') AS tgt
      FROM scut)
    SELECT doc_id, 'R' AS denoiser, n_tok, n_masked,
      md5(inp) AS input_fp, md5(tgt) AS target_fp FROM r_out
    UNION ALL
    SELECT doc_id, 'X', n_tok, n_masked, md5(inp), md5(tgt) FROM x_out
    UNION ALL
    SELECT doc_id, 'S', n_tok, n_masked, md5(inp), md5(tgt) FROM sout
    ORDER BY doc_id"""

  // ------------------------------------------------- fill-in-the-middle

  /** FIM transform (`fim_transform`, Bavarian et al. 2022): half the
    * documents (md5-coin on doc_id) are rearranged into the PSM format
    * `<PRE> prefix <SUF> suffix <MID> middle`, where the two cut points
    * are md5-derived from doc_id over [0, n] — the deterministic,
    * replayable stand-in for the paper's uniform cuts (a distributed
    * pipeline needs exact replay; any engine reproduces the same cuts).
    * The other half pass through in autoregressive order. Emits the cut
    * accounting and the md5 of the emitted sequence — the cross-engine
    * witness. Row-local; empty prefix/middle/suffix segments (cuts at
    * the edges) collapse cleanly because the pieces are ARRAYS joined
    * once, not string concatenation with separators.
    */
  def fimTransform(spark: SparkSession, dir: String): DataFrame = {
    def h(tag: String) =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":" + tag))),
        1, 8), 16, 10).cast("long")
    val toks = Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.wordTokens(col("text")).as("t"))
    val n = size(col("t"))
    val fim = h("fim") % 2 === 0
    val c1 = h("a") % (n.cast("long") + 1L)
    val c2 = h("b") % (n.cast("long") + 1L)
    val staged = toks
      .withColumn("fim", fim)
      .withColumn("lo", least(c1, c2).cast("int"))
      .withColumn("hi", greatest(c1, c2).cast("int"))
    val pre = slice(col("t"), lit(1), col("lo"))
    val mid = slice(col("t"), col("lo") + 1, col("hi") - col("lo"))
    val suf = slice(col("t"), col("hi") + 1, n - col("hi"))
    val psm = array_join(concat(
      array(lit("<PRE>")), pre,
      array(lit("<SUF>")), suf,
      array(lit("<MID>")), mid), " ")
    val out = when(col("fim"), psm).otherwise(array_join(col("t"), " "))
    staged.select(col("doc_id"), col("fim"),
      n.cast("long").as("n_tok"),
      when(col("fim"), col("lo")).otherwise(n).cast("long").as("pre_len"),
      when(col("fim"), col("hi") - col("lo")).otherwise(lit(0))
        .cast("long").as("mid_len"),
      when(col("fim"), n - col("hi")).otherwise(lit(0))
        .cast("long").as("suf_len"),
      md5(out.cast("binary")).as("out_fp"))
      .orderBy("doc_id")
  }

  val fimTransformSql: String = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents),
    base AS (
      SELECT doc_id, t, len(t) AS n,
        CAST(concat('0x', substr(md5(doc_id || ':fim'), 1, 8)) AS BIGINT)
          % 2 = 0 AS fim,
        CAST(concat('0x', substr(md5(doc_id || ':a'), 1, 8)) AS BIGINT)
          % (len(t) + 1) AS c1,
        CAST(concat('0x', substr(md5(doc_id || ':b'), 1, 8)) AS BIGINT)
          % (len(t) + 1) AS c2
      FROM toks),
    cuts AS (
      SELECT doc_id, t, n, fim,
        least(c1, c2) AS lo, greatest(c1, c2) AS hi
      FROM base)
    SELECT doc_id, fim, cast(n AS BIGINT) AS n_tok,
      cast(CASE WHEN fim THEN lo ELSE n END AS BIGINT) AS pre_len,
      cast(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT) AS mid_len,
      cast(CASE WHEN fim THEN n - hi ELSE 0 END AS BIGINT) AS suf_len,
      md5(CASE WHEN fim
        THEN array_to_string(
          ['<PRE>'] || t[1:lo] || ['<SUF>'] || t[hi+1:n] || ['<MID>'] || t[lo+1:hi],
          ' ')
        ELSE array_to_string(t, ' ') END) AS out_fp
    FROM cuts
    ORDER BY doc_id"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "triplet_mine"  -> (tripletMine _),
    "emb_health"    -> (embHealth _),
    "span_corrupt"  -> (spanCorrupt _),
    "fim_transform" -> (fimTransform _),
    "ul2_mix"       -> (ul2Mix _),
    "margin_sample" -> (marginSample _),
    "mutual_nn"     -> (mutualNn _),
    "epoch_shuffle" -> (epochShuffle _),
    "shuffle_audit" -> (shuffleAudit _))

  val oracle: Map[String, String] = Map(
    "triplet_mine"  -> tripletMineSql,
    "emb_health"    -> embHealthSql,
    "span_corrupt"  -> spanCorruptSql,
    "fim_transform" -> fimTransformSql,
    "ul2_mix"       -> ul2MixSql,
    "margin_sample" -> marginSampleSql,
    "mutual_nn"     -> mutualNnSql,
    "epoch_shuffle" -> epochShuffleSql,
    "shuffle_audit" -> shuffleAuditSql)
}
