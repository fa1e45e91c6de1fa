package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{DupClusters, Graph, Materialize, Relational, TextAnalysis, ZOrder}
import graft.sources.Tables

/** Graph, warehouse-ops, and corpus-insight operators: triangle
  * counting (degree-ordered), entity resolution (fuzzy edges →
  * components), SCD Type-2 dimension build, rolling anomaly flags,
  * vocabulary dictionary encoding, source-distribution distance, and
  * the data-skipping report that quantifies the Z-order layout win.
  *
  * Determinism discipline throughout: integer/decimal arithmetic on
  * every comparison surface (the anomaly test is the squared-z
  * inequality in pure integers; the distribution distance cross-
  * multiplies counts before the single final division).
  */
object InsightQueries extends QueryModule {

  // ----------------------------------------------------- triangle count

  /** Triangle count on the BULK part co-purchase graph ([[Graph]]:
    * parts sharing an order with quantity ≥ 45 on both lines), via
    * [[Graph.degreeOrdered]] orientation. Each triangle u<v<w (in the
    * orientation order) is counted exactly once: as the wedge u→v→w
    * closed by the edge u→w. The quantity filter bounds the wedge
    * count — the true cost driver, which grows ~m^1.5 even oriented.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val und = Materialize(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")), "a", "b"))
    val deg = Graph.endpointDegree(und)
    val dag = Materialize(Graph.degreeOrdered(und, deg))
    val wedges = Materialize(Graph.wedges(dag))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(Graph.triangles(wedges, dag).agg(count(lit(1)).as("n_triangles")))
  }

  val triangleCountSql: String = s"""${Graph.edgeCtes(bulk = true)},${Graph.triangleCtes}
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM und) AS n_edges,
           (SELECT count(*) FROM w) AS n_wedges,
           (SELECT n_triangles FROM t) AS n_triangles"""

  // ---------------------------------------------------- entity resolve

  /** Entity resolution over supplier names: candidate pairs from a
    * blocking key (name minus its last two characters), verified by
    * edit distance ≤ 1, then connected components assign each supplier
    * a canonical entity id (minimum member key). The blocking-then-
    * verify-then-cluster shape is the production ER pipeline; the
    * components reuse the verified [[DupClusters.connectedComponents]]
    * (driver union-find under the gate, distributed min-label above).
    */
  def entityResolve(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.read(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"),
        expr("substring(s_name, 1, length(s_name) - 2)").as("blk"))
    val right = s.select(col("s_suppkey").as("bkey"), col("s_name").as("bname"),
      col("blk").as("bblk"))
    val edges = s.join(right,
        col("blk") === col("bblk") && col("s_suppkey") < col("bkey") &&
          levenshtein(col("s_name"), col("bname")) <= 1)
      .select(col("s_suppkey").as("src"), col("bkey").as("dst"))
    DupClusters.connectedComponents(
        s.select(col("s_suppkey").as("id")), edges)
      .select(col("id").as("s_suppkey"), col("cluster_id").as("entity_id"))
      .orderBy("s_suppkey")
  }

  val entityResolveSql: String = """
    WITH RECURSIVE blk AS (
      SELECT s_suppkey, s_name,
        substring(s_name, 1, length(s_name) - 2) AS b
      FROM supplier),
    edges AS (
      SELECT a.s_suppkey AS src, b.s_suppkey AS dst
      FROM blk a JOIN blk b
        ON a.b = b.b AND a.s_suppkey < b.s_suppkey
       AND levenshtein(a.s_name, b.s_name) <= 1),
    und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    r(n, m) AS (
      SELECT s_suppkey, s_suppkey FROM supplier
      UNION
      SELECT r.n, u.dst FROM r JOIN und u ON u.src = r.m)
    SELECT n AS s_suppkey, min(m) AS entity_id
    FROM r GROUP BY n ORDER BY s_suppkey"""

  // -------------------------------------------------------- SCD type 2

  /** SCD Type-2 dimension build from the event stream: each user's
    * event_type becomes a slowly-changing attribute with validity
    * intervals — keep rows where the value CHANGES (vs the previous
    * event in (ts, event_id) order), close each version at the next
    * version's start − 1 µs, leave the current version open (NULL).
    * One shuffle keyed by user; microsecond longs on the comparison
    * surface (no timestamp-format drift).
    */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val changed = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
    val wv = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed
      .withColumn("version", row_number().over(wv).cast("long"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(wv) - 1L)
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "version")
  }

  val scd2BuildSql: String = """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
      FROM events),
    changed AS (
      SELECT user_id, event_id, ts_us, event_type
      FROM (SELECT *, lag(event_type) OVER
              (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
            FROM e)
      WHERE prev_type IS NULL OR event_type <> prev_type)
    SELECT user_id,
      cast(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        AS BIGINT) AS version,
      event_type,
      ts_us AS valid_from_us,
      lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1
        AS valid_to_us
    FROM changed
    ORDER BY user_id, version"""

  // ------------------------------------------------------- ts anomaly

  /** Rolling anomaly flags on hourly event counts: per event_type, a
    * trailing-24-hour RANGE frame supplies count/sum/sum-of-squares,
    * and the 3-sigma test runs as the cross-multiplied integer
    * inequality (n_w·x − S)² > 9·(n_w·S2 − S²) — algebraically
    * identical to z² > 9 but with NO division and NO sqrt, so both
    * engines evaluate exact integers (a float z-score would hash-drift
    * on aggregation order). Warm-up windows (< 12 hours of history)
    * never flag.
    */
  def tsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_us div 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hr").rangeBetween(-23, 0)
    // count products in DECIMAL(38,0) (HUGEINT in the oracle): the
    // z-test cross-multiplication grows with the square of the hourly
    // count and crosses 2⁶³ near 6e7 events/hour·type — a long product
    // would THROW under Spark 4's default ANSI mode at cluster scale
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val dev = dec(col("nw")) * dec(col("n")) - dec(col("s"))
    hourly
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("s", sum("n").over(w))
      .withColumn("s2", sum(dec(col("n")) * dec(col("n"))).over(w))
      .select(col("event_type"), col("hr"), col("n"), col("nw"),
        when(col("nw") >= 12 &&
          dev * dev >
            lit(9L) * (dec(col("nw")) * col("s2") - dec(col("s")) * dec(col("s"))), 1L)
          .otherwise(0L).as("is_anomaly"))
      .orderBy("event_type", "hr")
  }

  val tsAnomalySql: String = """
    WITH hourly AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS hr,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, hr, n,
        count(*) OVER tw AS nw,
        sum(n) OVER tw AS s,
        sum(cast(n AS HUGEINT) * n) OVER tw AS s2
      FROM hourly
      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
                    RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
    SELECT event_type, hr, n, nw,
      cast(CASE WHEN nw >= 12 AND
                     (cast(nw AS HUGEINT) * n - s) * (cast(nw AS HUGEINT) * n - s)
                       > 9 * (cast(nw AS HUGEINT) * s2 - cast(s AS HUGEINT) * s)
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM win
    ORDER BY event_type, hr"""

  // ----------------------------------------------------- vocab encode

  /** Vocabulary size and encoded prefix length. */
  val VocabSize = 1000
  val EncodeLen = 32

  /** Dictionary encoding (the tokenizer-apply step): build the
    * top-[[VocabSize]] vocabulary by corpus frequency (rank =
    * frequency desc, token asc — fully deterministic), then encode
    * each document's first [[EncodeLen]] tokens as ids, 0 for
    * out-of-vocabulary. The vocabulary is model parameters — a
    * broadcast dict — so encoding is map-only over the corpus; rank
    * truncation pushes down as WindowGroupLimit before the (tiny)
    * global sort.
    */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordTokens(lower(col("text"))).as("t"))
    val tf = toks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val vocab = tf
      .withColumn("tid", row_number().over(Window.orderBy(col("n").desc, col("tok"))).cast("long"))
      .filter(col("tid") <= VocabSize)
      .select("tok", "tid")
    toks
      .select(col("doc_id"), posexplode(slice(col("t"), 1, EncodeLen)))
      .withColumnRenamed("col", "tok")
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("tid"), lit(0L)).as("tid"))
      .orderBy("doc_id", "pos")
  }

  val vocabEncodeSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    tf AS (
      SELECT tok, count(*) AS n
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
    vocab AS (
      SELECT tok, cast(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS tid
      FROM tf QUALIFY tid <= $VocabSize),
    enc AS (
      SELECT doc_id, i, t[i] AS tok
      FROM toks, unnest(range(1, least(len(t), $EncodeLen) + 1)) AS u(i))
    SELECT e.doc_id, cast(e.i - 1 AS BIGINT) AS pos,
      coalesce(v.tid, 0) AS tid
    FROM enc e LEFT JOIN vocab v USING (tok)
    ORDER BY doc_id, pos"""

  // ----------------------------------------------- source similarity

  /** Top-k shared vocabulary for the distribution distance. */
  val SimVocab = 100

  /** Pairwise corpus-distribution distance between sources: L1 distance
    * of unigram proportions over the global top-[[SimVocab]] tokens —
    * the "how different are these two corpora" report run before
    * mixing. Exactness: per-term |c_a·N_b − c_b·N_a| cross-multiplies
    * integer counts (no per-term division), sums exactly, and divides
    * ONCE at the end — so the doubles are identical on any engine and
    * any aggregation order. Work is bounded by |sources|²·k, never by
    * corpus size (counts aggregate map-side first).
    */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.wordTokens(lower(col("text")))).as("tok"))
    val cnt = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .filter(col("rk") <= SimVocab).select("tok")
    val grid = totals.crossJoin(broadcast(top))
    val filled = grid.join(cnt, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"), col("nt"), coalesce(col("c"), lit(0L)).as("c"))
    val a = filled.select(col("source").as("source_a"), col("tok"),
      col("nt").as("na"), col("c").as("ca"))
    val b = filled.select(col("source").as("source_b"), col("tok").as("tokb"),
      col("nt").as("nb"), col("c").as("cb"))
    a.join(b, col("tok") === col("tokb") && col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b", "na", "nb")
      // decimal lane BEFORE the cross-products: per-token count ×
      // source token TOTAL crosses 2⁶³ on a 10¹³-token corpus (the
      // gini/chi2/topic_drift product-audit class)
      .agg(sum(abs(col("ca").cast(DecimalType(38, 0)) * col("nb")
        - col("cb").cast(DecimalType(38, 0)) * col("na"))).as("num"))
      .select(col("source_a"), col("source_b"),
        round(col("num").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("l1_dist"))
      .orderBy("source_a", "source_b")
  }

  val sourceSimilaritySql: String = s"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    totals AS (SELECT source, count(*) AS nt FROM toks GROUP BY 1),
    top AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
        FROM toks GROUP BY tok)
      WHERE rk <= $SimVocab),
    filled AS (
      SELECT t.source, v.tok, t.nt, coalesce(c.c, 0) AS c
      FROM totals t CROSS JOIN top v
      LEFT JOIN cnt c ON c.source = t.source AND c.tok = v.tok)
    SELECT a.source AS source_a, b.source AS source_b,
      round(cast(sum(abs(cast(a.c AS HUGEINT) * b.nt - cast(b.c AS HUGEINT) * a.nt)) AS DOUBLE)
        / (cast(a.nt AS DOUBLE) * cast(b.nt AS DOUBLE)), 6) AS l1_dist
    FROM filled a JOIN filled b
      ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source, a.nt, b.nt
    ORDER BY source_a, source_b"""

  // -------------------------------------------------------- zorder skip

  /** Data-skipping report: for a mid-range partkey predicate, how many
    * file-sized buckets could be pruned by min/max statistics under (a)
    * the Z-order layout ([[ZOrder.mortonCode]] segments) vs (b) a
    * hash-scattered layout (orderkey mod 64) — the quantified argument
    * for why the Z-order write matters at 100 TB: scattered layouts
    * give every bucket a full-width partkey range, so NOTHING skips.
    * Predicate bounds derive from the data (2/5..1/2 of max partkey,
    * integer arithmetic), so the query is scale-free.
    */
  def zorderSkip(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
    val bounds = li.agg(max("l_partkey").as("mx"))
    def report(layout: String, bucket: org.apache.spark.sql.Column): DataFrame =
      li.groupBy(bucket.as("bucket"))
        .agg(min("l_partkey").as("min_part"), max("l_partkey").as("max_part"))
        .crossJoin(broadcast(bounds))
        .select(lit(layout).as("layout"),
          when(col("max_part") < expr("mx * 2 div 5") ||
               col("min_part") > expr("mx div 2"), 1L).otherwise(0L).as("skip"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_buckets"), sum("skip").as("n_skipped"))
    report("hash", pmod(col("l_orderkey"), lit(64)))
      .union(report("zorder",
        shiftright(ZOrder.mortonCode(col("l_partkey"), col("l_suppkey")), 20)))
      .orderBy("layout")
  }

  val zorderSkipSql: String = """
    WITH g AS (
      SELECT l_partkey, l_suppkey, l_orderkey,
        (l_partkey & 65535) AS gx, (l_suppkey & 65535) AS gy
      FROM lineitem),
    s1 AS (SELECT *, ((gx | (gx << 8)) & 16711935) AS ax,
                     ((gy | (gy << 8)) & 16711935) AS ay FROM g),
    s2 AS (SELECT *, ((ax | (ax << 4)) & 252645135) AS bx,
                     ((ay | (ay << 4)) & 252645135) AS by FROM s1),
    s3 AS (SELECT *, ((bx | (bx << 2)) & 858993459) AS cx,
                     ((by | (by << 2)) & 858993459) AS cy FROM s2),
    s4 AS (SELECT *, ((cx | (cx << 1)) & 1431655765) AS dx,
                     ((cy | (cy << 1)) & 1431655765) AS dy FROM s3),
    z AS (SELECT l_partkey, l_orderkey, (dx | (dy << 1)) AS z FROM s4),
    mx AS (SELECT max(l_partkey) AS mx FROM lineitem),
    b AS (
      SELECT 'hash' AS layout, l_orderkey % 64 AS bucket,
        min(l_partkey) AS min_part, max(l_partkey) AS max_part
      FROM z GROUP BY 1, 2
      UNION ALL
      SELECT 'zorder', z >> 20,
        min(l_partkey), max(l_partkey)
      FROM z GROUP BY 1, 2)
    SELECT layout, count(*) AS n_buckets,
      cast(sum(CASE WHEN max_part < (mx.mx * 2) // 5 OR min_part > mx.mx // 2
               THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
    FROM b, mx
    GROUP BY layout
    ORDER BY layout"""

  // ---------------------------------------------------- link prediction

  /** Wedge centers with degree above this cap carry no link-prediction
    * signal (Adamic–Adar downweights them by 1/log·deg toward zero) and
    * are exactly the hubs whose Σdeg² wedge fan-out goes quadratic at
    * scale — so the operator excludes them OUTRIGHT, turning the usual
    * soft downweight into a hard cost bound the oracle can mirror. */
  val LinkDegCap = 64

  /** Ranked candidate count for the link-prediction report. */
  val LinkTopK = 30

  /** Link prediction on the BULK co-purchase graph ([[Graph]]): for
    * every NON-adjacent part pair sharing at least one (non-hub)
    * neighbor, the common-neighbor count plus the
    * preferential-attachment score deg(x)·deg(y), ranked. The "which
    * products will be bought together next" / "which docs will link"
    * primitive.
    *
    * Scale shape: wedges expand only at centers with deg ≤
    * [[LinkDegCap]], bounding the classic Σdeg² hub quadratic (the
    * wedge list is ≤ cap·Σdeg rows); existing edges drop via one
    * anti-join; both scores are exact integers so the ranking is
    * cross-engine total with the (x, y) tiebreak.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val und = Materialize(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")), "a", "b"))
    val deg = Graph.endpointDegree(und)
    // mirrored incidence list, then keep only low-degree wedge centers
    val m = und.select(col("a").as("z"), col("b").as("x"))
      .union(und.select(col("b").as("z"), col("a").as("x")))
    val lowZ = Materialize(m.join(
      deg.filter(col("d") <= LinkDegCap).select(col("n").as("z")), Seq("z")))
    val cn = lowZ
      .join(lowZ.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
    val nonAdj = cn.join(und,
      cn("x") === und("a") && cn("y") === und("b"), "left_anti")
    nonAdj
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("cn"),
        (col("dx") * col("dy")).as("pa"))
      .orderBy(col("cn").desc, col("pa").desc, col("x"), col("y"))
      .limit(LinkTopK)
  }

  val linkPredictSql: String = s"""${Graph.edgeCtes(bulk = true)},
    lz AS (SELECT e.src AS z, e.dst AS x FROM e JOIN deg ON e.src = deg.node
           WHERE deg.deg <= $LinkDegCap),
    cn AS (
      SELECT p.x AS x, q.x AS y, count(*) AS cn
      FROM lz p JOIN lz q ON p.z = q.z AND p.x < q.x
      GROUP BY 1, 2),
    na AS (
      SELECT cn.* FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.src = cn.x AND und.dst = cn.y))
    SELECT na.x, na.y, na.cn, cast(dx.deg * dy.deg AS BIGINT) AS pa
    FROM na JOIN deg dx ON na.x = dx.node JOIN deg dy ON na.y = dy.node
    ORDER BY cn DESC, pa DESC, x, y LIMIT $LinkTopK"""

  // ------------------------------------------------- frequent itemsets

  /** Minimum basket co-occurrence count for a reported triple. */
  val FreqMinSupport = 2

  /** Bounded report size (support desc, then itemset — total order). */
  val FreqTopK = 100

  /** Hard bound on frequent items kept per basket before the k³
    * expansion (the [[LinkDegCap]] convention: turn the pathological
    * fan-out into a cost bound the oracle can mirror). A mega-basket
    * would otherwise contribute C(k,3) rows alone — 64 caps that at
    * ~42k rows per basket, and the kept slice (the 64 SMALLEST
    * frequent part keys, a total order) mirrors as a QUALIFY
    * row_number in the oracle.
    */
  val FreqBasketCap = 64

  /** Frequent 3-itemsets over order baskets (market-basket mining, the
    * A-priori shape): parts that appear in ≥ [[FreqMinSupport]] baskets
    * TOGETHER with two others. Scale shape: the A-priori prune drops
    * items below the support floor BEFORE any expansion (an item can't
    * be in a frequent triple if it isn't frequent alone), each basket
    * is then capped to its [[FreqBasketCap]] smallest frequent items
    * (TPC-H baskets are ≤ 13 items, so the cap only exists for the
    * planted-mega-basket regime), and triples expand ROW-LOCALLY from
    * the basket's sorted capped item array — bounded cost k³/6 per
    * basket — and one (p1,p2,p3)-keyed count finishes. No basket
    * self-join ever materializes.
    */
  def freqTriples(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val freq1 = li.groupBy("l_partkey")
      .agg(countDistinct("l_orderkey").as("ic"))
      .filter(col("ic") >= FreqMinSupport).select("l_partkey")
    val baskets = li.join(freq1, Seq("l_partkey"), "left_semi")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps0"))
      .select(slice(col("ps0"), 1, FreqBasketCap).as("ps"))
      .filter(size(col("ps")) >= 3) // a <3-item basket yields no triple
    baskets
      .select(col("ps"), explode(col("ps")).as("p1"))
      .select(col("ps"), col("p1"), explode(col("ps")).as("p2"))
      .filter(col("p1") < col("p2"))
      .select(col("p1"), col("p2"), explode(col("ps")).as("p3"))
      .filter(col("p2") < col("p3"))
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
      .filter(col("support") >= FreqMinSupport)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(FreqTopK)
  }

  /** Oracle mirrors the ENGINE's basket shape — per-order sorted capped
    * list, then triple row-local UNNEST expansion — not a triple
    * self-join. The self-join formulation, while equivalent, made DuckDB
    * 1.0.0 build quadratic per-order intermediates: 648.6 s alone at
    * sf0.01 (≈65% of the whole 313-oracle gate wall, and the root cause
    * of the empty CORRECTNESS_r15 artifact) vs 0.14 s for this shape —
    * verified cell-identical to the old SQL at sf0.001 (94 rows) and
    * sf0.01 (12 rows). unnest() in the SELECT list repeats the carried
    * columns per element (DuckDB's explode), so the three-stage CTE
    * chain is exactly the engine's explode/filter ladder; the `p1<p2`
    * and `p2<p3` guards sit one CTE downstream because DuckDB cannot
    * filter an unnest alias in its own SELECT's WHERE. */
  val freqTriplesSql: String = s"""
    WITH li0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq1 AS (
      SELECT l_partkey FROM li0 GROUP BY 1
      HAVING count(*) >= $FreqMinSupport),
    baskets AS (
      SELECT list_sort(list(l_partkey))[:$FreqBasketCap] AS ps
      FROM li0
      WHERE l_partkey IN (SELECT l_partkey FROM freq1)
      GROUP BY l_orderkey
      HAVING count(*) >= 3),
    b1 AS (SELECT ps, unnest(ps) AS p1 FROM baskets),
    b2 AS (SELECT ps, p1, unnest(ps) AS p2 FROM b1),
    b3 AS (SELECT p1, p2, unnest(ps) AS p3 FROM b2 WHERE p1 < p2),
    t AS (
      SELECT p1, p2, p3, count(*) AS support FROM b3
      WHERE p2 < p3
      GROUP BY 1, 2, 3
      HAVING count(*) >= $FreqMinSupport)
    SELECT p1, p2, p3, support FROM t
    ORDER BY support DESC, p1, p2, p3 LIMIT $FreqTopK"""

  // ------------------------------------------------ clustering coefficient

  /** Global clustering coefficient of the BULK co-purchase graph:
    * C = 3·triangles / Σ_v C(d_v, 2) — the transitivity number that
    * separates a clustered product catalog from a random one of the
    * same degree sequence. Triangles come from the same degree-ordered
    * enumeration as [[triangleCount]] ([[Graph.degreeOrdered]]: wedge
    * fan-out bounded by orientation degree); the wedge denominator is
    * one exact moment over the degree frame, with d(d−1) in
    * DECIMAL(38,0)/HUGEINT (a 10⁹-degree hub squares past 2⁶³). The
    * division is one agreed double expression.
    */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val und = Materialize(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")), "a", "b"))
    val deg = Graph.endpointDegree(und)
    val dag = Materialize(Graph.degreeOrdered(und, deg))
    val tri = Graph.triangles(Graph.wedges(dag), dag)
    // w2 = Σ d(d−1) = 2·wedges-centered; C = 3T/W = 6T/w2
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(dec(col("d")) * dec(col("d") - 1)).as("w2"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (col("w2") / lit(2)).cast("long").as("n_centered_wedges"),
        (round((dec(lit(6)) * dec(col("n_triangles"))).cast("double")
          / col("w2").cast("double"), 6) + lit(0.0)).as("global_cc"))
  }

  val clusteringCoeffSql: String = s"""${Graph.edgeCtes(bulk = true)},${Graph.triangleCtes},
    dm AS (SELECT count(*) AS n_nodes,
             cast(sum(cast(deg.deg AS HUGEINT) * (deg.deg - 1)) AS HUGEINT) AS w2 FROM deg)
    SELECT dm.n_nodes, (SELECT count(*) FROM und) AS n_edges, t.n_triangles,
      cast(dm.w2 // 2 AS BIGINT) AS n_centered_wedges,
      round(cast(cast(6 AS HUGEINT) * t.n_triangles AS DOUBLE)
        / cast(dm.w2 AS DOUBLE), 6) + 0.0 AS global_cc
    FROM dm CROSS JOIN t"""

  // ------------------------------------------------------ bipartite HITS

  /** Bipartite HITS (hubs = customers, authorities = parts) on the
    * customer–part purchase graph, run UNNORMALIZED for two rounds so
    * every score is an exact path count: a₁(p) = #buyers,
    * h₁(c) = Σ_{p∈c} a₁(p), a₂(p) = Σ_{c∋p} h₁(c) — the number of
    * length-3 paths ending at p. Relative ranking equals normalized
    * HITS (normalization is a per-round positive scalar), but exact
    * integers make the oracle bit-deterministic with no per-round
    * division to snap. Sums run in DECIMAL(38,0)/HUGEINT (a₂ is
    * degree³-magnitude); the top-20 report casts back to BIGINT (at
    * true 100 TB scale keep the decimal column). Scale shape: two keyed
    * aggregation exchanges per round, top-k via TakeOrderedAndProject.
    */
  /** Salt fan-out for [[hitsRank]]'s two score joins (the
    * [[CorpusQueries.PrSalt]] convention — physical only). */
  val HitsSalt = 8

  def hitsRank(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val e = Materialize(Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct())
    // both score joins are fact × per-key-single-row frames where a hot
    // part (or a whale customer) concentrates one SMJ reducer and AQE's
    // skew split structurally can't fire (QuerySkewSpec) — salted:
    // physical distribution only, exact sums unchanged
    val a1 = e.groupBy("p").agg(count(lit(1)).as("a1"))
    val h1 = Relational.saltedDimJoin(e, a1, Seq("p"), col("c"), HitsSalt)
      .groupBy("c").agg(sum(dec(col("a1"))).as("h1"))
    val a2 = Relational.saltedDimJoin(e, h1, Seq("c"), col("p"), HitsSalt)
      .groupBy("p").agg(sum(col("h1")).as("a2"))
    val top = a2.join(a1, "p")
      .select(col("p").as("partkey"), col("a1"), col("a2").cast("long").as("a2"))
      .orderBy(col("a2").desc, col("partkey"))
      .limit(20)
    top.select(row_number().over(Window.orderBy(col("a2").desc, col("partkey")))
        .cast("long").as("rk"),
      col("partkey"), col("a1"), col("a2"))
  }

  val hitsRankSql: String = """
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    a1 AS (SELECT p, count(*) AS a1 FROM e GROUP BY 1),
    h1 AS (SELECT c, cast(sum(cast(a1 AS HUGEINT)) AS HUGEINT) AS h1
           FROM e JOIN a1 USING (p) GROUP BY 1),
    a2 AS (SELECT p, cast(sum(h1) AS HUGEINT) AS a2
           FROM e JOIN h1 USING (c) GROUP BY 1)
    SELECT cast(row_number() OVER (ORDER BY a2.a2 DESC, a2.p) AS BIGINT) AS rk,
      a2.p AS partkey, a1.a1, cast(a2.a2 AS BIGINT) AS a2
    FROM a2 JOIN a1 USING (p)
    ORDER BY rk LIMIT 20"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clustering_coeff"  -> (clusteringCoeff _),
    "hits_rank"         -> (hitsRank _),
    "freq_triples"      -> (freqTriples _),
    "link_predict"      -> (linkPredict _),
    "triangle_count"    -> (triangleCount _),
    "entity_resolve"    -> (entityResolve _),
    "scd2_build"        -> (scd2Build _),
    "ts_anomaly"        -> (tsAnomaly _),
    "vocab_encode"      -> (vocabEncode _),
    "source_similarity" -> (sourceSimilarity _),
    "zorder_skip"       -> (zorderSkip _))

  val oracle: Map[String, String] = Map(
    "clustering_coeff"  -> clusteringCoeffSql,
    "hits_rank"         -> hitsRankSql,
    "freq_triples"      -> freqTriplesSql,
    "link_predict"      -> linkPredictSql,
    "triangle_count"    -> triangleCountSql,
    "entity_resolve"    -> entityResolveSql,
    "scd2_build"        -> scd2BuildSql,
    "ts_anomaly"        -> tsAnomalySql,
    "vocab_encode"      -> vocabEncodeSql,
    "source_similarity" -> sourceSimilaritySql,
    "zorder_skip"       -> zorderSkipSql)
}
