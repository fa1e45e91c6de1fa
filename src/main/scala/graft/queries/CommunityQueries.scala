package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Materialize, Relational}
import graft.sources.Tables

/** Community/mixture operators: synchronous label propagation over the
  * co-purchase graph, temperature-scaled source mixture weights,
  * cross-source quantile normalization, and interleaved curriculum
  * ordering — the "how do I weight, calibrate, and order what I kept"
  * stage of a corpus pipeline.
  */
object CommunityQueries extends QueryModule {

  // ----------------------------------------------- label propagation

  /** Fixed iteration count — both engines replay the identical rounds
    * (convergence-stopped LPA would need a driver loop on both sides).
    */
  val LpIters = 3

  /** Synchronous label propagation (community detection) on the BULK
    * part co-purchase graph ([[Graph]]): seed label = node id; each
    * round every node adopts its neighbors' MODE label, smallest label
    * on ties — fully deterministic, so the final labeling is
    * oracle-checkable (the oracle unrolls the same rounds as CTEs).
    *
    * Scale shape: the mirrored edge frame materializes once; each round
    * is one join keyed by dst + one (node, label) aggregation + a
    * per-node window — all hash-partitioned by node, nothing global, no
    * driver state. The standard distributed LPA step.
    */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropOn(Graph.bulk(Tables.read(spark, dir, "lineitem")))

  /** [[labelProp]] core over an (l_orderkey, l_partkey) co-purchase
    * frame — factored so `GraphSkewSpec` can plant a power-law hub.
    *
    * @param salts hub fan-out for the per-round adoption join, same
    *   contract as `CorpusQueries.pagerankOn`: 1 (default) joins on
    *   plain `dst` (label side auto-broadcastable — optimal while the
    *   node set fits the threshold); > 1 routes the join through
    *   [[Relational.saltedDimJoin]], salting edges by hash(src) and
    *   replicating the label side, which splits a hub DST across
    *   `salts` reducers in the SMJ regime. Results are salt-invariant.
    */
  def labelPropOn(li: DataFrame, salts: Int = 1): DataFrame =
    propagate(Materialize(Graph.mirrored(Graph.oriented(li))), salts)

  /** The [[LpIters]] rounds over a materialized mirrored edge frame —
    * [[modularity]] hands in the mirror of its own oriented build.
    */
  private def propagate(edges: DataFrame, salts: Int = 1): DataFrame = {
    var lbl = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    val w = Window.partitionBy("node").orderBy(col("c").desc, col("lab"))
    for (_ <- 1 to LpIters) {
      lbl = Relational.saltedDimJoin(edges,
          lbl.select(col("node").as("dst"), col("lab")), Seq("dst"), col("src"), salts)
        .groupBy(col("src").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "lab")
    }
    lbl.orderBy("node")
  }

  /** Shared unrolled-LPA CTE chain ([[Graph.edgeCtes]], `l0` …
    * `l{LpIters}`) — the oracle prefix for [[labelProp]] AND the
    * community input of [[modularity]].
    */
  private val lpCtes: String = {
    val base = s"""${Graph.edgeCtes(bulk = true)},
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e)"""
    val iters = (1 to LpIters).map { k =>
      s"""
    c$k AS (
      SELECT e.src AS node, l.lab, count(*) AS c
      FROM e JOIN l${k - 1} l ON e.dst = l.node
      GROUP BY 1, 2),
    l$k AS (
      SELECT node, lab FROM (
        SELECT node, lab,
          row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM c$k) WHERE rn = 1)"""
    }.mkString(",")
    s"$base,$iters"
  }

  val labelPropSql: String =
    s"$lpCtes\n    SELECT node, lab FROM l$LpIters ORDER BY node"

  // ------------------------------------------------- mixture weights

  /** Sampling temperature and token budget for the mixture. */
  val MixAlpha = 0.3
  val MixBudget = 100000L

  /** Temperature-scaled multinomial mixture weights per source:
    * w_i = n_i^α / Σ_j n_j^α (α < 1 upsamples small sources — the
    * multilingual-pretraining recipe), plus the per-source duplication
    * factor a budget of [[MixBudget]] docs implies (epochs > 1 on
    * small sources = repeated data; the signal this report exists to
    * surface). The Σ spans one double per SOURCE (a handful), and both
    * final ratios are rounded to 6.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.read(spark, dir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("p", pow(col("n_docs").cast("double"), lit(MixAlpha)))
    val tot = cnt.agg(sum("p").as("tot"))
    cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("p") / col("tot"), 6).as("weight"),
        round(lit(MixBudget) * (col("p") / col("tot")) / col("n_docs"), 6)
          .as("epochs"))
      .orderBy("source")
  }

  val mixWeightsSql: String = s"""
    WITH cnt AS (
      SELECT source, count(*) AS n_docs,
        pow(CAST(count(*) AS DOUBLE), $MixAlpha) AS p
      FROM documents GROUP BY 1),
    tot AS (SELECT sum(p) AS tot FROM cnt)
    SELECT source, n_docs,
      round(p / tot, 6) AS weight,
      round($MixBudget * (p / tot) / n_docs, 6) AS epochs
    FROM cnt CROSS JOIN tot ORDER BY source"""

  // --------------------------------------------- quantile normalization

  /** Cross-source quantile normalization of a per-doc score (n_chars):
    * each document's within-source rank maps to the GLOBAL score at the
    * same quantile position — the rank-based calibration that makes
    * heterogeneous quality scores comparable before a global filter.
    *
    * Exactness: the quantile index is one agreed double expression
    * floored to an integer (idx = ⌊(r−0.5)/m·N⌋+1, clamped), and the
    * value lookup is INTEGER interval containment — no interpolated
    * doubles reach the output. Scale shape: per-doc work is two
    * hash-partitioned windows (by source) and a broadcast range join
    * against the value-frequency table, which is |distinct score|-sized
    * (its running-total window runs over that small frame, never over
    * data).
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    val ranked = d
      .withColumn("r", row_number().over(ws).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("source")))
    val vals = d.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      .withColumn("hi", sum("cnt").over(
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lo", col("hi") - col("cnt") + 1)
      .select(col("n_chars").as("gval"), col("lo"), col("hi"))
    val n = d.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(n))
      .withColumn("idx", least(greatest(
        (floor((col("r") - lit(0.5)) / col("m") * col("n_total")) + lit(1)).cast("long"),
        lit(1L)), col("n_total")))
      .join(broadcast(vals), col("idx") >= col("lo") && col("idx") <= col("hi"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("gval").as("norm"))
      .orderBy("doc_id")
  }

  val quantileNormSql: String = """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
        cast(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        count(*) OVER (PARTITION BY source) AS m
      FROM documents),
    vals AS (
      SELECT n_chars AS gval, cnt,
        sum(cnt) OVER (ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1)),
    v2 AS (SELECT gval, hi - cnt + 1 AS lo, hi FROM vals),
    n AS (SELECT count(*) AS n_total FROM documents),
    idxed AS (
      SELECT doc_id, source, n_chars,
        least(greatest(cast(floor((r - 0.5) / m * n_total) + 1 AS BIGINT), 1),
              n_total) AS idx
      FROM ranked CROSS JOIN n)
    SELECT i.doc_id, i.source, i.n_chars, v.gval AS norm
    FROM idxed i JOIN v2 v ON i.idx >= v.lo AND i.idx <= v.hi
    ORDER BY i.doc_id"""

  // ------------------------------------------------ curriculum order

  /** Difficulty-bucket width (chars) and cap for the curriculum. */
  val CurrWidth = 100L
  val CurrBuckets = 5L

  /** Interleaved curriculum ordering: documents fall into difficulty
    * buckets (length as the proxy), are shuffled WITHIN each bucket by
    * a deterministic hash, and the final training order round-robins
    * the buckets (order by (within-bucket rank, bucket)) — every
    * training window sees the full difficulty mix, reproducibly on any
    * engine/cluster. Per-bucket windows are hash-partitioned; the
    * output sort is the query's result contract, not a processing
    * stage.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val b = least(col("n_chars") / lit(CurrWidth), lit(CurrBuckets - 1)).cast("long")
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    val wb = Window.partitionBy("bucket").orderBy("h", "doc_id")
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), b.as("bucket"), h.as("h"))
      .withColumn("rk", row_number().over(wb).cast("long"))
      .select("doc_id", "bucket", "rk")
      .orderBy("rk", "bucket")
  }

  val curriculumOrderSql: String = s"""
    WITH b AS (
      SELECT doc_id,
        least(n_chars // $CurrWidth, ${CurrBuckets - 1}) AS bucket,
        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents)
    SELECT doc_id, bucket,
      cast(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS BIGINT) AS rk
    FROM b
    ORDER BY rk, bucket"""

  // ------------------------------------------------------------ k-core

  val KcoreK = 3
  val KcoreRounds = 4

  /** k-core decomposition by fixed-round peeling (the `label_prop`
    * iteration shape applied to degree pruning): each round drops every
    * node whose degree within the SURVIVING subgraph is < k; after
    * [[KcoreRounds]] rounds the remaining nodes approximate the k-core
    * (exact once a round removes nobody — this corpus shrinks
    * 1494→533→241→112→74 over 4 rounds at sf0.01, still peeling, which
    * the fixed-round contract documents just like LPA's 3 rounds).
    * Output: surviving nodes with their in-subgraph degree — the
    * "dense cohesion" filter collaborative-filtering and fraud
    * pipelines run on co-purchase graphs.
    *
    * Scale shape: the mirrored edge frame materializes ONCE; each round
    * is two semi-joins (src/dst membership) + one degree aggregation,
    * all keyed — active sets only shrink, so per-round cost is
    * monotone non-increasing. A round's active set is released once the
    * next one has materialized, so the call leaves two frames pinned
    * (the edges and the last active set, both read by the result).
    */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val edges = Materialize(Graph.mirrored(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")))))
    def degreeIn(active: DataFrame): DataFrame = edges
      .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    var active = edges.select(col("src").as("node")).distinct()
    for (_ <- 1 to KcoreRounds) {
      val release = Materialize.releaseHandle(active)
      active = Materialize(degreeIn(active)
        .filter(col("deg") >= KcoreK).select("node"))
      release()
    }
    degreeIn(active).orderBy("node")
  }

  val kCoreSql: String = {
    val base = s"""${Graph.edgeCtes(bulk = true)},
    a0 AS (SELECT DISTINCT src AS node FROM e)"""
    val iters = (1 to KcoreRounds).map { r =>
      s"""
    d$r AS (
      SELECT e.src AS node, count(*) AS c
      FROM e JOIN a${r - 1} s ON e.src = s.node
             JOIN a${r - 1} t ON e.dst = t.node
      GROUP BY 1),
    a$r AS (SELECT node FROM d$r WHERE c >= $KcoreK)"""
    }.mkString(",")
    s"""$base,$iters
    SELECT e.src AS node, count(*) AS deg
    FROM e JOIN a$KcoreRounds s ON e.src = s.node
           JOIN a$KcoreRounds t ON e.dst = t.node
    GROUP BY 1 ORDER BY 1"""
  }

  // ------------------------------------------------------------- BFS

  /** Fixed BFS depth — both engines replay identical frontier rounds
    * (the k_core/label_prop unrolled-iteration contract). */
  val BfsRounds = 4

  /** Breadth-first hop distances from a deterministic seed (the minimum
    * node id) on the BULK co-purchase graph — the reachability/radius
    * primitive the graph family lacked: "how much of the catalog is
    * within k co-purchase hops of this product". Each round is ONE
    * semi-join (frontier ⋈ edges), one distinct, one anti-join against
    * the settled set — all hash-partitioned by node, no driver state;
    * the settled frame materializes per round so the 4-round lineage
    * stays linear, and the superseded one is released. The result reads
    * only the last settled frame, so the edges are released too and the
    * call leaves one frame pinned. Unvisited nodes are simply absent (no
    * infinity sentinel to disagree on).
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val edges = Materialize(Graph.mirrored(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")))))
    var dist = Materialize(
      edges.agg(min("src").as("node")).withColumn("d", lit(0L)))
    for (r <- 1 to BfsRounds) {
      val frontier = edges
        .join(dist.filter(col("d") === lit((r - 1).toLong))
          .select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("d", lit(r.toLong))
      val release = Materialize.releaseHandle(dist)
      dist = Materialize(dist.union(frontier))
      release()
    }
    Materialize.releaseHandle(edges)()
    dist.orderBy("node")
  }

  val bfsHopsSql: String = {
    val base = s"""${Graph.edgeCtes(bulk = true)},
    d0 AS (SELECT min(src) AS node, 0 AS d FROM e)"""
    val iters = (1 to BfsRounds).map { r =>
      s"""
    f$r AS (
      SELECT DISTINCT e.dst AS node
      FROM e JOIN d${r - 1} p ON e.src = p.node AND p.d = ${r - 1}
      WHERE e.dst NOT IN (SELECT node FROM d${r - 1})),
    d$r AS (SELECT node, d FROM d${r - 1}
            UNION ALL SELECT node, $r FROM f$r)"""
    }.mkString(",")
    s"""$base,$iters
    SELECT node, cast(d AS BIGINT) AS d FROM d$BfsRounds ORDER BY node"""
  }

  // ---------------------------------------------------- graph structure

  /** Newman modularity of the [[labelProp]] communities, decomposed per
    * community: Q_c = e_c/m − (d_c/2m)² with e_c = intra-community
    * edges, d_c = community degree sum, m = undirected edge count. The
    * single number Σ Q_c is THE health check on a community detection
    * run (LPA collapsing to one giant label shows up instantly as
    * Q ≈ 0); the per-community rows localize which communities carry
    * the structure.
    *
    * All inputs are exact integers; the d_c² and 4m·e_c products run in
    * DECIMAL(38,0)/HUGEINT (d_c ~ 2m crosses 2⁶³ squared at ~10⁹
    * edges), and the one division per row is an agreed double
    * expression. Scale shape: two keyed joins of the edge frame against
    * the labeling (hash-partitioned by node), one aggregation each —
    * nothing global but the 1-row m frame.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // the label rounds reuse this oriented build: one edge-build scan
    // instead of two (at corpus scale the build dominates the rounds)
    val oriented = Materialize(Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem"))))
    val edges = Graph.mirrored(oriented)
    val lbl = Materialize(propagate(Materialize(edges)))
    val m = oriented.agg(count(lit(1)).as("m"))
    val dsum = Graph.degree(edges)
      .join(lbl, "node")
      .groupBy("lab").agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
    val ein = oriented
      .join(lbl.select(col("node").as("src"), col("lab").as("lab_s")), "src")
      .join(lbl.select(col("node").as("dst"), col("lab").as("lab_d")), "dst")
      .filter(col("lab_s") === col("lab_d"))
      .groupBy(col("lab_s").as("lab")).agg(count(lit(1)).as("e_in"))
    dsum.join(ein, Seq("lab"), "left")
      .select(col("lab"), col("n_nodes"), coalesce(col("e_in"), lit(0L)).as("e_in"),
        col("d_sum"))
      .crossJoin(broadcast(m))
      .select(col("lab"), col("n_nodes"), col("e_in"), col("d_sum"),
        // + 0.0 canonicalizes IEEE −0.0 (a rounded tiny negative) to +0.0
        (round((dec(lit(4)) * dec(col("m")) * dec(col("e_in"))
          - dec(col("d_sum")) * dec(col("d_sum"))).cast("double")
          / (dec(lit(4)) * dec(col("m")) * dec(col("m"))).cast("double"), 6)
          + lit(0.0)).as("q_part"))
      .orderBy("lab")
  }

  val modularitySql: String = s"""$lpCtes,
    m AS (SELECT count(*) AS m FROM und),
    ds AS (
      SELECT lab, count(*) AS n_nodes, cast(sum(deg) AS BIGINT) AS d_sum
      FROM deg JOIN l$LpIters USING (node) GROUP BY 1),
    ein AS (
      SELECT ls.lab, count(*) AS e_in
      FROM und JOIN l$LpIters ls ON und.src = ls.node
               JOIN l$LpIters ld ON und.dst = ld.node AND ls.lab = ld.lab
      GROUP BY 1)
    SELECT ds.lab, ds.n_nodes, coalesce(ein.e_in, 0) AS e_in, ds.d_sum,
      round(cast(cast(4 AS HUGEINT) * m.m * coalesce(ein.e_in, 0)
          - cast(ds.d_sum AS HUGEINT) * ds.d_sum AS DOUBLE)
        / cast(cast(4 AS HUGEINT) * m.m * m.m AS DOUBLE), 6) + 0.0 AS q_part
    FROM ds LEFT JOIN ein USING (lab) CROSS JOIN m
    ORDER BY ds.lab"""

  /** Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over the mirrored edge list — THE
    * one-number "hubs link to hubs (r > 0) or hubs link to leaves
    * (r < 0)" diagnostic, and the quantity that decides whether the
    * hub-salting defenses matter (disassortative graphs concentrate
    * edge mass on hub⋈leaf joins). Every moment accumulates exactly in
    * DECIMAL(38,0)/HUGEINT (Σxy ~ m·deg² crosses 2⁶³ on power-law
    * graphs); r is one agreed double expression over the exact sums.
    * Scale shape: one degree aggregation, two keyed joins to decorate
    * endpoints, one combinable moment aggregation — no global sort, no
    * driver state.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val edges = Materialize(Graph.mirrored(
      Graph.oriented(Graph.bulk(Tables.read(spark, dir, "lineitem")))))
    val deg = Graph.degree(edges)
    val pairs = edges
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val s = pairs.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    // degenerate guard (the chi2_assoc dof-0 pattern): on a degree-
    // regular graph both variance terms are exactly 0 and r is 0/0 —
    // NaN in Spark but engine-dependent elsewhere; emit NULL, decided
    // on the EXACT decimal sums so the guard can't misfire on rounding
    s.select(col("n").as("n_edges"),
      when(dec(col("n")) * col("sxx") =!= col("sx") * col("sx") &&
           dec(col("n")) * col("syy") =!= col("sy") * col("sy"),
        round((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
            * (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")), 6))
        .as("r"))
  }

  val assortativitySql: String = s"""${Graph.edgeCtes(bulk = true)},
    p AS (
      SELECT dx.deg AS x, dy.deg AS y
      FROM e JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node),
    s AS (
      SELECT count(*) AS n,
        cast(sum(cast(x AS HUGEINT)) AS HUGEINT) AS sx,
        cast(sum(cast(y AS HUGEINT)) AS HUGEINT) AS sy,
        cast(sum(cast(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        cast(sum(cast(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        cast(sum(cast(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM p)
    SELECT n AS n_edges,
      CASE WHEN cast(n AS HUGEINT) * sxx <> sx * sx
            AND cast(n AS HUGEINT) * syy <> sy * sy
           THEN round(cast(cast(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
             / sqrt(cast(cast(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
               * cast(cast(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6)
           END AS r
    FROM s"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "modularity"       -> (modularity _),
    "assortativity"    -> (assortativity _),
    "bfs_hops"         -> (bfsHops _),
    "k_core"           -> (kCore _),
    "label_prop"       -> (labelProp _),
    "mix_weights"      -> (mixWeights _),
    "quantile_norm"    -> (quantileNorm _),
    "curriculum_order" -> (curriculumOrder _))

  val oracle: Map[String, String] = Map(
    "modularity"       -> modularitySql,
    "assortativity"    -> assortativitySql,
    "bfs_hops"         -> bfsHopsSql,
    "k_core"           -> kCoreSql,
    "label_prop"       -> labelPropSql,
    "mix_weights"      -> mixWeightsSql,
    "quantile_norm"    -> quantileNormSql,
    "curriculum_order" -> curriculumOrderSql)
}
