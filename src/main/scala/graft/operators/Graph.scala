package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The part co-purchase graph: parts are nodes, and two parts are linked
  * when they share an order. `pagerank`, `label_prop`, `modularity`,
  * `assortativity`, `k_core`, `bfs_hops`, `triangle_count`,
  * `link_predict` and `clustering_coeff` all run on it; this object is
  * its one definition on both engines.
  *
  * Spark side: every function is lazy, so each query keeps its own
  * `Materialize` points. The edge build is NOT a self-join: each
  * order's (distinct) parts are grouped and the pairs expand
  * ROW-LOCALLY through two codegen'd explodes (nested transform/filter
  * HOFs are CodegenFallback, interpreted per element) — one aggregation
  * exchange instead of reshuffling both join sides by orderkey, bounded
  * by the per-order part count. collect_set absorbs the (order, part)
  * dedup a self-join would need a separate distinct() for. The distinct
  * runs on ORIENTED pairs (src < dst), so its shuffle carries half the
  * pairs; the mirror is map-side.
  *
  * SQL side: [[edgeCtes]] is the oracles' edge list and degree frame,
  * [[triangleCtes]] the degree-ordered triangle enumeration.
  */
object Graph {

  /** A line at or above this quantity is a bulk purchase: every graph
    * query but pagerank runs on the bulk subgraph. The filter is the
    * family's selectivity knob, not a dodge: co-occurrence graphs
    * densify quadratically with basket size, and thresholding to the
    * analytically interesting subgraph is what a deployment at scale
    * does before an all-pairs pass.
    */
  val BulkQuantity = 45

  /** The bulk lines of an (l_orderkey, l_partkey, l_quantity) frame. */
  def bulk(li: DataFrame): DataFrame = li.filter(col("l_quantity") >= BulkQuantity)

  /** Oriented edge frame (`src` < `dst`, distinct) of an
    * (l_orderkey, l_partkey) frame; the column names are the caller's
    * (the triangle family names its endpoints `a`, `b`).
    */
  def oriented(li: DataFrame, src: String = "src", dst: String = "dst"): DataFrame =
    li.groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as(src))
      .select(col(src), explode(col("ps")).as(dst))
      .filter(col(src) < col(dst))
      .distinct()

  /** Both directions of an oriented (src, dst) frame: the symmetric
    * edge list, mirrored row-locally. */
  def mirrored(oriented: DataFrame): DataFrame =
    oriented.union(oriented.select(col("dst"), col("src")))

  /** (node, deg) of a [[mirrored]] edge list. */
  def degree(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** (n, d) of an oriented (a, b) frame: both endpoints row-locally,
    * one aggregation. */
  def endpointDegree(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** Degree-ordered orientation (u, v) of an oriented (a, b) frame with
    * its [[endpointDegree]]: each edge points from its lower-(degree,
    * id) endpoint to the higher one. The result is acyclic with
    * out-degrees bounded by O(√m) on skewed graphs — the standard
    * distributed-triangle trick (wedge fan-out is bounded by
    * out-degree, so one hub node cannot go quadratic).
    */
  def degreeOrdered(und: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
  }

  /** Wedges u→v→w of a [[degreeOrdered]] frame. */
  def wedges(dag: DataFrame): DataFrame =
    dag.join(dag.select(col("u").as("v2"), col("v").as("w")), col("v") === col("v2"))
      .select(col("u"), col("v"), col("w"))

  /** The wedges closed by an edge u→w: each triangle exactly once. */
  def triangles(wedges: DataFrame, dag: DataFrame): DataFrame =
    wedges.join(dag.select(col("u").as("u3"), col("v").as("w3")),
      col("u") === col("u3") && col("w") === col("w3"))

  /** Oracle CTEs `li` (the distinct order–part lines, bulk only when
    * `bulk`), `und` (oriented src < dst edges), `e` (`und` and its
    * mirror) and `deg` (node, deg over `e`), opening a WITH clause.
    * `und` is MATERIALIZED: DuckDB otherwise inlines it into every
    * reference of `e`, and the unrolled iteration chains reference `e`
    * once per round (bfs_hops at sf0.1: 6.3 s inlined, 0.14 s
    * materialized).
    */
  def edgeCtes(bulk: Boolean): String = {
    val where = if (bulk) s"\n                WHERE l_quantity >= $BulkQuantity" else ""
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem$where),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
    deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1)"""
  }

  /** Oracle CTEs after [[edgeCtes]]: `o` (the [[degreeOrdered]]
    * orientation), `w` ([[wedges]]) and `t` (n_triangles).
    */
  val triangleCtes: String = {
    val aFirst = "da.deg < db.deg OR (da.deg = db.deg AND src < dst)"
    s"""
    o AS (
      SELECT CASE WHEN $aFirst THEN src ELSE dst END AS u,
             CASE WHEN $aFirst THEN dst ELSE src END AS v
      FROM und JOIN deg da ON und.src = da.node JOIN deg db ON und.dst = db.node),
    w AS (SELECT e1.u, e1.v, e2.v AS w FROM o e1 JOIN o e2 ON e1.v = e2.u),
    t AS (SELECT count(*) AS n_triangles FROM w JOIN o ON w.u = o.u AND w.w = o.v)"""
  }
}
