package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational._
import graft.sources.Tables

/** The rest of the TPC-H decision-support suite, adapted to the driver's
  * schema (SURVEY.md §7.2.7 north star). The generated tables lack
  * `partsupp`, `l_commitdate`/`l_receiptdate`/`l_shipmode`, `p_container`
  * and `c_phone`, so the affected queries keep their SHAPE (the join
  * topology, the subquery pattern, the aggregation structure — what makes
  * each query a planner workout) with adapted predicates:
  *   - "late" = `l_shipdate > o_orderdate + 90 days` (no commit/receipt);
  *   - part-supplier bridge = `SELECT DISTINCT l_partkey, l_suppkey FROM
  *     lineitem` (no partsupp);
  *   - Q22's "no recent orders" = no 1-URGENT orders (every generated
  *     customer has orders);
  *   - supply cost proxy for Q9 profit = 0.6 × p_retailprice.
  *
  * Scale notes, uniform across the batch: `nation`/`region`/`supplier`
  * are broadcast (25 / 5 / SF×100 rows); scalar subqueries (total, max,
  * global avg) become one-row broadcast joins, never driver collects;
  * float measures go through the exact-decimal path ([[Relational.dec]])
  * so partial-agg order can't flip a comparison either engine makes; each
  * query's final sort orders an already-reduced result.
  */
object TpchQueries extends QueryModule {

  private def yr(c: org.apache.spark.sql.Column) = year(c).cast("long")

  /** TPC-H Q4: priority distribution of orders with at least one late
    * lineitem. The EXISTS is a left-semi join whose extra non-equi term
    * rides on the orderkey hash join; lineitem is pruned to two columns
    * at the scan.
    */
  def q4PriorityLate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.read(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** TPC-H Q7: shipping volume between nations of a 4-nation clique, by
    * directed pair and ship year (the classic two-nation filter is empty
    * at sf0.001 — only 10 suppliers exist there). Both nation lookups
    * broadcast; the only shuffles are the two fact joins (orderkey,
    * custkey) and the final tiny aggregation.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val ns = broadcast(Tables.read(spark, dir, "nation")
      .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation")))
    val nc = broadcast(Tables.read(spark, dir, "nation")
      .select(col("n_nationkey").as("nc_key"), col("n_name").as("cust_nation")))
    val s = broadcast(Tables.read(spark, dir, "supplier").select("s_suppkey", "s_nationkey"))
    val l = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), yr(col("l_shipdate")).as("l_year"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val o = Tables.read(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.read(spark, dir, "customer").select("c_custkey", "c_nationkey")
    l.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(ns, col("s_nationkey") === col("ns_key"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(nc, col("c_nationkey") === col("nc_key"))
      .filter(col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4") &&
        col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4") &&
        col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String = """
    SELECT supp_nation, cust_nation, l_year,
      cast(sum(rev) AS DOUBLE) AS revenue
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        year(l_shipdate) AS l_year,
        cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ns ON ns.n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation nc ON nc.n_nationkey = c_nationkey)
    WHERE supp_nation IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND cust_nation IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND supp_nation <> cust_nation
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year"""

  /** TPC-H Q8: NATION_12's market share of ASIA's PROMO-part revenue per
    * order year — the conditional-aggregation ratio pattern. Share =
    * decimal-exact conditional sum over decimal-exact total, divided in
    * double only at the end.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = broadcast(Tables.read(spark, dir, "nation")
      .join(broadcast(Tables.read(spark, dir, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("nc_key")))
    val ns = broadcast(Tables.read(spark, dir, "nation")
      .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation")))
    val s = broadcast(Tables.read(spark, dir, "supplier").select("s_suppkey", "s_nationkey"))
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_type") === "PROMO").select("p_partkey"))
    val l = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val o = Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), yr(col("o_orderdate")).as("o_year"))
    val c = Tables.read(spark, dir, "customer").select("c_custkey", "c_nationkey")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(ns, col("s_nationkey") === col("ns_key"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(asiaNations, col("c_nationkey") === col("nc_key"), "left_semi")
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === "NATION_12", col("rev"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double").as("nation_rev"),
        sum("rev").cast("double").as("total_rev"))
      .select(col("o_year"),
        (col("nation_rev") / col("total_rev")).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8Sql: String = """
    WITH base AS (
      SELECT year(o_orderdate) AS o_year, ns.n_name AS supp_nation,
        cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ns ON ns.n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      WHERE p_type = 'PROMO'
        AND c_nationkey IN (SELECT n_nationkey FROM nation
                            JOIN region ON r_regionkey = n_regionkey
                            WHERE r_name = 'ASIA'))
    SELECT o_year,
      cast(sum(CASE WHEN supp_nation = 'NATION_12' THEN rev
                    ELSE cast(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        / cast(sum(rev) AS DOUBLE) AS mkt_share
    FROM base
    GROUP BY o_year
    ORDER BY o_year"""

  /** TPC-H Q9: profit by supplier nation and ship year for parts whose
    * name matches, with supply cost proxied at 60% of retail price (no
    * partsupp table). part is filtered BEFORE its broadcast join, so the
    * name predicate prunes the probe side at the scan.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.read(spark, dir, "nation").select("n_nationkey", "n_name"))
    val s = broadcast(Tables.read(spark, dir, "supplier").select("s_suppkey", "s_nationkey"))
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_name").contains("red")).select("p_partkey", "p_retailprice"))
    val l = Tables.read(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), yr(col("l_shipdate")).as("l_year"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_year"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity")).as("amount"))
      .groupBy("n_name", "l_year")
      .agg(sum("amount").cast("double").as("sum_profit"))
      .orderBy(col("n_name"), col("l_year").desc)
  }

  val q9Sql: String = """
    SELECT n_name, l_year, cast(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name, year(l_shipdate) AS l_year,
        cast(l_extendedprice * (1.0 - l_discount)
             - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6)) AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%red%')
    GROUP BY n_name, l_year
    ORDER BY n_name, l_year DESC"""

  /** TPC-H Q11: parts whose shipped value (qty × retail price, no
    * partsupp) from NATION_3 suppliers exceeds 0.1% of the grand total.
    * The scalar subquery is a one-row broadcast join against the SAME
    * aggregated frame — value stays decimal-exact until the final
    * threshold comparison, so the fraction filter is order-stable.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val s = broadcast(Tables.read(spark, dir, "supplier").select("s_suppkey", "s_nationkey"))
    val n = broadcast(Tables.read(spark, dir, "nation")
      .filter(col("n_name") === "NATION_3").select("n_nationkey"))
    val p = broadcast(Tables.read(spark, dir, "part").select("p_partkey", "p_retailprice"))
    val values = Tables.read(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(dec(col("l_quantity") * col("p_retailprice"))).as("value_dec"))
    val total = values.agg(sum("value_dec").cast("double").as("total_value"))
    values.crossJoin(broadcast(total))
      .filter(col("value_dec").cast("double") > lit(0.001) * col("total_value"))
      .select(col("partkey"), col("value_dec").cast("double").as("value"))
      .orderBy(desc("value"), col("partkey"))
  }

  val q11Sql: String = """
    WITH v AS (
      SELECT l_partkey AS partkey,
        sum(cast(l_quantity * p_retailprice AS DECIMAL(18,6))) AS value_dec
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                          JOIN nation ON n_nationkey = s_nationkey
                          WHERE n_name = 'NATION_3')
      GROUP BY l_partkey)
    SELECT partkey, cast(value_dec AS DOUBLE) AS value
    FROM v
    WHERE cast(value_dec AS DOUBLE) >
          0.001 * (SELECT cast(sum(value_dec) AS DOUBLE) FROM v)
    ORDER BY value DESC, partkey"""

  /** TPC-H Q12: late-shipment accounting by line status (standing in
    * for the absent l_shipmode), split into high- vs low-priority
    * counts — the join-then-conditional-count shape. The ship-year
    * predicate is pushed to the lineitem scan; the lateness predicate
    * (cross-table) rides the orderkey join.
    */
  def q12LateLines(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.read(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_shipdate", "l_linestatus")
    val o = Tables.read(spark, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_linestatus")
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!isHigh, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  val q12Sql: String = """
    SELECT l_linestatus,
      cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus"""

  /** TPC-H Q13: distribution of per-customer order counts (excluding
    * 5-LOW orders) — the outer-join-then-histogram pattern. The orders
    * filter lands in the join, customers with nothing left count 0.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer").select("c_custkey")
    val o = Tables.read(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_custkey", "o_orderkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val q13Sql: String = """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  /** TPC-H Q14: share of March-1996 revenue from PROMO parts. One
    * pruned lineitem scan (the date predicate is pushed), one broadcast
    * part join, a single-row conditional-ratio aggregate.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part").select("p_partkey", "p_type"))
    Tables.read(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double").as("promo_rev"),
        sum("rev").cast("double").as("total_rev"))
      .select((lit(100.0) * col("promo_rev") / col("total_rev")).as("promo_pct"))
  }

  val q14Sql: String = """
    SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO' THEN rev
                                 ELSE cast(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / cast(sum(rev) AS DOUBLE) AS promo_pct
    FROM (
      SELECT p_type,
        cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01')"""

  /** TPC-H Q15: the supplier(s) with maximum 1996-Q1 revenue. The MAX
    * scalar subquery is a one-row broadcast rejoined to the per-supplier
    * aggregate — both sides of the equality are the same decimal-exact
    * double, so the match is deterministic.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.read(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val top = rev.agg(max("total_revenue").as("max_revenue"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.read(spark, dir, "supplier").select("s_suppkey", "s_name")),
        col("suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  val q15Sql: String = """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
        cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
          AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey"""

  /** TPC-H Q16: distinct-supplier counts per (brand, type, size) for the
    * size basket, excluding one brand. The part-supplier bridge is the
    * DISTINCT (partkey, suppkey) projection of lineitem (no partsupp
    * table) — the distinct and the count-distinct share the aggregation
    * shuffle; part is broadcast.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#45" &&
        col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size"))
    // semi-filter BEFORE the distinct: the dedup shuffle carries only the
    // selected parts' rows, not the whole fact table
    val bridge = Tables.read(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(p.select("p_partkey"), col("l_partkey") === col("p_partkey"), "left_semi")
      .distinct()
    bridge.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Sql: String = """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** TPC-H Q17: yearly revenue that would be lost by refusing
    * small-quantity orders of one brand. The correlated per-part average
    * is an aggregate of the SEMI-FILTERED lineitem (only the brand's
    * parts), rejoined on partkey — never a correlated rescan. Quantities
    * are integral, so the double average is exact and the 0.5× threshold
    * compares identically in both engines.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23").select("p_partkey"))
    val li = Tables.read(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
    val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((sum("l_quantity") / count(lit(1))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg((sumExact(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  val q17Sql: String = """
    WITH li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')),
    a AS (
      SELECT l_partkey AS ap_key, sum(l_quantity) / count(*) AS avg_qty
      FROM li GROUP BY l_partkey)
    SELECT cast(sum(cast(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
      AS avg_yearly
    FROM li JOIN a ON l_partkey = ap_key
    WHERE l_quantity < 0.5 * avg_qty"""

  /** TPC-H Q19: revenue under a disjunction of (brand, size-range,
    * quantity-range) baskets — the OR-of-ANDs predicate the planner must
    * keep out of the join condition and apply post-join (only the
    * partkey equality drives the broadcast hash join).
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part").select("p_partkey", "p_brand", "p_size"))
    Tables.read(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 40)))
      .agg(sum("rev").cast("double").as("revenue"), count(lit(1)).as("n"))
  }

  val q19Sql: String = """
    SELECT cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      AS revenue, count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)"""

  /** TPC-H Q20: NATION_3 suppliers who shipped more than 100 units of
    * PROMO parts during 1997 — aggregate-then-semi-join (the IN
    * subquery never materializes per-row). part and nation broadcast.
    * NATION_3 is the one nation with suppliers at every test SF.
    */
  def q20PromoShippers(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_type") === "PROMO").select("p_partkey"))
    val heavy = Tables.read(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey")
      .agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > 100)
    // no broadcast hint on supplier: the preserved side of a semi-join
    // is never its build side
    Tables.read(spark, dir, "supplier")
      .join(broadcast(Tables.read(spark, dir, "nation")).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  val q20Sql: String = """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100)
    ORDER BY s_suppkey"""

  /** TPC-H Q21: NATION_3 suppliers who were the ONLY late supplier on a
    * finished multi-supplier order ("late" = shipped >90 days after the
    * order date). The EXISTS / NOT EXISTS pair is evaluated as per-order
    * COUNTS instead of inequality-riding self-joins: "another supplier
    * exists" ⟺ the order's distinct-supplier count ≥ 2, "no other late
    * supplier" ⟺ the order's late-supplier count = 1. Both counts are
    * map-side-combined aggregations keyed on orderkey — at 100 TB that
    * ships two small per-order frames instead of re-shuffling the whole
    * (order, supplier) projection twice through semi/anti probes.
    */
  def q21LateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val late = Tables.read(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("l_orderkey", "l_suppkey").distinct()
    val nSupp = Tables.read(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey").distinct()
      .groupBy(col("l_orderkey").as("ns_order"))
      .agg(count(lit(1)).as("n_supp"))
      .filter(col("n_supp") >= 2)
    val nLate = late.groupBy(col("l_orderkey").as("nl_order"))
      .agg(count(lit(1)).as("n_late"))
      .filter(col("n_late") === 1)
    val s = broadcast(Tables.read(spark, dir, "supplier")
      .join(broadcast(Tables.read(spark, dir, "nation")).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select("s_suppkey", "s_name"))
    late
      .join(nSupp, col("l_orderkey") === col("ns_order"), "left_semi")
      .join(nLate, col("l_orderkey") === col("nl_order"), "left_semi")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(20)
  }

  val q21Sql: String = """
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
    pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
      AND EXISTS (SELECT 1 FROM pairs l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20"""

  /** TPC-H Q22: per-nation count and balance of above-average-balance
    * customers who never placed an URGENT order (adapted: the generator
    * gives every customer orders, and there is no phone column). The
    * global average is a one-row broadcast; the NOT EXISTS is an anti
    * join on custkey.
    */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((sumExact(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val urgent = Tables.read(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val n = broadcast(Tables.read(spark, dir, "nation").select("n_nationkey", "n_name"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"), sumExact(col("c_acctbal")).as("totacctbal"))
      .orderBy("n_name")
  }

  val q22Sql: String = """
    SELECT n_name, count(*) AS numcust,
      cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                              / count(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    ORDER BY n_name"""

  /** TPC-H Q2: for each STANDARD size-15 part, the EUROPE supplier with
    * the lowest account balance among those who actually shipped it (the
    * lineitem bridge stands in for partsupp). The per-part argmin is a
    * keyed window over the already-filtered bridge — no self-join.
    */
  def q2MinAcctSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.read(spark, dir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select("p_partkey", "p_name"))
    val s = broadcast(Tables.read(spark, dir, "supplier")
      .join(broadcast(Tables.read(spark, dir, "nation")
          .join(broadcast(Tables.read(spark, dir, "region")).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    // semi-filter BEFORE the distinct — same reasoning as Q16: the dedup
    // shuffle sees only lineitems of the ~selectivity-filtered parts
    val bridge = Tables.read(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(p.select("p_partkey"), col("l_partkey") === col("p_partkey"), "left_semi")
      .distinct()
    val w = Window.partitionBy("p_partkey").orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
    bridge.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
      .orderBy("p_partkey")
  }

  val q2Sql: String = """
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
        row_number() OVER (PARTITION BY p_partkey
                           ORDER BY s_acctbal, s_suppkey) AS rk
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
    WHERE rk = 1
    ORDER BY p_partkey"""

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_acct_supplier" -> (q2MinAcctSupplier _),
    "q4_priority_late"     -> (q4PriorityLate _),
    "q7_volume_shipping"   -> (q7VolumeShipping _),
    "q8_market_share"      -> (q8MarketShare _),
    "q9_product_profit"    -> (q9ProductProfit _),
    "q11_important_parts"  -> (q11ImportantParts _),
    "q12_late_lines"       -> (q12LateLines _),
    "q13_custdist"         -> (q13CustDist _),
    "q14_promo_revenue"    -> (q14PromoRevenue _),
    "q15_top_supplier"     -> (q15TopSupplier _),
    "q16_supplier_cnt"     -> (q16SupplierCnt _),
    "q17_small_qty"        -> (q17SmallQty _),
    "q19_disjunctive"      -> (q19Disjunctive _),
    "q20_promo_shippers"   -> (q20PromoShippers _),
    "q21_late_suppliers"   -> (q21LateSuppliers _),
    "q22_global_sales"     -> (q22GlobalSales _))

  val oracle: Map[String, String] = Map(
    "q2_min_acct_supplier" -> q2Sql,
    "q4_priority_late"     -> q4Sql,
    "q7_volume_shipping"   -> q7Sql,
    "q8_market_share"      -> q8Sql,
    "q9_product_profit"    -> q9Sql,
    "q11_important_parts"  -> q11Sql,
    "q12_late_lines"       -> q12Sql,
    "q13_custdist"         -> q13Sql,
    "q14_promo_revenue"    -> q14Sql,
    "q15_top_supplier"     -> q15Sql,
    "q16_supplier_cnt"     -> q16Sql,
    "q17_small_qty"        -> q17Sql,
    "q19_disjunctive"      -> q19Sql,
    "q20_promo_shippers"   -> q20Sql,
    "q21_late_suppliers"   -> q21Sql,
    "q22_global_sales"     -> q22Sql)
}
