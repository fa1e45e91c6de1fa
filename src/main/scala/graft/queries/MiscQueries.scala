package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational._
import graft.sources.Tables

/** Remaining SURVEY.md §2 surface: preview operators (W2/W3), counts
  * (A1), set-union roster merge, hierarchical rollup, approximate
  * distinct, and calendar bucketing.
  */
object MiscQueries extends QueryModule {

  /** W2 — head-N preview, first 8 columns, deterministic order. The
    * reference caps at 50 rows × 8 cols (`app.py:766-784`); LIMIT over an
    * ordered scan is a TakeOrderedAndProject — no full sort at scale.
    */
  def previewHead(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer")
    c.select(c.columns.take(8).map(col): _*).orderBy("c_custkey").limit(50)
  }

  val previewHeadSql: String = """
    SELECT * FROM customer ORDER BY c_custkey LIMIT 50"""

  /** W3 — first-row peek (email-preview pattern, `app.py:890`). */
  def peekFirst(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer").orderBy("c_custkey").limit(1)

  val peekFirstSql: String = """
    SELECT * FROM customer ORDER BY c_custkey LIMIT 1"""

  /** A1 — table counts (the reference's row/column accounting,
    * `app.py:779-784`), one row per table.
    */
  def tableCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = Seq("customer", "orders", "lineitem").map { t =>
      // global agg (no groupBy): an empty table still yields its 0 row,
      // matching the oracle's aggregate-without-GROUP-BY
      Tables.read(spark, dir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("tbl"), col("n_rows"))
    }
    counts.reduce(_ unionByName _).orderBy("tbl")
  }

  val tableCountsSql: String = """
    SELECT 'customer' AS tbl, count(*) AS n_rows FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    ORDER BY tbl"""

  /** Set union with dedup (roster-merge pattern): BUILDING customers ∪
    * customers with urgent orders.
    */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val urgent = Tables.read(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    building.union(urgent).distinct().orderBy("custkey")
  }

  val setUnionSql: String = """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY custkey"""

  /** ROLLUP hierarchy: status → priority subtotals + grand total.
    * NULL group markers sort first in both engines via the flag columns.
    */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_total"))
      .orderBy(
        col("o_orderstatus").isNull.cast("int"), col("o_orderstatus"),
        col("o_orderpriority").isNull.cast("int"), col("o_orderpriority"))

  val aggRollupSql: String = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY (o_orderstatus IS NULL), o_orderstatus,
             (o_orderpriority IS NULL), o_orderpriority"""

  /** HLL approximate distinct, TOLERANCE-oracled: engines' sketches
    * differ by design, so instead of hashing the estimate itself the
    * query emits the exact count (cross-engine checkable) plus a 0/1 flag
    * asserting the HLL estimate landed within 5% of it. The sketch runs
    * at rsd 0.01 so the 5% gate sits 5 sigma out (the default rsd 0.05
    * is ONE sigma — it measurably tripped the gate at sf0.01). The
    * oracle recomputes the exact count and expects the
    * flag to be 1 — so a drifting sketch flips the flag and FAILS the
    * hash compare, upgrading this from the driver's rows-only check to a
    * real oracle row. Emitted as BIGINT, not BOOLEAN: both engines render
    * integers identically through the driver's pandas normalization.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        approx_count_distinct(col("o_custkey"), 0.01).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .select(col("o_orderstatus"), col("exact_customers"),
        (abs(col("approx_customers") - col("exact_customers")).cast("double")
          <= col("exact_customers").cast("double") * 0.05).cast("long").as("within_5pct"))
      .orderBy("o_orderstatus")

  val approxDistinctSql: String = """
    SELECT o_orderstatus,
      count(DISTINCT o_custkey) AS exact_customers,
      cast(1 AS BIGINT) AS within_5pct
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus"""

  /** Calendar bucketing: orders per ISO weekday × month (date functions
    * over the ms-precision order dates).
    */
  def ordersCalendar(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy(
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_total"))
      .orderBy("mon", "dow")

  /** Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday. */
  val ordersCalendarSql: String = """
    SELECT cast(month(o_orderdate) AS BIGINT) AS mon,
           cast(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           count(*) AS n_orders,
           cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY 1, 2
    ORDER BY mon, dow"""

  /** The typed-Aggregator surface, oracle-checked: quantity-weighted
    * mean price per return flag through [[graft.functions.WeightedMean]].
    * The UDAF's integer-scaled exact buffer (products rounded HALF_UP at
    * 6dp, summed in micros, divided as doubles) is reproduced verbatim
    * in decimal SQL — ×1e6 BEFORE the double casts so both sides round
    * at the same point. Pre-multiply vs post-multiply rounding coincide
    * because the corpus values' shortest reprs fit 6dp (checked).
    */
  def weightedMeanQ(spark: SparkSession, dir: String): DataFrame = {
    val wm = udaf(graft.functions.WeightedMean)
    Tables.read(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(wm(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val weightedMeanSql: String = """
    SELECT l_returnflag,
      cast(sum(round(cast(l_extendedprice AS DECIMAL(19,6)) * cast(l_quantity AS DECIMAL(19,6)), 6)) * 1000000 AS DOUBLE)
      / cast(sum(round(cast(l_quantity AS DECIMAL(19,6)), 6)) * 1000000 AS DOUBLE) AS wavg_price,
      count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "weighted_mean" -> (weightedMeanQ _),
    "preview_head"    -> (previewHead _),
    "peek_first"      -> (peekFirst _),
    "table_counts"    -> (tableCounts _),
    "set_union"       -> (setUnion _),
    "agg_rollup"      -> (aggRollup _),
    "approx_distinct" -> (approxDistinct _),
    "orders_calendar" -> (ordersCalendar _))

  val oracle: Map[String, String] = Map(
    "weighted_mean" -> weightedMeanSql,
    "preview_head"    -> previewHeadSql,
    "peek_first"      -> peekFirstSql,
    "table_counts"    -> tableCountsSql,
    "set_union"       -> setUnionSql,
    "agg_rollup"      -> aggRollupSql,
    "approx_distinct" -> approxDistinctSql,
    "orders_calendar" -> ordersCalendarSql)
}
