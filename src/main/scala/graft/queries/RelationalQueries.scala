package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational._
import graft.sources.Tables

/** Second relational batch: outer joins, CUBE, INTERSECT, ordered string
  * aggregation, sliding-frame averages, and lead/lag deltas.
  */
object RelationalQueries extends QueryModule {

  /** Left outer join with null-side aggregation: every customer, with
    * 0-counts for the order-less (null-extension semantics).
    */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer").select("c_custkey")
    val o = Tables.read(spark, dir, "orders")
      .filter(col("o_orderstatus") === "O").select("o_custkey", "o_totalprice")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("n_open"),
        coalesce(sumExact(col("o_totalprice")), lit(0.0)).as("open_total"))
      .orderBy("c_custkey")
  }

  val joinLeftOuterSql: String = """
    SELECT c_custkey, count(o_custkey) AS n_open,
      coalesce(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS open_total
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'O'
    GROUP BY c_custkey
    ORDER BY c_custkey"""

  /** Full outer join on two event-type margins: users who clicked vs
    * users who purchased, with both null sides surviving.
    */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("bu")).agg(count(lit(1)).as("n_buys"))
    clicks.join(buys, col("cu") === col("bu"), "full_outer")
      .select(coalesce(col("cu"), col("bu")).as("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_buys"), lit(0L)).as("n_buys"))
      .orderBy("user_id")
  }

  val joinFullOuterSql: String = """
    WITH c AS (SELECT user_id AS cu, count(*) AS n_clicks FROM events
               WHERE event_type = 'click' GROUP BY 1),
    b AS (SELECT user_id AS bu, count(*) AS n_buys FROM events
          WHERE event_type = 'purchase' GROUP BY 1)
    SELECT coalesce(cu, bu) AS user_id,
      coalesce(n_clicks, 0) AS n_clicks, coalesce(n_buys, 0) AS n_buys
    FROM c FULL OUTER JOIN b ON cu = bu
    ORDER BY user_id"""

  /** CUBE over status × priority: all four grouping combinations. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(
        col("o_orderstatus").isNull.cast("int"), col("o_orderstatus"),
        col("o_orderpriority").isNull.cast("int"), col("o_orderpriority"))

  val aggCubeSql: String = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY (o_orderstatus IS NULL), o_orderstatus,
             (o_orderpriority IS NULL), o_orderpriority"""

  /** INTERSECT: customers in BUILDING who also have urgent orders. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.read(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val urgent = Tables.read(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    building.intersect(urgent).orderBy("custkey")
  }

  val setIntersectSql: String = """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY custkey"""

  /** Ordered string aggregation: per nation, the lexicographically first
    * 3 customer names joined with commas. Determinism comes from sorting
    * the collected array, never from collection order.
    */
  def aggStrings(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")
      .groupBy("c_nationkey")
      .agg(concat_ws(",", slice(sort_array(collect_list(col("c_name"))), 1, 3))
        .as("first_names"))
      .orderBy("c_nationkey")

  val aggStringsSql: String = """
    SELECT c_nationkey,
      array_to_string((list_sort(list(c_name)))[1:3], ',') AS first_names
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  /** Sliding-frame moving average: per user, mean of the last 5 event
    * values (exact-decimal partials so frame evaluation order is moot).
    */
  def windowMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-4, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), dec(col("value")).as("v"))
      .withColumn("mov_sum", sum("v").over(w).cast("double"))
      .withColumn("mov_n", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"),
        (col("mov_sum") / col("mov_n")).as("mov_avg"))
      .orderBy("event_id")
  }

  val windowMovingAvgSql: String = """
    SELECT user_id, event_id,
      cast(sum(cast(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        / count(*) OVER w AS mov_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ORDER BY event_id"""

  /** Lead/lag deltas: per user, microseconds since the previous event and
    * until the next one.
    */
  def windowLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("since_prev_us", col("ts_us") - lag("ts_us", 1).over(w))
      .withColumn("until_next_us", lead("ts_us", 1).over(w) - col("ts_us"))
      .select("user_id", "event_id", "since_prev_us", "until_next_us")
      .orderBy("event_id")
  }

  val windowLeadLagSql: String = """
    WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
    SELECT user_id, event_id,
      ts_us - lag(ts_us) OVER w AS since_prev_us,
      lead(ts_us) OVER w - ts_us AS until_next_us
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ORDER BY event_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_left_outer"   -> (joinLeftOuter _),
    "join_full_outer"   -> (joinFullOuter _),
    "agg_cube"          -> (aggCube _),
    "set_intersect"     -> (setIntersect _),
    "agg_strings"       -> (aggStrings _),
    "window_moving_avg" -> (windowMovingAvg _),
    "window_lead_lag"   -> (windowLeadLag _))

  val oracle: Map[String, String] = Map(
    "join_left_outer"   -> joinLeftOuterSql,
    "join_full_outer"   -> joinFullOuterSql,
    "agg_cube"          -> aggCubeSql,
    "set_intersect"     -> setIntersectSql,
    "agg_strings"       -> aggStringsSql,
    "window_moving_avg" -> windowMovingAvgSql,
    "window_lead_lag"   -> windowLeadLagSql)
}
