package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational._
import graft.sources.Tables

/** North-star relational analytics over the TPC-H-ish corpus
  * (SURVEY.md §7.2.7): grouped aggregation, multi-way joins with
  * broadcast dims, semi/anti joins, set ops, keyed windows,
  * sessionization, and event-time bucketing.
  *
  * Scale notes (the 100 TB contract):
  *  - joins shuffle on their equi-keys; `nation`/`region` are broadcast;
  *  - all windows are PARTITIONED (keyed) — no global windows here;
  *  - float aggregation uses the exact-decimal path from [[Relational]]
  *    so partial-agg order can never change a result;
  *  - every query's final ORDER BY is only for oracle determinism and is
  *    a top-level sort of an already-reduced (small) result.
  */
object AnalyticsQueries extends QueryModule {

  // ---------------------------------------------------------- aggregation

  /** TPC-H Q1-style pricing summary: single shuffle on two low-cardinality
    * keys, map-side partial aggregation does nearly all the work.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.read(spark, dir, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge    = discPrice * (lit(1.0) + col("l_tax"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"), // integral values: exact in double
        sumExact(col("l_extendedprice")).as("sum_base_price"),
        sumExact(discPrice).as("sum_disc_price"),
        sumExact(charge).as("sum_charge"),
        avgExact(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String = """
    SELECT l_returnflag, l_linestatus,
      sum(l_quantity) AS sum_qty,
      cast(sum(cast(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      cast(sum(cast((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      cast(sum(cast(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Grouped order stats incl. exact distinct customers per group. */
  def aggOrderStats(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sumExact(col("o_totalprice")).as("sum_total"),
        avgExact(col("o_totalprice")).as("avg_total"),
        min("o_totalprice").as("min_total"),
        max("o_totalprice").as("max_total"),
        countDistinct("o_custkey").as("n_customers"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val aggOrderStatsSql: String = """
    SELECT o_orderstatus, o_orderpriority,
      count(*) AS n_orders,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_total,
      min(o_totalprice) AS min_total,
      max(o_totalprice) AS max_total,
      count(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority"""

  // ---------------------------------------------------------------- joins

  /** Q3-style: revenue of BUILDING-segment orders, top 10. Two shuffle
    * joins on the natural keys; projection is pruned to 2-3 columns per
    * side before the join so the scan reads only what it needs.
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.read(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String = """
    SELECT o_orderkey, o_orderdate,
      cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10"""

  /** TPC-H Q10-style returned-item reporting: customers ranked by
    * revenue lost to returns in one quarter. The classic 3-fact-plus-dim
    * shape — orders pruned by the date predicate AT THE SCAN (pushed
    * filter), lineitem pruned by return flag, nation broadcast, revenue
    * in exact decimal, top-20 via the sorted limit of an
    * already-reduced aggregate.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.read(spark, dir, "nation").select("n_nationkey", "n_name"))
    val c = Tables.read(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val o = Tables.read(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.read(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String = """
    SELECT c_custkey, c_name, c_acctbal, n_name,
      cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

  /** Q5-style revenue per nation. `nation` is explicitly broadcast — the
    * canonical small-dim pattern; fact-fact joins shuffle on their keys.
    */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.read(spark, dir, "nation").select("n_nationkey", "n_name"))
    val c = Tables.read(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val o = Tables.read(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val l = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val q5Sql: String = """
    SELECT n_name,
      cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** Left-anti: customers with no OPEN orders (the "already enrolled"
    * exclusion pattern from the reference's roadmap, SURVEY.md §2.4).
    * The status filter keeps the result non-degenerate at every sf.
    */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")
      .join(Tables.read(spark, dir, "orders").filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val joinAntiSql: String = """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    ORDER BY c_custkey"""

  /** Left-semi: customers with at least one order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")
      .join(Tables.read(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val joinSemiSql: String = """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey"""

  /** Set difference (roster-diff pattern): all customers minus those
    * with open orders.
    */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer").select(col("c_custkey").as("custkey"))
      .except(Tables.read(spark, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  val setExceptSql: String = """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY custkey"""

  // -------------------------------------------------------------- windows

  /** Top-3 orders per customer — keyed window, shuffles once on custkey. */
  def windowTopk(spark: SparkSession, dir: String): DataFrame =
    topKPerGroup(
      Tables.read(spark, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), col("o_totalprice"), col("o_orderkey"), 3)
      .orderBy("o_custkey", "rk")

  val windowTopkSql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        cast(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders)
    WHERE rk <= 3
    ORDER BY o_custkey, rk"""

  /** Per-user running sum over the event stream — keyed window over an
    * exact-decimal measure, so the prefix sums are order-exact.
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), dec(col("value")).as("v"))
      .withColumn("running_value", sum("v").over(w).cast("double"))
      .select("user_id", "event_id", "running_value")
      .orderBy("event_id")
  }

  val windowRunningSql: String = """
    SELECT user_id, event_id,
      cast(sum(cast(value AS DECIMAL(18,6))) OVER (
        PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS running_value
    FROM events
    ORDER BY event_id"""

  // --------------------------------------------------------------- events

  /** Tumbling 1-hour event-time buckets (`ts` is truncated to micros on
    * both sides — parquet stores nanos).
    */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")

  val eventsHourlySql: String = """
    SELECT date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)) AS hour, event_type,
      count(*) AS n_events,
      cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type"""

  /** 30-minute-gap sessionization per user, then per-session stats.
    * Timestamps compared in microseconds so both engines see the same
    * truncation of the nanosecond source.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(
      Tables.events(spark, dir).select(col("user_id"), col("event_id"), col("ts_us")),
      "user_id", "event_id", col("ts_us"), 30L * 60 * 1000000)
    sessions.groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"),
        ((max("ts_us") - min("ts_us")) / 1000000L).cast("double").as("span_sec"))
      .orderBy("user_id", "session_seq")
  }

  val eventsSessionizeSql: String = """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
    flagged AS (
      SELECT user_id, event_id, ts_us,
        CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    sess AS (
      SELECT user_id, event_id, ts_us,
        cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq, count(*) AS n_events,
      min(event_id) AS first_event,
      cast((max(ts_us) - min(ts_us)) / 1000000 AS DOUBLE) AS span_sec
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq"""

  /** TPC-H Q6-style revenue-change forecast: pure filter + global
    * aggregate. The whole predicate reaches the parquet scan
    * (PushedFilters), so at 100 TB the job reads only matching row
    * groups of three columns.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01" &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.04 && col("l_quantity") < 24)
      .agg(sumExact(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  val q6Sql: String = """
    SELECT cast(sum(cast(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24"""

  /** TPC-H Q18-style large-volume customers: HAVING-filtered aggregate
    * re-joined to its detail rows — aggregate first, then only the
    * qualifying keys rejoin (never the full fact×fact).
    */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
    val big = li.groupBy("l_orderkey")
      .agg(sumExact(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)
    big.join(Tables.read(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.read(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_day"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  val q18Sql: String = """
    WITH big AS (
      SELECT l_orderkey,
        cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
      cast(cast(o.o_orderdate AS DATE) AS VARCHAR) AS o_day, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_qty DESC, o_orderkey"""

  // --------------------------------------------------- cohorts & journeys

  /** Weekly retention cohorts: users bucketed by first-seen week, activity
    * counted per (cohort, week offset). The user→cohort aggregate and the
    * activity join share the user_id partitioning, so the second shuffle
    * is only the (tiny) cohort-matrix aggregation.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts_us div 604800000000").as("wk"))
    val cohorts = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  val retentionCohortsSql: String = """
    WITH e AS (
      SELECT user_id, (epoch_ns(ts) // 1000) // 604800000000 AS wk FROM events),
    u AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
    SELECT cohort_wk, wk - cohort_wk AS week_offset,
      count(DISTINCT e.user_id) AS n_users
    FROM e JOIN u USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** Per-user event-sequence paths (MATCH_RECOGNIZE-flavored): the
    * time-ordered first-letter string of a user's events, fingerprinted,
    * plus a view-then-purchase conversion flag matched on the path.
    * `array_sort(collect_list(struct(ts, id, letter)))` gives the
    * deterministic order WITHOUT a per-group sort exchange — struct sort
    * keys (ts, unique id) make ties impossible.
    */
  /** Ordered conversion funnel view → click → purchase: a user counts
    * at each step only if the step's event happens STRICTLY AFTER their
    * entry into the previous step (first qualifying occurrence, ties
    * broken by event_id — the (ts, id) pairs compare as structs so
    * same-microsecond events order identically in both engines).
    * Complements `journey_paths` (per-user path strings) with the
    * step-level report a growth team actually reads. Scale shape: per
    * step one filter + one user-keyed argmin aggregation, all joins
    * co-partitioned by user_id; the final report is four one-row
    * frames crossed.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
    val v = e.filter(col("event_type") === "view").groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("s1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(struct(col("ts_us"), col("event_id")) > col("s1"))
      .groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("s2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(struct(col("ts_us"), col("event_id")) > col("s2"))
      .select("user_id").distinct()
    e.agg(countDistinct("user_id").as("n_users"))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("n_view"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      .select(col("n_users"), col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view"), 6)
          .as("click_rate"),
        round(col("n_purchase").cast("double") / col("n_click"), 6)
          .as("purchase_rate"))
  }

  val funnelStepsSql: String = """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      FROM events),
    v AS (
      SELECT user_id, ts_us AS t1, event_id AS i1 FROM e
      WHERE event_type = 'view'
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) = 1),
    c AS (
      SELECT e.user_id, e.ts_us AS t2, e.event_id AS i2
      FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND (e.ts_us, e.event_id) > (v.t1, v.i1)
      QUALIFY row_number() OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts_us, e.event_id) = 1),
    p AS (
      SELECT DISTINCT e.user_id
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND (e.ts_us, e.event_id) > (c.t2, c.i2))
    SELECT
      (SELECT cast(count(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
      (SELECT cast(count(*) AS BIGINT) FROM v) AS n_view,
      (SELECT cast(count(*) AS BIGINT) FROM c) AS n_click,
      (SELECT cast(count(*) AS BIGINT) FROM p) AS n_purchase,
      round(cast((SELECT count(*) FROM c) AS DOUBLE)
            / (SELECT count(*) FROM v), 6) AS click_rate,
      round(cast((SELECT count(*) FROM p) AS DOUBLE)
            / (SELECT count(*) FROM c), 6) AS purchase_rate"""

  def journeyPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("letter"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("letter")))),
          x => x.getField("letter")), "").as("path"))
      .select(col("user_id"), col("n_events"),
        md5(col("path").cast("binary")).as("path_md5"),
        col("path").rlike("v[^p]*p").as("converted"))
      .orderBy("user_id")

  val journeyPathsSql: String = """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        substr(event_type, 1, 1) AS letter
      FROM events),
    p AS (
      SELECT user_id, count(*) AS n_events,
        string_agg(letter, '' ORDER BY ts_us, event_id) AS path
      FROM e GROUP BY 1)
    SELECT user_id, n_events, md5(path) AS path_md5,
      regexp_matches(path, 'v[^p]*p') AS converted
    FROM p
    ORDER BY user_id"""

  /** FIFO view→purchase attribution over the event log. The ENGINE side
    * is the justified typed-API operator ([[graft.operators.FifoMatch]]
    * — Spark's windows/joins can't run the online queue). The ORACLE side
    * exploits a closed form that plain window SQL CAN express: treat
    * views as +1 and purchases as −1; the pending-queue depth before an
    * event is its prefix sum minus the clipped running minimum (the
    * reflected random walk), so a purchase is matched iff that depth > 0,
    * and — because FIFO consumes views in arrival order — the j-th
    * matched purchase pairs with the j-th view. Ground truth also in
    * `FifoMatchSpec`.
    */
  def fifoMatchQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{FifoMatch, TimelineEvent}
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("kind"))
      .as[TimelineEvent]
    FifoMatch.pairs(ev).toDF()
      .orderBy("user_id", "view_event")
  }

  val fifoMatchSql: String = """
    WITH ev AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type,
        CASE WHEN event_type = 'view' THEN 1 ELSE -1 END AS x
      FROM events WHERE event_type IN ('view', 'purchase')),
    pre AS (
      SELECT *, sum(x) OVER w AS ps
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    m AS (
      SELECT *,
        coalesce(sum(x) OVER wp, 0) AS ps_prev,
        coalesce(min(ps) OVER wp, 0) AS minps_prev
      FROM pre
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    mp AS (
      SELECT user_id, event_id AS purchase_event, ts_us AS p_ts,
        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS j
      FROM m
      WHERE event_type = 'purchase' AND ps_prev - least(minps_prev, 0) > 0),
    v AS (
      SELECT user_id, event_id AS view_event, ts_us AS v_ts,
        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS j
      FROM ev WHERE event_type = 'view')
    SELECT v.user_id AS user_id, v.view_event, mp.purchase_event,
      mp.p_ts - v.v_ts AS wait_us
    FROM mp JOIN v ON mp.user_id = v.user_id AND mp.j = v.j
    ORDER BY v.user_id, v.view_event"""

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retention_cohorts"  -> (retentionCohorts _),
    "journey_paths"      -> (journeyPaths _),
    "funnel_steps"       -> (funnelSteps _),
    "fifo_match"         -> (fifoMatchQ _),
    "q6_forecast"        -> (q6Forecast _),
    "q18_big_orders"     -> (q18BigOrders _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "agg_order_stats"    -> (aggOrderStats _),
    "q3_top_revenue"     -> (q3TopRevenue _),
    "q5_nation_revenue"  -> (q5NationRevenue _),
    "join_anti"          -> (joinAnti _),
    "join_semi"          -> (joinSemi _),
    "set_except"         -> (setExcept _),
    "window_topk"        -> (windowTopk _),
    "window_running"     -> (windowRunning _),
    "events_hourly"      -> (eventsHourly _),
    "events_sessionize"  -> (eventsSessionize _))

  val oracle: Map[String, String] = Map(
    "fifo_match"         -> fifoMatchSql,
    "retention_cohorts"  -> retentionCohortsSql,
    "journey_paths"      -> journeyPathsSql,
    "funnel_steps"       -> funnelStepsSql,
    "q6_forecast"        -> q6Sql,
    "q18_big_orders"     -> q18Sql,
    "q10_returned_items" -> q10Sql,
    "q1_pricing_summary" -> q1Sql,
    "agg_order_stats"    -> aggOrderStatsSql,
    "q3_top_revenue"     -> q3Sql,
    "q5_nation_revenue"  -> q5Sql,
    "join_anti"          -> joinAntiSql,
    "join_semi"          -> joinSemiSql,
    "set_except"         -> setExceptSql,
    "window_topk"        -> windowTopkSql,
    "window_running"     -> windowRunningSql,
    "events_hourly"      -> eventsHourlySql,
    "events_sessionize"  -> eventsSessionizeSql)
}
