package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, Relational}
import graft.operators.Relational._
import graft.sources.Tables

/** Advanced relational surface: as-of join, pivot, exact percentiles,
  * JSON extraction, fuzzy string matching, and the salted two-phase
  * aggregation pattern for skewed keys.
  */
object AdvancedQueries extends QueryModule {

  /** As-of join: each purchase event matched to the user's most recent
    * strictly-earlier event of any type, via the union + carry-forward
    * window (see [[AsofJoin]]). Inner semantics, like DuckDB ASOF JOIN.
    */
  def asofJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("s_event"), col("ts_us").as("s_ts"))
    AsofJoin(purchases, signups.withColumnRenamed("s_user", "user_id"),
        key = "user_id", leftTs = "ts_us", rightTs = "s_ts", leftSeq = "event_id",
        rightPayload = Map("s_event" -> "s_event", "s_ts" -> "s_ts"),
        rightSeq = Some("s_event"))
      .select(col("event_id"), col("user_id"), col("s_event"),
        (col("ts_us") - col("s_ts")).as("gap_us"))
      .orderBy("event_id")
  }

  val asofJoinSql: String = """
    WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS s_event, user_id, ts_us AS s_ts FROM e WHERE event_type = 'signup')
    SELECT p.event_id, p.user_id, s.s_event, p.ts_us - s.s_ts AS gap_us
    FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts_us > s.s_ts
    ORDER BY p.event_id"""

  /** Left-outer as-of: every purchase kept, NULL signup payload when no
    * signup precedes it (same one-shuffle carry-forward plan; the outer
    * variant only changes the final filter).
    */
  def asofJoinLeftQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("s_event"), col("ts_us").as("s_ts"))
    AsofJoin(purchases, signups.withColumnRenamed("s_user", "user_id"),
        key = "user_id", leftTs = "ts_us", rightTs = "s_ts", leftSeq = "event_id",
        rightPayload = Map("s_event" -> "s_event", "s_ts" -> "s_ts"),
        rightSeq = Some("s_event"), leftOuter = true)
      .select(col("event_id"), col("user_id"), col("s_event"),
        (col("ts_us") - col("s_ts")).as("gap_us"))
      .orderBy("event_id")
  }

  val asofJoinLeftSql: String = """
    WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS s_event, user_id, ts_us AS s_ts FROM e WHERE event_type = 'signup')
    SELECT p.event_id, p.user_id, s.s_event, p.ts_us - s.s_ts AS gap_us
    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_us > s.s_ts
    ORDER BY p.event_id"""

  /** NEAREST-match as-of: each purchase pairs with the signup whose
    * timestamp is closest in EITHER direction — the variant sensor
    * alignment wants when readings may lag or lead (DuckDB's ASOF picks
    * one direction; nearest needs both). Composed from TWO runs of the
    * same one-shuffle carry-forward operator: the backward pass as-is,
    * the forward pass on NEGATED timestamps (largest −t before −ts ⟺
    * smallest t after ts) — still linear per key, no pair blow-up, no
    * new machinery. Exact-tie |gap| prefers the earlier (prev) match;
    * equal-timestamp signups are strictly neither before nor after (the
    * operator's tie rule on both passes) and are excluded, mirrored by
    * the oracle's strict inequalities.
    */
  def asofNearestQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_event"), col("ts_us").as("s_ts"))
    val withPrev = AsofJoin(purchases, signups,
      key = "user_id", leftTs = "ts_us", rightTs = "s_ts", leftSeq = "event_id",
      rightPayload = Map("s_event" -> "p_event", "s_ts" -> "p_ts"),
      rightSeq = Some("s_event"), leftOuter = true)
    val withBoth = AsofJoin(
      withPrev.withColumn("neg_ts", -col("ts_us")),
      signups.withColumn("neg_sts", -col("s_ts")),
      key = "user_id", leftTs = "neg_ts", rightTs = "neg_sts", leftSeq = "event_id",
      rightPayload = Map("s_event" -> "n_event", "s_ts" -> "n_ts"),
      rightSeq = Some("s_event"), leftOuter = true)
    val gp = col("ts_us") - col("p_ts")
    val gn = col("n_ts") - col("ts_us")
    val takePrev = col("p_ts").isNotNull && (col("n_ts").isNull || gp <= gn)
    withBoth
      .select(col("event_id"), col("user_id"),
        when(takePrev, lit("prev")).when(col("n_ts").isNotNull, lit("next")).as("side"),
        when(takePrev, col("p_event")).when(col("n_ts").isNotNull, col("n_event")).as("near_event"),
        when(takePrev, gp).when(col("n_ts").isNotNull, -gn).as("gap_us"))
      .orderBy("event_id")
  }

  val asofNearestSql: String = """
    WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS s_event, user_id, ts_us AS s_ts FROM e WHERE event_type = 'signup'),
    prevj AS (
      SELECT p.event_id, p.user_id, p.ts_us, s.s_event AS p_event, s.s_ts AS p_ts
      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_us > s.s_ts),
    bothj AS (
      SELECT pv.*, s.s_event AS n_event, s.s_ts AS n_ts
      FROM prevj pv ASOF LEFT JOIN s ON pv.user_id = s.user_id AND pv.ts_us < s.s_ts)
    SELECT event_id, user_id,
      CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR ts_us - p_ts <= n_ts - ts_us)
           THEN 'prev' WHEN n_ts IS NOT NULL THEN 'next' END AS side,
      CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR ts_us - p_ts <= n_ts - ts_us)
           THEN p_event WHEN n_ts IS NOT NULL THEN n_event END AS near_event,
      CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR ts_us - p_ts <= n_ts - ts_us)
           THEN ts_us - p_ts WHEN n_ts IS NOT NULL THEN ts_us - n_ts END AS gap_us
    FROM bothj
    ORDER BY event_id"""

  /** Pivot order counts: one column per order status. */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  val pivotStatusSql: String = """
    SELECT o_orderpriority,
      cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** JSON extraction over the events `props` column + aggregation on the
    * extracted field.
    */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
      .orderBy("k_mod")

  val eventsJsonSql: String = """
    SELECT cast(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      count(*) AS n,
      cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY k_mod"""

  /** Semi-structured props through Spark 4's VARIANT type: parse once,
    * extract typed fields with `variant_get` — the open-schema path that
    * replaces per-field JSON string re-parsing (variant is a binary
    * encoding; repeated extraction doesn't re-tokenize the text).
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_var")
    spark.sql("""
      SELECT event_type,
        count(*) AS n,
        cast(sum(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT) AS sum_k,
        cast(min(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT) AS min_k,
        cast(max(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT) AS max_k
      FROM events_var
      GROUP BY event_type
      ORDER BY event_type""")
  }

  val variantExtractSql: String = """
    SELECT event_type,
      count(*) AS n,
      cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      min(cast(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      max(cast(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** Fuzzy match: Levenshtein distance between consecutive customers'
    * names (blocked pairing — the realistic shape is candidate pairs from
    * a blocking key, then edit-distance verify).
    */
  def fuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer").select("c_custkey", "c_name")
    c.as("a").join(c.as("b"), col("a.c_custkey") + 1 === col("b.c_custkey"))
      .select(col("a.c_custkey").as("custkey"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long").as("edit_dist"))
      .orderBy("custkey")
  }

  val fuzzyNamesSql: String = """
    SELECT a.c_custkey AS custkey,
      cast(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
    ORDER BY custkey"""

  /** Salted two-phase aggregation: counts/sums by event_type where phase
    * one fans each hot key across 16 salt buckets and phase two combines.
    * Identical results to a plain GROUP BY (the oracle), but the first
    * shuffle spreads a skewed key over 16 reducers — the standard remedy
    * when one key dominates at cluster scale.
    */
  def aggSalted(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.events(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("psum"))
    salted.groupBy("event_type")
      .agg(sum("pn").as("n"), sum("psum").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val aggSaltedSql: String = """
    SELECT event_type, count(*) AS n,
      cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** Skew-salted join: nation revenue via customer ⋈ orders where the
    * join spreads each customer key over 8 salts (orders side salted by
    * order key, customers replicated). The oracle is the PLAIN join —
    * salting must be invisible in the result.
    */
  def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
    val customers = Tables.read(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    graft.operators.Partitioning
      .skewSaltedJoin(orders, customers, "custkey", salts = 8, col("o_orderkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_total"))
      .orderBy("c_nationkey")
  }

  val joinSkewSaltedSql: String = """
    SELECT c_nationkey, count(*) AS n_orders,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  /** Exact interpolated percentiles per event type (median + p90). */
  def percentilesQ(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        median(col("value")).as("med"),
        percentile(col("value"), lit(0.9)).as("p90"))
      .orderBy("event_type")

  val percentilesSql: String = """
    SELECT event_type, median(value) AS med, quantile_cont(value, 0.9) AS p90
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_join"    -> (asofJoinQ _),
    "asof_nearest" -> (asofNearestQ _),
    "asof_join_left" -> (asofJoinLeftQ _),
    "pivot_status" -> (pivotStatus _),
    "events_json"  -> (eventsJson _),
    "variant_extract" -> (variantExtract _),
    "fuzzy_names"  -> (fuzzyNames _),
    "agg_salted"   -> (aggSalted _),
    "join_skew_salted" -> (joinSkewSalted _),
    "percentiles"  -> (percentilesQ _))

  val oracle: Map[String, String] = Map(
    "asof_join"    -> asofJoinSql,
    "asof_nearest" -> asofNearestSql,
    "asof_join_left" -> asofJoinLeftSql,
    "pivot_status" -> pivotStatusSql,
    "events_json"  -> eventsJsonSql,
    "variant_extract" -> variantExtractSql,
    "fuzzy_names"  -> fuzzyNamesSql,
    "agg_salted"   -> aggSaltedSql,
    "join_skew_salted" -> joinSkewSaltedSql,
    "percentiles"  -> percentilesSql)
}
