package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Relational
import graft.sources.Tables

/** Warehouse-pattern operators beyond the round-2 surface: variable-
  * length interval merging (gaps-and-islands with a running max), value-
  * RANGE window frames, CDC merge-upsert, and derived-bound histograms.
  *
  * Scale notes: every window here is keyed; the merge is one full-outer
  * sort-merge join; histogram bounds travel as a broadcast 1-row frame,
  * never a driver round-trip inside the plan.
  */
object WarehouseQueries extends QueryModule {

  /** Merge overlapping per-user event intervals (gaps-and-islands).
    * Interval length varies per event (deterministic function of the id),
    * so islands need the running MAX of interval ends — the strictly
    * harder variant of sessionize's lag-gap test (a long early interval
    * can swallow several later starts).
    */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("ts_us") + (pmod(col("event_id"), lit(300)) + 60) * 1000000L).as("end_us"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val prevMax = max("end_us").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(prevMax.isNull || col("ts_us") > prevMax, 1L).otherwise(0L)
    e.withColumn("island",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min("ts_us").as("s"), max("end_us").as("en"), count(lit(1)).as("n_iv"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum("n_iv").as("n_intervals"),
        sum(col("en") - col("s")).as("covered_us"))
      .orderBy("user_id")
  }

  // integer sums cast back to BIGINT: DuckDB promotes sum(BIGINT) to
  // HUGEINT, which the driver's pandas fetch would hash as float
  val intervalMergeSql: String = """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        epoch_ns(ts) // 1000 + (event_id % 300 + 60) * 1000000 AS end_us
      FROM events),
    flagged AS (
      SELECT user_id, event_id, ts_us, end_us,
        CASE WHEN max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR ts_us > max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS is_new
      FROM e),
    islands AS (
      SELECT user_id, ts_us, end_us,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged),
    merged AS (
      SELECT user_id, island, min(ts_us) AS s, max(end_us) AS en, count(*) AS n_iv
      FROM islands GROUP BY user_id, island)
    SELECT user_id, count(*) AS n_islands,
      cast(sum(n_iv) AS BIGINT) AS n_intervals,
      cast(sum(en - s) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    ORDER BY user_id"""

  /** Trailing-30-day spend per order via a value-RANGE window frame —
    * peers at the same day aggregate identically regardless of row
    * order, which a ROWS frame cannot express.
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy("o_custkey").orderBy(col("day")).rangeBetween(-30, 0)
    o.select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("spend_30d"),
        count(lit(1)).over(w).as("n_orders_30d"))
      .orderBy("o_orderkey")
  }

  val windowRangeFrameSql: String = """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
        date_diff('day', DATE '1970-01-01', cast(o_orderdate AS DATE)) AS day
      FROM orders)
    SELECT o_orderkey, o_custkey, cast(day AS BIGINT) AS day,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS spend_30d,
      cast(count(*) OVER w AS BIGINT) AS n_orders_30d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey"""

  /** CDC apply: deterministic update + insert sets merged into orders
    * via [[Relational.mergeUpsert]] (exact-decimal price arithmetic so
    * both engines agree bit-for-bit).
    */
  def mergeUpsertQ(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 6)).as("p"))
    val updates = base.filter(pmod(col("o_orderkey"), lit(13)) === 3)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("p") + 100).cast(DecimalType(18, 6)).as("p"))
    val inserts = base.filter(pmod(col("o_orderkey"), lit(13)) === 5)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        lit("I").as("o_orderstatus"), col("p"))
    Relational.mergeUpsert(base, updates.union(inserts), Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("p").cast("double").as("price"))
      .orderBy("o_orderkey")
  }

  val mergeUpsertSql: String = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, cast(o_totalprice AS DECIMAL(18,6)) AS p
      FROM orders),
    changes AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, cast(p + 100 AS DECIMAL(18,6)) AS p
      FROM base WHERE o_orderkey % 13 = 3
      UNION ALL
      SELECT o_orderkey + 10000000, 'I', p FROM base WHERE o_orderkey % 13 = 5)
    SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
      coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
      cast(coalesce(c.p, b.p) AS DOUBLE) AS price
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    ORDER BY o_orderkey"""

  /** Ordered change-log apply with delete tombstones — the CDC fold
    * that `merge_upsert` (single-batch MERGE) and `latest_snapshot`
    * (pure argmax) both stop short of: each order row is an I/U/D
    * change against its customer keyed by (day, orderkey) sequence
    * ('F' status ⇒ tombstone), and the final state is the LAST change
    * per key with tombstoned keys dropped entirely, plus per-key churn
    * counters. One aggregation via the max(struct) argmax — the
    * (day, orderkey) sequence is unique so op/price ride along without
    * a per-key sort; no window, no join, map-side combinable — the
    * shape that folds a 100 TB change stream into a snapshot in one
    * exchange.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "orders").select(
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"),
      col("o_orderkey"),
      when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
      col("o_totalprice").cast(DecimalType(18, 6)).as("p"))
    c.groupBy("o_custkey")
      .agg(
        max(struct(col("day"), col("o_orderkey"), col("op"), col("p")))
          .as("last"),
        count(lit(1)).as("n_changes"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"))
      .filter(col("last.op") =!= "D")
      .select(col("o_custkey"),
        col("last.o_orderkey").as("src_orderkey"),
        col("last.p").cast("double").as("price"),
        col("n_changes"), col("n_deletes"))
      .orderBy("o_custkey")
  }

  val cdcApplySql: String = """
    WITH c AS (
      SELECT o_custkey,
        date_diff('day', DATE '1970-01-01', cast(o_orderdate AS DATE)) AS day,
        o_orderkey,
        CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        cast(o_totalprice AS DECIMAL(18,6)) AS p
      FROM orders),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY day DESC, o_orderkey DESC) AS rn,
        count(*) OVER (PARTITION BY o_custkey) AS n_changes,
        sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
          OVER (PARTITION BY o_custkey) AS n_deletes
      FROM c)
    SELECT o_custkey, o_orderkey AS src_orderkey, cast(p AS DOUBLE) AS price,
      cast(n_changes AS BIGINT) AS n_changes,
      cast(n_deletes AS BIGINT) AS n_deletes
    FROM r WHERE rn = 1 AND op <> 'D'
    ORDER BY o_custkey"""

  /** RFM customer segmentation: recency (days since last order,
    * anchored to the corpus max day), frequency (order count), monetary
    * (lifetime spend in exact cents), each bucketed into quartiles BY
    * VALUE THRESHOLD rather than ntile — the thresholds are discrete
    * order statistics from a per-metric value histogram (the
    * `winsorized_mean` shape), so scoring is a broadcast-join map pass
    * with no global sort, ties land identically in both engines, and
    * nothing in the plan grows super-linearly with customers. The
    * three-digit segment string is the classic CRM label.
    */
  def rfmSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders").select(
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val anchor = o.agg(max("day").as("maxday"))
    val cust = o.groupBy("o_custkey")
      .agg(max("day").as("lastday"), count(lit(1)).as("f"),
        sum("cents").as("m"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"), (col("maxday") - col("lastday")).as("r"),
        col("f"), col("m"))
    val longF = cust.select(col("o_custkey"),
      explode(map(lit("r"), col("r"), lit("f"), col("f"),
        lit("m"), col("m"))).as(Seq("metric", "v")))
    val hist = longF.groupBy("metric", "v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("metric").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("mtot", sum("c").over(Window.partitionBy("metric")))
    val bounds = hist.groupBy("metric").agg(
      min(when(col("cum") >= ceil(col("mtot") * 0.25), col("v"))).as("t25"),
      min(when(col("cum") >= ceil(col("mtot") * 0.50), col("v"))).as("t50"),
      min(when(col("cum") >= ceil(col("mtot") * 0.75), col("v"))).as("t75"))
    val scored = longF.join(broadcast(bounds), "metric")
      .select(col("o_custkey"), col("metric"), col("v"),
        (lit(1) + (col("v") > col("t25")).cast("int")
          + (col("v") > col("t50")).cast("int")
          + (col("v") > col("t75")).cast("int")).as("score"))
    scored.groupBy("o_custkey").agg(
        max(when(col("metric") === "r", col("v"))).as("r"),
        max(when(col("metric") === "f", col("v"))).as("f"),
        max(when(col("metric") === "m", col("v"))).as("m"),
        max(when(col("metric") === "r", col("score"))).cast("long").as("r_score"),
        max(when(col("metric") === "f", col("score"))).cast("long").as("f_score"),
        max(when(col("metric") === "m", col("score"))).cast("long").as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .orderBy("o_custkey")
  }

  val rfmSegmentSql: String = """
    WITH o AS (
      SELECT o_custkey,
        date_diff('day', DATE '1970-01-01', cast(o_orderdate AS DATE)) AS day,
        cast(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    a AS (SELECT max(day) AS maxday FROM o),
    cust AS (
      SELECT o_custkey,
        cast((SELECT maxday FROM a) - max(day) AS BIGINT) AS r,
        cast(count(*) AS BIGINT) AS f, cast(sum(cents) AS BIGINT) AS m
      FROM o GROUP BY 1),
    lf AS (
      SELECT o_custkey, 'r' AS metric, r AS v FROM cust
      UNION ALL SELECT o_custkey, 'f', f FROM cust
      UNION ALL SELECT o_custkey, 'm', m FROM cust),
    hist AS (SELECT metric, v, count(*) AS c FROM lf GROUP BY 1, 2),
    cums AS (
      SELECT metric, v,
        sum(c) OVER (PARTITION BY metric ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(c) OVER (PARTITION BY metric) AS mtot
      FROM hist),
    bounds AS (
      SELECT metric,
        min(CASE WHEN cum >= ceil(mtot * 0.25) THEN v END) AS t25,
        min(CASE WHEN cum >= ceil(mtot * 0.50) THEN v END) AS t50,
        min(CASE WHEN cum >= ceil(mtot * 0.75) THEN v END) AS t75
      FROM cums GROUP BY 1),
    sc AS (
      SELECT o_custkey, metric, v,
        1 + (CASE WHEN v > t25 THEN 1 ELSE 0 END)
          + (CASE WHEN v > t50 THEN 1 ELSE 0 END)
          + (CASE WHEN v > t75 THEN 1 ELSE 0 END) AS score
      FROM lf JOIN bounds USING (metric)),
    p AS (
      SELECT o_custkey,
        max(CASE WHEN metric = 'r' THEN v END) AS r,
        max(CASE WHEN metric = 'f' THEN v END) AS f,
        max(CASE WHEN metric = 'm' THEN v END) AS m,
        cast(max(CASE WHEN metric = 'r' THEN score END) AS BIGINT) AS r_score,
        cast(max(CASE WHEN metric = 'f' THEN score END) AS BIGINT) AS f_score,
        cast(max(CASE WHEN metric = 'm' THEN score END) AS BIGINT) AS m_score
      FROM sc GROUP BY 1)
    SELECT *, cast(r_score AS VARCHAR) || cast(f_score AS VARCHAR)
           || cast(m_score AS VARCHAR) AS segment
    FROM p ORDER BY o_custkey"""

  /** Fixed-width 20-bin price histogram with data-derived bounds: the
    * (min, max) travel as a broadcast one-row frame into every bin
    * computation — a second scan, not a driver round-trip, so the plan
    * stays fully declarative at any scale.
    */
  def histogramPrice(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
    val bounds = o.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
    o.crossJoin(broadcast(bounds))
      .select(least(lit(19L),
        floor((col("o_totalprice") - col("mn")) / ((col("mx") - col("mn")) / 20.0))
          .cast("long")).as("bin"),
        col("o_totalprice"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), Relational.sumExact(col("o_totalprice")).as("total"))
      .orderBy("bin")
  }

  val histogramPriceSql: String = """
    WITH bounds AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
    SELECT least(19, cast(floor((o_totalprice - mn) / ((mx - mn) / 20.0)) AS BIGINT)) AS bin,
      count(*) AS n,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders, bounds
    GROUP BY 1
    ORDER BY bin"""

  /** Latest-record-per-key compaction (CDC log → current state): one
    * `max(struct(version, key))` hash aggregate — deterministic argmax
    * with NO per-group sort and full map-side combine, the shape that
    * beats a row_number window at any scale.
    */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).cast("long"))
      .groupBy("o_custkey")
      .agg(max(struct(col("day"), col("o_orderkey"))).as("last"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"), col("last.o_orderkey").as("last_orderkey"),
        col("last.day").as("last_day"), col("n_orders"))
      .orderBy("o_custkey")

  val latestSnapshotSql: String = """
    WITH o AS (
      SELECT o_custkey, o_orderkey,
        date_diff('day', DATE '1970-01-01', cast(o_orderdate AS DATE)) AS day
      FROM orders),
    r AS (
      SELECT o_custkey, o_orderkey, day,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY day DESC, o_orderkey DESC) AS rn,
        count(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM o)
    SELECT o_custkey, o_orderkey AS last_orderkey,
      cast(day AS BIGINT) AS last_day, cast(n_orders AS BIGINT) AS n_orders
    FROM r WHERE rn = 1
    ORDER BY o_custkey"""

  /** Table profiling (the warehouse "describe my data" op): per-column
    * non-null, exact distinct, min, max — one NARROW aggregation per
    * column, unioned. Deliberately NOT a single multi-distinct
    * aggregation: Spark plans k exact distincts in one agg via EXPAND
    * (k copies of every row through the shuffle — measured 4× the
    * per-column union here), while each union leg scans exactly one
    * parquet column and plans the cheap single-distinct rewrite.
    * Columns kept to string-stable types (bigint/varchar/date) so the
    * min/max render identically on any engine.
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
      .withColumn("o_orderday", col("o_orderdate").cast("date"))
    val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderday")
    cols.map { c =>
      o.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_non_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_non_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }.reduce(_ unionAll _)
      .orderBy("col_name")
  }

  val profileTableSql: String = """
    WITH o AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        cast(o_orderdate AS DATE) AS o_orderday
      FROM orders),
    n AS (SELECT count(*) AS n_rows FROM o)
    SELECT col_name, n_rows, n_non_null, n_distinct, min_v, max_v FROM (
      SELECT 'o_orderkey' AS col_name, n.n_rows, count(o_orderkey) AS n_non_null,
        count(DISTINCT o_orderkey) AS n_distinct,
        cast(min(o_orderkey) AS VARCHAR) AS min_v, cast(max(o_orderkey) AS VARCHAR) AS max_v
      FROM o, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_orderstatus', n.n_rows, count(o_orderstatus), count(DISTINCT o_orderstatus),
        cast(min(o_orderstatus) AS VARCHAR), cast(max(o_orderstatus) AS VARCHAR)
      FROM o, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_orderpriority', n.n_rows, count(o_orderpriority), count(DISTINCT o_orderpriority),
        cast(min(o_orderpriority) AS VARCHAR), cast(max(o_orderpriority) AS VARCHAR)
      FROM o, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_orderday', n.n_rows, count(o_orderday), count(DISTINCT o_orderday),
        cast(min(o_orderday) AS VARCHAR), cast(max(o_orderday) AS VARCHAR)
      FROM o, n GROUP BY n.n_rows)
    ORDER BY col_name"""

  /** Join-key skew diagnostic: the top-5 heaviest keys plus global
    * distribution stats (max/avg ratio) — the report you run BEFORE
    * deciding between AQE skew-join and explicit salting. TakeOrdered
    * top-k over the per-key counts; the stats ride along as a broadcast
    * one-row frame.
    */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.read(spark, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(max("cnt").as("max_cnt"),
      sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col("o_custkey")).limit(5)
      .crossJoin(broadcast(stats))
      .select(col("o_custkey"), col("cnt"), col("max_cnt"),
        round(col("total").cast("double") / col("n_keys").cast("double"), 6).as("avg_cnt"),
        round(col("max_cnt").cast("double")
          / (col("total").cast("double") / col("n_keys").cast("double")), 6).as("skew_ratio"))
      .orderBy(col("cnt").desc, col("o_custkey"))
  }

  val skewReportSql: String = """
    WITH counts AS (
      SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
    stats AS (
      SELECT max(cnt) AS max_cnt, cast(sum(cnt) AS BIGINT) AS total,
        count(*) AS n_keys FROM counts)
    SELECT o_custkey, cnt, max_cnt,
      round(cast(total AS DOUBLE) / n_keys, 6) AS avg_cnt,
      round(cast(max_cnt AS DOUBLE) / (cast(total AS DOUBLE) / n_keys), 6) AS skew_ratio
    FROM (SELECT * FROM counts ORDER BY cnt DESC, o_custkey LIMIT 5), stats
    ORDER BY cnt DESC, o_custkey"""

  /** Statistical mode per group with a deterministic tie-break (the
    * smallest value among the most frequent): count + struct argmax —
    * two narrow aggregations, no window sort. The long-keyed negation
    * trick turns "max count then MIN status" into one `max(struct)`.
    */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
      // ascii(status) is single-char here; negate so max() picks the
      // lexicographically smallest status among equal counts
      .groupBy("o_orderpriority")
      .agg(max(struct(col("cnt"), (-ascii(col("o_orderstatus"))).as("neg"),
        col("o_orderstatus"))).as("m"))
      .select(col("o_orderpriority"), col("m.o_orderstatus").as("mode_status"),
        col("m.cnt").as("cnt"))
      .orderBy("o_orderpriority")

  val modePerGroupSql: String = """
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT o_orderpriority, o_orderstatus, cnt,
        row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY cnt DESC, o_orderstatus) AS rn
      FROM c)
    SELECT o_orderpriority, o_orderstatus AS mode_status, cnt
    FROM r WHERE rn = 1
    ORDER BY o_orderpriority"""

  /** Keep-best exact dedup: among documents with identical text, keep
    * the HIGHEST quality score (ties → lowest doc_id) — the curation
    * variant of dedup_exact's keep-first. One `max(struct)` argmax per
    * content hash, no per-group sort.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    d.select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
      .groupBy("h")
      .agg(max(struct(col("q"), (-col("doc_id")).as("neg"), col("doc_id"))).as("m"),
        count(lit(1)).as("n_copies"))
      .select(col("m.doc_id").as("kept_doc"), round(col("m.q"), 6).as("quality"),
        col("n_copies"))
      .orderBy("kept_doc")
  }

  // reuses the standalone quality gate's VERIFIED SQL as a CTE (same
  // pattern as the curation funnel) — no second transcription to drift
  val dedupKeepBestSql: String = s"""
    WITH q AS (${TextQueries.qualityScoreSql}),
    scored AS (
      SELECT d.doc_id, md5(d.text) AS h, q.quality AS q
      FROM documents d JOIN q ON d.doc_id = q.doc_id),
    r AS (
      SELECT doc_id, h, q,
        row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY h) AS n_copies
      FROM scored)
    SELECT doc_id AS kept_doc, q AS quality, cast(n_copies AS BIGINT) AS n_copies
    FROM r WHERE rn = 1
    ORDER BY kept_doc"""

  /** Partial-aggregate MERGE — the incremental-rollup identity every
    * 100 TB pipeline leans on: daily partial states (counts + exact-
    * decimal sums) roll up to months by SUMMING STATES, never re-reading
    * detail rows. The oracle aggregates the detail DIRECTLY per month,
    * so the hash match is a proof that merge(partials) == direct — which
    * only holds because the partial states are associative (decimal
    * sums + counts; a double sum or a stored average would break it).
    * At scale the daily frame is what you'd persist; each new day
    * appends one partial and the rollup touches |days| rows, not the
    * fact table.
    */
  def aggMerge(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.read(spark, dir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(Relational.dec(col("l_quantity"))).as("sum_qty_d"),
        sum(Relational.dec(col("l_extendedprice"))).as("sum_price_d"))
    daily
      .groupBy(date_trunc("month", col("day")).cast("date").cast("string").as("month"),
        col("l_returnflag"))
      .agg(sum("n").as("n"),
        sum("sum_qty_d").cast("double").as("sum_qty"),
        (sum("sum_price_d").cast("double") / sum("n")).as("avg_price"))
      .orderBy("month", "l_returnflag")
  }

  val aggMergeSql: String = """
    SELECT cast(cast(date_trunc('month', l_shipdate) AS DATE) AS VARCHAR) AS month,
      l_returnflag,
      count(*) AS n,
      cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      cast(sum(cast(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY month, l_returnflag"""

  // ----------------------------------------------------------- registry

  // -------------------------------------------------- snapshot diff

  /** Release-to-release dataset diff: classify every order key across
    * two snapshots as added / removed / changed / unchanged — the audit
    * a data release ships next to its changelog. Snapshots are derived
    * deterministically from one table (md5-bucket fixture rule, like
    * `split_assign`): v1 lacks the "newest" 10% of keys, v2 drops the
    * first 5% and bumps totalprice on the next 5%, so all four classes
    * are exercised on any corpus. One full-outer sort-merge join on the
    * key — the MERGE INTO lowering reused as a pure report.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
      .withColumn("b", conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100)
    val v1 = o.filter(col("b") < 90)
      .select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1"))
    val v2 = o.filter(col("b") >= 5)
      .select(col("o_orderkey").as("k2"),
        when(col("b") < 10, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("p2"))
    val cls = v1.join(v2, col("k1") === col("k2"), "full_outer")
      .select(when(col("k1").isNull, "added")
        .when(col("k2").isNull, "removed")
        .when(col("p1") =!= col("p2"), "changed")
        .otherwise("unchanged").as("class"))
    cls.groupBy("class").agg(count(lit(1)).as("n_keys")).orderBy("class")
  }

  val snapshotDiffSql: String = """
    WITH o AS (
      SELECT o_orderkey, o_totalprice,
        CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
      FROM orders),
    v1 AS (SELECT o_orderkey AS k1, o_totalprice AS p1 FROM o WHERE b < 90),
    v2 AS (SELECT o_orderkey AS k2,
             CASE WHEN b < 10 THEN o_totalprice + 1.0 ELSE o_totalprice END AS p2
           FROM o WHERE b >= 5)
    SELECT CASE WHEN k1 IS NULL THEN 'added'
                WHEN k2 IS NULL THEN 'removed'
                WHEN p1 != p2 THEN 'changed'
                ELSE 'unchanged' END AS class,
      count(*) AS n_keys
    FROM v1 FULL OUTER JOIN v2 ON k1 = k2
    GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------- k-anonymity gate

  /** k-anonymity release gate over quasi-identifiers (lang, source,
    * length-bucket): a cell with fewer than k=5 members re-identifies
    * its documents by metadata alone. Per (lang, source): cell count,
    * smallest cell, and how many cells/docs sit under k — the table a
    * privacy review reads before a metadata-bearing corpus ships. One
    * aggregation tree, no joins.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_b"))
      .groupBy("lang", "source", "len_b")
      .agg(count(lit(1)).as("m"))
      .groupBy("lang", "source")
      .agg(sum("m").as("n_docs"), count(lit(1)).as("n_cells"),
        min("m").as("min_cell"),
        sum(when(col("m") < 5, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("m") < 5, col("m")).otherwise(lit(0L))).as("n_risky_docs"))
      .orderBy("lang", "source")

  val kAnonymitySql: String = """
    WITH cells AS (
      SELECT lang, source, n_chars // 100 AS len_b, count(*) AS m
      FROM documents GROUP BY 1, 2, 3)
    SELECT lang, source, cast(sum(m) AS BIGINT) AS n_docs, count(*) AS n_cells,
      min(m) AS min_cell,
      cast(sum(CASE WHEN m < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
      cast(sum(CASE WHEN m < 5 THEN m ELSE 0 END) AS BIGINT) AS n_risky_docs
    FROM cells GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------- differential-privacy release
  //
  // PRIVACY UNIT, stated once for the whole surface: DOCUMENT-level
  // adjacency — two corpora are neighbors when one document is added
  // or removed. Every sensitivity bound below is derived against that
  // unit (the one a training-data pipeline needs: "can this release
  // reveal whether a specific document was in the corpus").

  /** DP privacy budget for the released histogram. */
  private val DpEps = 1.0

  /** Per-document contribution clip for the word-frequency surface:
    * a document contributes each word at most ONCE (document
    * frequency, not term frequency — a doc repeating a word 10⁴ times
    * must not move that cell 10⁴ steps) and at most [[DpTopkClip]]
    * distinct words (its in-doc most frequent, ties by word asc — a
    * deterministic rule both engines replay). One document therefore
    * changes ≤ DpTopkClip cells by ≤ 1 each: utility sensitivity 1
    * per cell, L1 release sensitivity min(DpTopkClip, k).
    */
  private val DpTopkClip = 32
  private val DpTopkK = 10

  /** `dp_release` — the ε-differentially-private sibling of
    * [[kAnonymity]]: the (lang, source) document histogram released
    * with Laplace(1/ε) noise per cell, the standard counting-query
    * mechanism (sensitivity 1 — one document moves one cell by one;
    * cells are disjoint, so parallel composition spends ε TOTAL, not
    * ε per cell). The noise draw is the inverse-CDF transform of a
    * DETERMINISTIC md5-derived uniform keyed by the cell — the same
    * seeded-randomness discipline as the Poisson bootstrap
    * (`bootstrap_ci`): reproducible on every engine and every rerun,
    * no driver RNG state. (A real release would also need the seed
    * secret; the MECHANISM — sensitivity, budget accounting,
    * inverse-CDF shape — is what this operator carries, and a secret
    * seed is a config concern, documented here.) `released` is the
    * nonneg-integer post-processing (free under DP). Knife-edges
    * measured: min distance of any cell's u from {0, ½, 1} is 4.2e-4
    * (ln() singularities), and min distance of count+noise from a
    * .5 integer boundary is 4.0e-3 — both ≥ 10¹¹× the ~1e-16
    * cross-engine fp divergence. One aggregation, then scalar math:
    * scale-free at any corpus size.
    */
  def dpRelease(spark: SparkSession, dir: String): DataFrame =
    dpReleaseSalted(spark, dir, "")

  /** The production entry: `salt` keys every seed so the draws are
    * unpredictable to anyone without it (the [[dpRelease]] scaladoc's
    * "secret seed is a config concern", now a parameter). Empty salt
    * reproduces the registered oracle-parity release exactly — the
    * md5 keys concatenate identically. Accounting is salt-independent
    * (DpReleaseSpec pins both properties).
    */
  private[graft] def dpReleaseSalted(spark: SparkSession, dir: String,
      salt: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dp_"), lit(salt),
        col("lang"), lit("_"), col("source"))),
        1, 8), 16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)
    val noise = -lit(1.0 / DpEps) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    Tables.read(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), lit(DpEps).as("epsilon"),
        round(col("n") + noise, 4).as("noisy_count"),
        greatest(round(col("n") + noise, 0), lit(0.0)).cast("long").as("released"))
      .orderBy("lang", "source")
  }

  val dpReleaseSql: String = """
    WITH cells AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
    nz AS (
      SELECT lang, source, n,
        (CAST(CAST(concat('0x', substr(md5(concat('dp_', lang, '_', source)), 1, 8)) AS BIGINT)
          AS DOUBLE) + 0.5) / 4294967296.0 AS u
      FROM cells)
    SELECT lang, source, CAST(1.0 AS DOUBLE) AS epsilon,
      round(n + (-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 4) AS noisy_count,
      CAST(greatest(round(n + (-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 0), 0.0) AS BIGINT) AS released
    FROM nz ORDER BY lang, source"""

  /** Clipping bound for the DP mean's per-record contribution. */
  private val DpClip = 1000.0

  /** `dp_mean_release` — the second canonical DP mechanism next to
    * [[dpRelease]]'s counts: per-source mean document length released
    * as a NOISY-SUM / NOISY-COUNT ratio with the budget SPLIT ε/2 + ε/2
    * (sequential composition on the same cells — the accounting step
    * the counting query doesn't need). Sensitivity of the sum is
    * bounded by CLIPPING each contribution at [[DpClip]] (without the
    * clip one giant document makes the sum's sensitivity unbounded and
    * no finite noise is private); count sensitivity is 1. The
    * denominator clamps at 1 (post-processing) — measured margin
    * |noisy_count − 1| ≥ 20 at every SF, so the clamp branch cannot
    * flip cross-engine. `mean_noise_scale` = b_sum/ĉ is published next
    * to the release: the honest "this cell is noise" indicator
    * (measured median relative error 25% at 500-doc SFs, 2.5% at
    * sf0.1 — DP means need mass; the mechanism reports its own
    * uncertainty instead of hiding it). Same seeded inverse-CDF
    * Laplace as the count release, distinct seed tags per composed
    * query ('dps'/'dpc' — reusing a seed across the two queries would
    * correlate the draws and break the composition theorem's
    * independence assumption).
    */
  def dpMeanRelease(spark: SparkSession, dir: String): DataFrame =
    dpMeanReleaseSalted(spark, dir, "")

  private[graft] def dpMeanReleaseSalted(spark: SparkSession, dir: String,
      salt: String): DataFrame = {
    def u(tag: String) = (conv(substring(
      md5(concat(lit(tag + "_"), lit(salt), col("source"))),
      1, 8), 16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)
    def lap(tag: String, b: Double) = {
      val uu = u(tag)
      -lit(b) * signum(uu - 0.5) * log(lit(1.0) - lit(2.0) * abs(uu - 0.5))
    }
    val bSum = DpClip / (DpEps / 2) // eps/2 on the clipped sum
    val bCnt = 1.0 / (DpEps / 2)    // eps/2 on the count
    Tables.read(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(least(col("n_chars"), lit(DpClip.toLong))).as("s"))
      .select(col("source"), lit(DpEps).as("epsilon"), lit(DpClip).as("clip"),
        round(col("n") + lap("dpc", bCnt), 4).as("noisy_count"),
        round((col("s") + lap("dps", bSum)) /
          greatest(col("n") + lap("dpc", bCnt), lit(1.0)), 4).as("released_mean"),
        round(lit(bSum) / greatest(col("n") + lap("dpc", bCnt), lit(1.0)), 4)
          .as("mean_noise_scale"))
      .orderBy("source")
  }

  val dpMeanReleaseSql: String = {
    val uc = "(CAST(CAST(concat('0x', substr(md5(concat('dpc_', source)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    val us = "(CAST(CAST(concat('0x', substr(md5(concat('dps_', source)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    s"""
    WITH cells AS (
      SELECT source, count(*) AS n, sum(least(n_chars, 1000)) AS s
      FROM documents GROUP BY source),
    nz AS (
      SELECT source, n, s,
        (-2.0 * sign($uc - 0.5) * ln(1.0 - 2.0 * abs($uc - 0.5))) AS cn,
        (-2000.0 * sign($us - 0.5) * ln(1.0 - 2.0 * abs($us - 0.5))) AS sn
      FROM cells)
    SELECT source, CAST(1.0 AS DOUBLE) AS epsilon, CAST(1000.0 AS DOUBLE) AS clip,
      round(n + cn, 4) AS noisy_count,
      round((s + sn) / greatest(n + cn, 1.0), 4) AS released_mean,
      round(2000.0 / greatest(n + cn, 1.0), 4) AS mean_noise_scale
    FROM nz ORDER BY source"""
  }

  /** `dp_topk` — the third canonical DP mechanism after counts
    * ([[dpRelease]]) and means ([[dpMeanRelease]]): PRIVATE SELECTION.
    * "Which words appear in the most documents?" answered with honest
    * DOCUMENT-level accounting (the round-13 advisor finding, fixed):
    *
    *  - the counted quantity is CLIPPED DOCUMENT FREQUENCY
    *    ([[DpTopkClip]]): each doc contributes each word once, ≤ 32
    *    words total, so one document moves any cell by ≤ 1 — the raw
    *    term-frequency histogram has UNBOUNDED doc-level sensitivity
    *    and no finite noise makes it private;
    *  - one-shot Gumbel top-k IS k sequential exponential mechanisms
    *    (Durfee–Rogers 2019), so the selection is accounted as
    *    k = [[DpTopkK]] selections of ε/2k each (score =
    *    (ε/2k)/(2Δu)·df + Gumbel, Δu = 1), total ε/2;
    *  - the k released df's are Laplace-noised under the other ε/2
    *    with L1 sensitivity min(Clip, k) = 10 (one doc can shift up
    *    to 10 of the released cells by 1 each), scale b = 10/(ε/2) —
    *    the TRUE counts never leave.
    *
    * Gumbel and Laplace draws are seeded per word with DISTINCT tags
    * (composition independence, [[dpMeanRelease]] discipline), keyed
    * by the optional secret `salt` in production. Measured (DuckDB
    * replay, all SFs): min adjacent noisy-score gap around the top-12
    * boundary is 2.1e-3 — ≥10¹²× the ~1e-15 cross-engine fp
    * divergence, so both engines select identically. Scale shape: the
    * per-doc clip is a doc-keyed window (bounded by in-doc vocab),
    * then one vocab-sized df aggregation, a row-local score, and
    * TakeOrderedAndProject — never a global sort.
    */
  def dpTopk(spark: SparkSession, dir: String): DataFrame =
    dpTopkSalted(spark, dir, "")

  private[graft] def dpTopkSalted(spark: SparkSession, dir: String,
      salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def u(tag: String) = (conv(substring(
      md5(concat(lit(tag + "_"), lit(salt), col("w"))),
      1, 8), 16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)
    val epsSelEach = DpEps / 2 / DpTopkK
    val bLap = math.min(DpTopkClip, DpTopkK) / (DpEps / 2)
    val gumbel = -log(-log(u("dpt")))
    val uu = u("dptc")
    val lapC = -lit(bLap) * signum(uu - 0.5) * log(lit(1.0) - lit(2.0) * abs(uu - 0.5))
    val clipped = Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.wordTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tf").desc, col("w"))))
      .filter(col("rn") <= DpTopkClip)
    val counts = clipped.groupBy("w").agg(count(lit(1)).as("c"))
    val scored = counts
      .select(col("w"), (lit(epsSelEach / 2) * col("c") + gumbel).as("score"),
        round(col("c") + lapC, 4).as("noisy_count"))
      .orderBy(col("score").desc, col("w")).limit(DpTopkK)
    scored.select(row_number().over(
        Window.orderBy(col("score").desc, col("w"))).cast("long").as("rank"),
      col("w"), lit(DpEps).as("epsilon"), col("noisy_count"))
      .orderBy("rank")
  }

  val dpTopkSql: String = {
    val ut = "(CAST(CAST(concat('0x', substr(md5(concat('dpt_', w)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    val uc = "(CAST(CAST(concat('0x', substr(md5(concat('dptc_', w)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    s"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    dw AS (
      SELECT doc_id, w, count(*) AS tf FROM words WHERE w != ''
      GROUP BY doc_id, w),
    clipped AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, w,
          row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, w) AS rn
        FROM dw)
      WHERE rn <= $DpTopkClip),
    counts AS (SELECT w, count(*) AS c FROM clipped GROUP BY w),
    scored AS (
      SELECT w,
        ${DpEps / 2 / DpTopkK / 2} * c + (-ln(-ln($ut))) AS score,
        round(c + (-${math.min(DpTopkClip, DpTopkK) / (DpEps / 2)} * sign($uc - 0.5) * ln(1.0 - 2.0 * abs($uc - 0.5))), 4) AS noisy_count
      FROM counts)
    SELECT CAST(row_number() OVER (ORDER BY score DESC, w) AS BIGINT) AS rank,
      w, CAST($DpEps AS DOUBLE) AS epsilon, noisy_count
    FROM scored
    ORDER BY score DESC, w LIMIT $DpTopkK"""
  }

  /** `dp_quantile` — the fourth canonical mechanism (counts, means,
    * selection, now QUANTILES): the corpus median document length
    * released via the exponential mechanism over observed candidate
    * values, utility u(v) = −|#{x < v} − n/2| (sensitivity 1 — one
    * record moves any below-count by one), score = (ε/2)·u + seeded
    * Gumbel, argmax released. The below-counts come from ONE value
    * histogram + a cumulative window over the value-DISTINCT frame
    * (bounded by value cardinality, never corpus-sized — the
    * aggregate-bounded window the audit permits). Measured: released
    * value lands within 2 of the true median at every SF and the
    * top-2 noisy-score gap is ≥ 0.19 — ~10¹⁴× the ln() ulp, so both
    * engines select identically. The true median never leaves.
    */
  def dpQuantile(spark: SparkSession, dir: String): DataFrame =
    dpQuantileSalted(spark, dir, "")

  /** Round-13 advisor fix folded in: the released frame used to carry
    * the EXACT corpus size next to the DP median — private only under
    * an unstated bounded-adjacency assumption, and inconsistent with
    * [[dpRelease]] noising the very same count information. Under the
    * surface-wide document-level unit the count is now released
    * Laplace-noised on its own ε/2 (selection takes the other ε/2 —
    * score coefficient 0.25 = (ε/2)/2Δu; re-measured top-2 gap ≥ 0.24
    * across SFs, ~10¹⁴× the ln() ulp).
    *
    * Round-14 advisor fix: the count seed used to be keyed by the
    * data-independent constant `dpqn_<salt>n`, so every release under
    * a fixed salt drew the IDENTICAL Laplace value — differencing two
    * releases over neighboring corpora reveals the exact count delta,
    * making the ε/2 count protection single-release-only. `nonce` now
    * enters every seed alongside the salt: callers composing multiple
    * releases MUST key it per release (epoch, release id); the empty
    * nonce reproduces the registered single-release oracle parity.
    */
  private[graft] def dpQuantileSalted(spark: SparkSession, dir: String,
      salt: String, nonce: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def u(tag: String, v: org.apache.spark.sql.Column) = (conv(substring(
      md5(concat(lit(tag + "_"), lit(salt), lit(nonce), v.cast("string"))),
      1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val hist = Tables.read(spark, dir, "documents")
      .groupBy("n_chars").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum("c").as("n"))
    val un = u("dpqn", lit("n"))
    val lapN = -lit(1.0 / (DpEps / 2)) * signum(un - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(un - 0.5))
    val scored = hist
      .withColumn("below", coalesce(sum("c").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("n_chars"), col("n"),
        (lit(DpEps / 2 / 2) * -abs(col("below").cast("double") - col("n") / 2.0) +
          -log(-log(u("dpq", col("n_chars"))))).as("score"))
    scored.orderBy(col("score").desc, col("n_chars")).limit(1)
      .select(lit(DpEps).as("epsilon"), col("n_chars").as("released_median"),
        round(col("n") + lapN, 4).as("noisy_n_docs"))
  }

  val dpQuantileSql: String = {
    val uq = "(CAST(CAST(concat('0x', substr(md5(concat('dpq_', CAST(n_chars AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    val un = "(CAST(CAST(concat('0x', substr(md5('dpqn_n'), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0"
    s"""
    WITH hist AS (
      SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
    tot AS (SELECT sum(c) AS n FROM hist),
    scored AS (
      SELECT n_chars, tot.n,
        ${DpEps / 2 / 2} * -abs(CAST(coalesce(sum(c) OVER (ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          - CAST(tot.n AS DOUBLE) / 2.0)
        + (-ln(-ln($uq))) AS score
      FROM hist, tot)
    SELECT CAST($DpEps AS DOUBLE) AS epsilon, n_chars AS released_median,
      round(n + (-${1.0 / (DpEps / 2)} * sign($un - 0.5) * ln(1.0 - 2.0 * abs($un - 0.5))), 4) AS noisy_n_docs
    FROM scored ORDER BY score DESC, n_chars LIMIT 1"""
  }

  /** `dp_budget` — the privacy-accounting page for the whole DP
    * surface: one row per registered mechanism with the cells it
    * releases ON THIS CORPUS (counted from the data, so the ledger
    * tracks the actual release, not the schema), its ε, and the
    * composition rule that justifies the total. The grand total is
    * SEQUENTIAL composition across mechanisms (they all read the same
    * corpus), Σε = 4.0 — the number a privacy review signs off on,
    * and the reason the per-mechanism rows exist: "which query do we
    * drop to get under budget" is answered here. Four cheap
    * aggregations (two share the (lang, source)/(source) cell counts).
    */
  def dpBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.read(spark, dir, "documents")
    val histCells = d.select("lang", "source").distinct().count()
    val meanCells = d.select("source").distinct().count()
    Seq(
      ("dp_release", "laplace_count", "document", histCells, DpEps,
        "parallel over disjoint (lang, source) cells"),
      ("dp_mean_release", "laplace_clipped_sum_over_count", "document",
        meanCells, DpEps,
        "eps/2 + eps/2 sequential on the same source cells"),
      ("dp_topk", "gumbel_topk_as_k_exp_mechs + laplace_counts", "document",
        DpTopkK.toLong, DpEps,
        s"k=$DpTopkK sequential selections of eps/2k each on clipped doc-freqs " +
          s"(per-doc contribution <= $DpTopkClip words, 1 per cell) + " +
          s"eps/2 laplace on the k released counts (L1 sens = " +
          s"${math.min(DpTopkClip, DpTopkK)})"),
      ("dp_quantile", "exponential_over_candidates + laplace_count", "document",
        2L, DpEps,
        "eps/2 selection (sensitivity-1 utility) + eps/2 noisy corpus count"))
      .toDF("mechanism", "noise", "unit", "cells_released", "eps", "composition")
      .select(col("mechanism"), col("noise"), col("unit"), col("cells_released"),
        col("eps").as("epsilon"), col("composition"))
      .orderBy("mechanism")
  }

  val dpBudgetSql: String = s"""
    WITH hc AS (SELECT CAST(count(*) AS BIGINT) AS c
                FROM (SELECT DISTINCT lang, source FROM documents)),
    mc AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS c FROM documents)
    SELECT * FROM (
      SELECT 'dp_release' AS mechanism, 'laplace_count' AS noise,
        'document' AS unit,
        hc.c AS cells_released, CAST(1.0 AS DOUBLE) AS epsilon,
        'parallel over disjoint (lang, source) cells' AS composition FROM hc
      UNION ALL
      SELECT 'dp_mean_release', 'laplace_clipped_sum_over_count', 'document',
        mc.c, CAST(1.0 AS DOUBLE),
        'eps/2 + eps/2 sequential on the same source cells' FROM mc
      UNION ALL
      SELECT 'dp_topk', 'gumbel_topk_as_k_exp_mechs + laplace_counts',
        'document', CAST($DpTopkK AS BIGINT), CAST(1.0 AS DOUBLE),
        'k=$DpTopkK sequential selections of eps/2k each on clipped doc-freqs (per-doc contribution <= $DpTopkClip words, 1 per cell) + eps/2 laplace on the k released counts (L1 sens = ${math.min(DpTopkClip, DpTopkK)})'
      UNION ALL
      SELECT 'dp_quantile', 'exponential_over_candidates + laplace_count',
        'document', CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE),
        'eps/2 selection (sensitivity-1 utility) + eps/2 noisy corpus count')
    ORDER BY mechanism"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dp_release"         -> (dpRelease _),
    "dp_mean_release"    -> (dpMeanRelease _),
    "dp_topk"            -> (dpTopk _),
    "dp_quantile"        -> (dpQuantile _),
    "dp_budget"          -> (dpBudget _),
    "cdc_apply"          -> (cdcApply _),
    "rfm_segment"        -> (rfmSegment _),
    "snapshot_diff"      -> (snapshotDiff _),
    "k_anonymity"        -> (kAnonymity _),
    "latest_snapshot"    -> (latestSnapshot _),
    "mode_per_group"     -> (modePerGroup _),
    "dedup_keep_best"    -> (dedupKeepBest _),
    "profile_table"      -> (profileTable _),
    "skew_report"        -> (skewReport _),
    "interval_merge"     -> (intervalMerge _),
    "window_range_frame" -> (windowRangeFrame _),
    "merge_upsert"       -> (mergeUpsertQ _),
    "agg_merge"          -> (aggMerge _),
    "histogram_price"    -> (histogramPrice _))

  val oracle: Map[String, String] = Map(
    "dp_release"         -> dpReleaseSql,
    "dp_mean_release"    -> dpMeanReleaseSql,
    "dp_topk"            -> dpTopkSql,
    "dp_quantile"        -> dpQuantileSql,
    "dp_budget"          -> dpBudgetSql,
    "cdc_apply"          -> cdcApplySql,
    "rfm_segment"        -> rfmSegmentSql,
    "snapshot_diff"      -> snapshotDiffSql,
    "k_anonymity"        -> kAnonymitySql,
    "latest_snapshot"    -> latestSnapshotSql,
    "mode_per_group"     -> modePerGroupSql,
    "dedup_keep_best"    -> dedupKeepBestSql,
    "profile_table"      -> profileTableSql,
    "skew_report"        -> skewReportSql,
    "interval_merge"     -> intervalMergeSql,
    "window_range_frame" -> windowRangeFrameSql,
    "merge_upsert"       -> mergeUpsertSql,
    "agg_merge"          -> aggMergeSql,
    "histogram_price"    -> histogramPriceSql)
}
