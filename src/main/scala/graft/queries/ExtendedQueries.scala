package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Scored, TopKAgg}
import graft.operators.{DupClusters, Materialize, RangeJoin, TextAnalysis}
import graft.operators.Relational._
import graft.sources.Tables

/** Round-2 relational + scale batch: grouping sets, distribution windows,
  * unpivot, correlated subqueries, deterministic hash sampling, exact
  * moment statistics, the bucketed range join, the bounded top-k
  * aggregate, near-dup clustering, and the pure-SQL engine surface.
  */
object ExtendedQueries extends QueryModule {

  /** GROUPING SETS with explicitly chosen combinations (finer than CUBE:
    * only the rollups a report actually needs get computed).
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_returnflag"), col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumExact(col("l_quantity")).as("sum_qty"))
      .orderBy(
        col("l_returnflag").isNull.cast("int"), col("l_returnflag"),
        col("l_linestatus").isNull.cast("int"), col("l_linestatus"))

  val groupingSetsSql: String = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
      cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
    ORDER BY (l_returnflag IS NULL), l_returnflag,
             (l_linestatus IS NULL), l_linestatus"""

  /** Distribution windows: quartile bucket, percent rank, cumulative
    * distribution per priority. The orderkey tiebreak makes every rank
    * (and therefore every derived double) deterministic.
    */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  val windowNtileSql: String = """
    SELECT o_orderkey, o_orderpriority,
      cast(ntile(4) OVER w AS BIGINT) AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey"""

  /** Wide-to-long unpivot (melt) of per-priority aggregates. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n_orders"),
        sumExact(col("o_totalprice")).as("sum_total"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("sum_total")), "metric", "value")
      .orderBy("o_orderpriority", "metric")

  val unpivotMetricsSql: String = """
    WITH a AS (
      SELECT o_orderpriority, cast(count(*) AS DOUBLE) AS n_orders,
        cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
      FROM orders GROUP BY 1)
    SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
    UNION ALL
    SELECT o_orderpriority, 'sum_total' AS metric, sum_total AS value FROM a
    ORDER BY o_orderpriority, metric"""

  /** Correlated EXISTS / NOT EXISTS — Catalyst rewrites both to
    * semi/anti joins; the SQL text runs verbatim on either engine.
    */
  val existsSubquerySql: String = """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    ORDER BY c_custkey"""

  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(existsSubquerySql)
  }

  /** Scalar subquery in a predicate (exact-decimal mean, so the
    * threshold is partition-order independent).
    */
  val scalarSubquerySql: String = """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                         / cast(count(*) AS DOUBLE) FROM customer)
    ORDER BY c_custkey"""

  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(scalarSubquerySql)
  }

  private def registerViews(spark: SparkSession, dir: String): Unit = {
    Tables.read(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables.read(spark, dir, "orders").createOrReplaceTempView("orders")
  }

  /** Deterministic ~10% sample: rows whose md5(key) bucket falls under
    * the rate. Unlike `TABLESAMPLE`/`df.sample`, the SAME rows are chosen
    * on every engine, every run, every cluster size — the reproducible-
    * pipeline way to sample (at production scale swap md5 for xxhash64
    * and keep the bucket arithmetic).
    */
  private def hashBucket(key: org.apache.spark.sql.Column) =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")
      .filter(hashBucket(col("c_custkey")) < 10)
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  val sampleHashSql: String = """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    ORDER BY c_custkey"""

  /** Stratified deterministic sample: per-stratum rates (20% BUILDING,
    * 5% elsewhere) off the same hash bucket.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")
      .filter(hashBucket(col("c_custkey")) <
        when(col("c_mktsegment") === "BUILDING", 20).otherwise(5))
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  val sampleStratifiedSql: String = """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < (CASE WHEN c_mktsegment = 'BUILDING' THEN 20 ELSE 5 END)
    ORDER BY c_custkey"""

  /** Correlation / covariance / stddev from exact decimal moments: the
    * five sums accumulate as DECIMAL (associative, partition-order
    * independent), and the float math happens once per group in a fixed
    * expression order — so Spark and the oracle agree bit-for-bit, which
    * `corr()`-style streaming aggregates cannot guarantee across engines.
    */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val moments = Tables.read(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
    val nD = col("n").cast("double")
    // round(…,6): C++ engines may contract a*b - c*d into an FMA, which
    // rounds once where the JVM rounds twice — a 1-ulp wobble the
    // display rounding absorbs.
    moments.select(col("l_returnflag"), col("n"),
      round((nD * col("sxy") - col("sx") * col("sy")) /
        (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
         sqrt(nD * col("syy") - col("sy") * col("sy"))), 6).as("corr_qp"),
      round((col("sxy") - col("sx") * col("sy") / nD) / (nD - 1), 6).as("covar_qp"),
      round(sqrt((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1)), 6).as("sd_q"))
      .orderBy("l_returnflag")
  }

  val statsMomentsSql: String = """
    WITH m AS (
      SELECT l_returnflag, count(*) AS n,
        cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        cast(sum(cast(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        cast(sum(cast(l_quantity AS DECIMAL(19,6)) * cast(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        cast(sum(cast(l_extendedprice AS DECIMAL(19,6)) * cast(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy,
        cast(sum(cast(l_quantity AS DECIMAL(19,6)) * cast(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
      round((cast(n AS DOUBLE) * sxy - sx * sy)
        / (sqrt(cast(n AS DOUBLE) * sxx - sx * sx) * sqrt(cast(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_qp,
      round((sxy - sx * sy / cast(n AS DOUBLE)) / (cast(n AS DOUBLE) - 1), 6) AS covar_qp,
      round(sqrt((sxx - sx * sx / cast(n AS DOUBLE)) / (cast(n AS DOUBLE) - 1)), 6) AS sd_q
    FROM m
    ORDER BY l_returnflag"""

  /** Bucketed range join ([[RangeJoin]]): every purchase with the count
    * of the same user's clicks in the strictly-preceding hour.
    */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"))
    val pairs = RangeJoin.before(purchases, clicks, "user_id", "ts_us", "c_ts",
      windowUs = 3600000000L, rightPayload = Map("c_ts" -> "c_seen"))
    val counts = pairs.groupBy("event_id").agg(count(lit(1)).as("n_clicks_1h"))
    purchases.join(counts, Seq("event_id"), "left_outer")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_clicks_1h"), lit(0L)).as("n_clicks_1h"))
      .orderBy("event_id")
  }

  val rangeJoinEventsSql: String = """
    WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, count(c.ts_us) AS n_clicks_1h
    FROM p LEFT JOIN c ON p.user_id = c.user_id
      AND c.ts_us >= p.ts_us - 3600000000 AND c.ts_us < p.ts_us
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id"""

  /** Top-3 orders by price per priority via the k-bounded AGGREGATE
    * ([[TopKAgg]]): map-side combine caps the shuffle at k rows per
    * (group, partition) — no global per-group sort, unlike the
    * row_number window the oracle uses.
    */
  def topkAgg(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new TopKAgg(3), Encoders.product[Scored])
    Tables.read(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("t"))
      .select(col("o_orderpriority"),
        posexplode(arrays_zip(col("t.scores").as("total"), col("t.ids").as("o_orderkey"))))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
        col("col.total").as("total"), col("col.o_orderkey").as("o_orderkey"))
      .orderBy("o_orderpriority", "rk")
  }

  val topkAggSql: String = """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice, o_orderkey,
        row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    SELECT o_orderpriority, cast(rk AS BIGINT) AS rk,
      o_totalprice AS total, o_orderkey
    FROM ranked WHERE rk <= 3
    ORDER BY o_orderpriority, rk"""

  /** Near-dup clustering: winnow-fingerprint overlap edges (same source)
    * → connected components → every document labeled with its canonical
    * (minimum) cluster id. The oracle recomputes the same components via
    * a recursive CTE.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    // materialize the (md5-heavy) winnow ONCE: a self-join of the raw plan
    // would recompute every fingerprint twice. Right side rebuilt with
    // plain aliased selects (fresh exprIds) — .as("a")/.as("b") over a
    // checkpointed frame trips the AttributeMap analyzer bug.
    val wf = Materialize(
      TextAnalysis.winnowFingerprints(d, "doc_id", "text", n = 3, w = 4)
        .join(d.select(col("doc_id").as("id"), col("source")), "id"))
    val right = wf.select(col("id").as("bid"), col("fp").as("bfp"),
      col("source").as("bsource"))
    val edges = wf.join(right,
        col("source") === col("bsource") && col("fp") === col("bfp") &&
          col("id") < col("bid"))
      .select(col("id").as("src"), col("bid").as("dst")).distinct()
      // distinct kept: a pair sharing f fingerprints emits f rows; the
      // small-graph gate dedups on its own, but the distributed loop
      // would carry the multiplicity through every hop
    // opt-in above the 100k default: this harness drives a 128 GiB
    // single-JVM driver, so 2M edges (~200 MB peak per the operator's
    // documented bound) is comfortably affordable and keeps the 8×
    // fast path through the bench scales
    DupClusters.connectedComponents(d.select(col("doc_id").as("id")), edges,
      smallGraphMaxEdges = 2_000_000L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val dupClustersSql: String = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id, source, i, md5(array_to_string(t[i+1:i+3], ' ')) AS gh
      FROM toks, unnest(range(0, greatest(len(t)-3, 0) + 1)) AS u(i)),
    wins AS (
      SELECT DISTINCT doc_id, source, min(gh) OVER (PARTITION BY doc_id ORDER BY i
        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM grams),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst FROM wins a
      JOIN wins b ON a.source = b.source AND a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, u.dst FROM r JOIN und u ON u.src = r.m)
    SELECT n AS doc_id, min(m) AS cluster_id FROM r GROUP BY n ORDER BY doc_id"""

  /** Near-dup family-size distribution: how many clusters of each size
    * the winnow components form — the one-page dedup-health artifact
    * (a fat tail of large families means boilerplate; all-singletons
    * means the near-dup layer is finding nothing). Two dims-sized
    * aggregations over the verified [[dupClusters]] labeling; the
    * oracle nests the recursive-CTE clustering as a derived table.
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("family_size"))
      .groupBy("family_size").agg(count(lit(1)).as("n_families"))
      .orderBy("family_size")

  val dupClusterSizesSql: String = s"""
    SELECT family_size, count(*) AS n_families
    FROM (
      SELECT cluster_id, count(*) AS family_size
      FROM ($dupClustersSql)
      GROUP BY cluster_id)
    GROUP BY family_size
    ORDER BY family_size"""

  /** Soft deduplication — the trillion-token-scale alternative to
    * collapsing ([[clusterRep]]): every document KEPT, carrying the
    * training weight 1/family_size of its near-dup component, so a
    * passage duplicated k times contributes one document's worth of
    * gradient in expectation instead of k (upweighting boilerplate is
    * the measured failure mode hard dedup and soft dedup both fix;
    * soft dedup additionally keeps the within-family variation).
    * Composes the verified [[dupClusters]] labeling with one
    * cluster-keyed count — at scale the weight join is a broadcast of
    * the (cluster, size) frame for the non-singleton slice only, since
    * singletons (the overwhelming mass) weigh exactly 1.
    */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val cl = dupClusters(spark, dir)
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("family_size"))
    cl.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("family_size"),
        round(lit(1.0) / col("family_size"), 6).as("weight"))
      .orderBy("doc_id")
  }

  val dedupSoftWeightsSql: String = s"""
    WITH clusters AS ($dupClustersSql)
    SELECT doc_id, cluster_id,
      count(*) OVER (PARTITION BY cluster_id) AS family_size,
      round(CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY cluster_id), 6) AS weight
    FROM clusters
    ORDER BY doc_id"""

  /** Per-cluster representative selection — the step that actually
    * COLLAPSES a near-dup corpus: each connected component keeps its
    * highest-quality member (ties → lowest doc_id). Composes the
    * verified dup_clusters labeling with the verified quality score; the
    * argmax is one `max(struct)` aggregate (map-side combined, no
    * per-group sort — the `latest_snapshot` pattern). Oracle nests the
    * recursive-CTE clustering and the quality CTE, argmax via
    * row_number.
    */
  def clusterRep(spark: SparkSession, dir: String): DataFrame = {
    val quality = Tables.read(spark, dir, "documents").select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
    dupClusters(spark, dir).join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        // quality desc, then LOWEST doc_id: negate the id inside the
        // struct-max (exact for longs far below overflow)
        max(struct(col("quality").as("q"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.negid")).as("rep_doc"), col("best.q").as("rep_quality"))
      .orderBy("cluster_id")
  }

  val clusterRepSql: String = s"""
    WITH clusters AS ($dupClustersSql),
    q AS (${TextQueries.qualityScoreSql}),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.quality,
        row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.quality DESC, c.doc_id) AS rk,
        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN q ON c.doc_id = q.doc_id)
    SELECT cluster_id, cast(n_members AS BIGINT) AS n_members,
      doc_id AS rep_doc, quality AS rep_quality
    FROM ranked WHERE rk = 1
    ORDER BY cluster_id"""

  /** The engine's SQL surface end-to-end: the username derivation of the
    * ETL (F2/F4/F8) written as ONE SQL string against a temp view, using
    * the injected `deaccent` — what a SQL-first user of the library
    * actually types.
    */
  /** Calendar densification: a weekly spine spanning the data's own date
    * bounds, left-joined against per-week order counts so silent weeks
    * appear as explicit zeros — the gap-filling shape every time-series
    * report needs.
    *
    * Deliberately `sequence()` + explode, NOT a recursive CTE: Spark 4
    * executes WITH RECURSIVE as a driver-iterated loop (one job per
    * level — measured ~60 s for a 344-week spine), which is the wrong
    * tool for series generation at any scale. Recursion support itself
    * is pinned in `RecursiveCteSpec`; the decision is recorded in
    * SURVEY §7.3.
    */
  def calendarFill(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Tables.read(spark, dir, "orders")
      .agg(min(col("o_orderdate").cast("date")).as("mn"),
        max(col("o_orderdate").cast("date")).as("mx"))
    val spine = bounds.select(explode(expr(
      "sequence(mn, mx, interval 7 days)")).as("wk"))
    val counts = Tables.read(spark, dir, "orders")
      .crossJoin(broadcast(bounds.select("mn")))
      .select(expr("date_add(mn, 7 * cast(floor(datediff(cast(o_orderdate AS DATE), mn) / 7.0) AS INT))").as("wk"))
      .groupBy("wk").agg(count(lit(1)).as("n"))
    spine.join(counts, Seq("wk"), "left")
      .select(col("wk").cast("string").as("week_start"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("week_start")
  }

  val calendarFillSql: String = """
    WITH bounds AS (
      SELECT min(cast(o_orderdate AS DATE)) AS mn,
             max(cast(o_orderdate AS DATE)) AS mx
      FROM orders),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 7 DAY))::DATE AS wk FROM bounds),
    counts AS (
      SELECT mn + to_days(7 * cast(floor(date_diff('day', mn, cast(o_orderdate AS DATE)) / 7.0) AS INT)) AS wk,
        count(*) AS n
      FROM orders, bounds
      GROUP BY 1)
    SELECT cast(s.wk AS VARCHAR) AS week_start,
      coalesce(c.n, cast(0 AS BIGINT)) AS n_orders
    FROM spine s LEFT JOIN counts c ON s.wk = c.wk
    ORDER BY week_start"""

  /** Spark 4 collations: case-insensitive grouping via a UTF8_LCASE
    * collated key (planted mixed-case values so the collation provably
    * merges them). The representative value a collated group returns is
    * order-dependent, so the output key is explicitly lowercased — and
    * the oracle states the equivalent lower() grouping, which UTF8_LCASE
    * equality coincides with on this ASCII data.
    */
  def collatedGroup(spark: SparkSession, dir: String): DataFrame = {
    Tables.read(spark, dir, "customer").createOrReplaceTempView("customer_coll")
    spark.sql("""
      SELECT lower(k) AS segment, n FROM (
        SELECT collate(seg_mixed, 'UTF8_LCASE') AS k, count(*) AS n
        FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                          ELSE lower(c_mktsegment) END AS seg_mixed
              FROM customer_coll)
        GROUP BY collate(seg_mixed, 'UTF8_LCASE'))
      ORDER BY segment""")
  }

  val collatedGroupSql: String = """
    SELECT lower(seg_mixed) AS segment, count(*) AS n
    FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                      ELSE lower(c_mktsegment) END AS seg_mixed
          FROM customer)
    GROUP BY lower(seg_mixed)
    ORDER BY segment"""

  /** Spark 4's SQL pipe syntax (`|>`): the linear FROM→filter→aggregate→
    * having→sort spelling of a grouped report. Same Catalyst plan as the
    * nested form — this entry pins the surface; the oracle states the
    * equivalent ANSI.
    */
  def pipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    Tables.read(spark, dir, "orders").createOrReplaceTempView("orders_pipe")
    spark.sql("""
      FROM orders_pipe
      |> WHERE o_orderstatus = 'O'
      |> AGGREGATE count(*) AS n,
           cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
           GROUP BY o_orderpriority
      |> WHERE n > 10
      |> ORDER BY o_orderpriority""")
  }

  val pipeSyntaxSql: String = """
    SELECT o_orderpriority, count(*) AS n,
      cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY o_orderpriority"""

  /** Correlated LATERAL subquery with per-row LIMIT — the SQL-standard
    * spelling of top-k-per-group, planned by Catalyst as a rewritten
    * join (no driver loop, no UDF). Same result as the window/aggregate
    * top-k forms; this entry pins the SQL surface itself.
    */
  def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.read(spark, dir, "customer").createOrReplaceTempView("customer_lat")
    Tables.read(spark, dir, "orders").createOrReplaceTempView("orders_lat")
    spark.sql("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer_lat c,
      LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders_lat o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
      ) t
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
  }

  val lateralTopkSql: String = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"""

  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.Graft.register(spark)
    graft.fixtures.Fixtures.roster(spark, dir).createOrReplaceTempView("roster_sql")
    spark.sql("""
      SELECT rut,
        deaccent(lower(translate(
          split(trim(nombres), '\\s+')[0] || split(trim(apellidos), '\\s+')[0],
          ' .,''"', ''))) AS username
      FROM roster_sql
      WHERE rut IS NOT NULL AND nombres IS NOT NULL
      ORDER BY rut""")
  }

  val sqlSurfaceSql: String = """
    WITH roster_sql AS (%s)
    SELECT rut,
      strip_accents(lower(translate(
        string_split_regex(trim(nombres), '\s+')[1] || string_split_regex(trim(apellidos), '\s+')[1],
        ' .,''"', ''))) AS username
    FROM roster_sql
    WHERE rut IS NOT NULL AND nombres IS NOT NULL
    ORDER BY rut""".format(graft.fixtures.Fixtures.rosterSql)

  /** Misra-Gries heavy hitters: frequent words per source via the
    * capacity-bounded mergeable sketch
    * ([[graft.functions.HeavyHittersAgg]], c=64) — the constant-memory
    * sibling of the exact `top_words` explode+count. Raw sketch counts
    * are arrival-order dependent (inherent to MG), but the sketch's
    * GUARANTEES are deterministic: every word with true count
    * f > n/(c+1) must be present, with estimate in [f − n/(c+1), f].
    * TOLERANCE-oracled on exactly that contract (same pattern as
    * `approx_distinct`/`approx_quantiles`): the query joins the sketch
    * against the exact per-word counts, keeps the guaranteed-hot set
    * (65·f > n, integer math), and emits 0/1 presence/in-bounds flags.
    * The oracle recomputes the hot set exactly and expects all-1 flags —
    * a sketch that drops a guaranteed key or overcounts fails the hash.
    * The exact count side is itself one cheap hash aggregation; at
    * 100 TB the sketch is the survivor (bounded state per group), and
    * the verification join stays keyed on (source, word).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val hh = udaf(new graft.functions.HeavyHittersAgg(64), Encoders.STRING)
    val toks = Tables.read(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.wordTokens(col("text"))).as("w"))
    val sk = toks.groupBy("source")
      .agg(hh(col("w")).as("h"), count(lit(1)).as("n"))
    val est = sk.select(col("source"), col("n"),
        explode(arrays_zip(col("h.keys").as("word"), col("h.counts").as("e"))).as("z"))
      .select(col("source"), col("z.word").as("w"), col("z.e").as("est"))
    val hot = toks.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .join(sk.select("source", "n"), Seq("source"))
      .filter(col("cnt") * 65 > col("n")) // f > n/(c+1) ⇒ guaranteed in sketch
    hot.join(est, Seq("source", "w"), "left")
      .select(col("source"), col("w").as("word"), col("cnt"),
        col("est").isNotNull.cast("long").as("present"),
        (col("est").isNotNull && col("est") <= col("cnt") &&
          (col("cnt") - col("est")) * 65 <= col("n")).cast("long").as("est_in_bounds"))
      .orderBy("source", "word")
  }

  val heavyHittersSql: String = """
    WITH w AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents),
    tot AS (SELECT source, count(*) AS n FROM w GROUP BY 1),
    cnts AS (SELECT source, word, count(*) AS cnt FROM w GROUP BY 1, 2)
    SELECT c.source, c.word, c.cnt,
      CAST(1 AS BIGINT) AS present, CAST(1 AS BIGINT) AS est_in_bounds
    FROM cnts c JOIN tot t USING (source)
    WHERE c.cnt * 65 > t.n
    ORDER BY c.source, c.word"""

  /** Approximate quantiles (Greenwald-Khanna sketch, accuracy 1000):
    * the mergeable, bounded-memory sibling of the exact `percentiles`
    * query — at 100 TB the exact sort-based percentile is the thing you
    * stop being able to afford. TOLERANCE-oracled: the sketch value is
    * engine-specific, but GK guarantees RANK error ≤ 1/accuracy, so the
    * query emits the exact interpolated p50/p90 (cross-engine checkable,
    * same contract as `percentiles`) plus 0/1 flags asserting the sketch
    * landed between the exact p45..p55 / p85..p95 values — 50× the
    * guaranteed rank slack. The oracle recomputes the exact quantiles and
    * expects 1s; a drifting sketch flips a flag and fails the hash.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50a"),
        percentile_approx(col("value"), lit(0.9), lit(1000)).as("p90a"),
        expr("percentile(value, 0.45)").as("p45"),
        expr("percentile(value, 0.50)").as("p50"),
        expr("percentile(value, 0.55)").as("p55"),
        expr("percentile(value, 0.85)").as("p85"),
        expr("percentile(value, 0.90)").as("p90"),
        expr("percentile(value, 0.95)").as("p95"))
      .select(col("event_type"),
        round(col("p50"), 6).as("p50_exact"),
        round(col("p90"), 6).as("p90_exact"),
        (col("p50a") >= col("p45") && col("p50a") <= col("p55")).cast("long").as("p50_in_bounds"),
        (col("p90a") >= col("p85") && col("p90a") <= col("p95")).cast("long").as("p90_in_bounds"))
      .orderBy("event_type")

  val approxQuantilesSql: String = """
    SELECT event_type,
      round(quantile_cont(value, 0.5), 6) AS p50_exact,
      round(quantile_cont(value, 0.9), 6) AS p90_exact,
      cast(1 AS BIGINT) AS p50_in_bounds,
      cast(1 AS BIGINT) AS p90_in_bounds
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** Date/interval function surface: month truncation, clamped month
    * arithmetic, month-end, day arithmetic, quarter — the calendar ops a
    * partition-pruned lake layout leans on. Everything lands as DATE
    * strings so both engines render identically.
    */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").cast("string").as("month_start"),
        add_months(col("o_orderdate").cast("date"), 3).cast("string").as("plus3mo"),
        last_day(col("o_orderdate")).cast("string").as("month_end"),
        datediff(col("o_orderdate").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("days_since"),
        quarter(col("o_orderdate")).cast("long").as("qtr"))
      .orderBy("o_orderkey")

  val dateFunctionsSql: String = """
    SELECT o_orderkey,
      cast(cast(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
      cast(cast(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3mo,
      cast(last_day(o_orderdate) AS VARCHAR) AS month_end,
      cast(datediff('day', DATE '2024-01-01', cast(o_orderdate AS DATE)) AS BIGINT) AS days_since,
      cast(quarter(o_orderdate) AS BIGINT) AS qtr
    FROM orders
    ORDER BY o_orderkey"""

  /** Frame-edge window values: first / last / nth over the full per-user
    * frame (value picks, no arithmetic — engine-exact by construction).
    */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        first("value").over(w).as("first_v"),
        last("value").over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("event_id")
  }

  val windowFirstLastSql: String = """
    SELECT user_id, event_id,
      first_value(value) OVER w AS first_v,
      last_value(value) OVER w AS last_v,
      nth_value(value, 2) OVER w AS second_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY event_id"""

  /** Multiset (ALL) set operations: duplicates carry multiplicity, so
    * EXCEPT ALL subtracts occurrence counts instead of set membership.
    */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.read(spark, dir, "orders").select(col("o_custkey").as("custkey"))
    val urgent = Tables.read(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    all.exceptAll(urgent)
      .groupBy("custkey").agg(count(lit(1)).as("n_residual"))
      .orderBy("custkey")
  }

  val setExceptAllSql: String = """
    WITH residual AS (
      SELECT o_custkey AS custkey FROM orders
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT custkey, count(*) AS n_residual
    FROM residual
    GROUP BY custkey
    ORDER BY custkey"""

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * pair with NULL keys instead of silently dropping — the semantics a
    * dedup-on-nullable-column pipeline actually wants.
    */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(spark, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey"))
          .as("nk"))
    // +7 stride: custkeys k and k+7 are BOTH ≡0 (mod 7) when k is, so
    // NULL<=>NULL pairs genuinely occur — the semantics under test
    c.as("a").join(c.as("b"), col("a.nk") <=> col("b.nk") &&
        col("a.c_custkey") + 7 === col("b.c_custkey"))
      .select(col("a.c_custkey").as("custkey"),
        coalesce(col("a.nk"), lit(-1)).cast("long").as("nk_group"))
      .orderBy("custkey")
  }

  val joinNullSafeSql: String = """
    WITH c AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
      FROM customer)
    SELECT a.c_custkey AS custkey,
      cast(coalesce(a.nk, -1) AS BIGINT) AS nk_group
    FROM c a JOIN c b
      ON a.nk IS NOT DISTINCT FROM b.nk AND a.c_custkey + 7 = b.c_custkey
    ORDER BY custkey"""

  /** Built-in session-window aggregation (`session_window`): Spark's
    * native merging-session operator — a different physical path
    * (UpdatingSessions) from the island-numbering `events_sessionize`.
    * The oracle rebuilds the same sessions arithmetically: gap-break
    * islands, end = last event + gap.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  val sessionWindowAggSql: String = """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
    m AS (
      SELECT user_id, ts_us, value,
        CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
    g AS (
      SELECT user_id, ts_us, value,
        sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM m)
    SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 1800000000 AS end_us,
      count(*) AS n_events,
      cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM g
    GROUP BY user_id, sid
    ORDER BY user_id, start_us"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "grouping_sets"     -> (groupingSets _),
    "window_ntile"      -> (windowNtile _),
    "unpivot_metrics"   -> (unpivotMetrics _),
    "exists_subquery"   -> (existsSubquery _),
    "scalar_subquery"   -> (scalarSubquery _),
    "sample_hash"       -> (sampleHash _),
    "sample_stratified" -> (sampleStratified _),
    "stats_moments"     -> (statsMoments _),
    "range_join_events" -> (rangeJoinEvents _),
    "topk_agg"          -> (topkAgg _),
    "dup_clusters"      -> (dupClusters _),
    "dup_cluster_sizes" -> (dupClusterSizes _),
    "dedup_soft_weights" -> (dedupSoftWeights _),
    "sql_surface"       -> (sqlSurface _),
    "lateral_topk"      -> (lateralTopk _),
    "pipe_syntax"       -> (pipeSyntax _),
    "collated_group"    -> (collatedGroup _),
    "calendar_fill"     -> (calendarFill _),
    "date_functions"    -> (dateFunctions _),
    "window_firstlast"  -> (windowFirstLast _),
    "heavy_hitters"     -> (heavyHitters _),
    "approx_quantiles"  -> (approxQuantiles _),
    "cluster_rep"       -> (clusterRep _),
    "set_except_all"    -> (setExceptAll _),
    "join_null_safe"    -> (joinNullSafe _),
    "session_window_agg" -> (sessionWindowAgg _))

  val oracle: Map[String, String] = Map(
    "heavy_hitters"     -> heavyHittersSql,
    "approx_quantiles"  -> approxQuantilesSql,
    "cluster_rep"       -> clusterRepSql,
    "grouping_sets"     -> groupingSetsSql,
    "window_ntile"      -> windowNtileSql,
    "unpivot_metrics"   -> unpivotMetricsSql,
    "exists_subquery"   -> existsSubquerySql,
    "scalar_subquery"   -> scalarSubquerySql,
    "sample_hash"       -> sampleHashSql,
    "sample_stratified" -> sampleStratifiedSql,
    "stats_moments"     -> statsMomentsSql,
    "range_join_events" -> rangeJoinEventsSql,
    "topk_agg"          -> topkAggSql,
    "dup_clusters"      -> dupClustersSql,
    "dup_cluster_sizes" -> dupClusterSizesSql,
    "dedup_soft_weights" -> dedupSoftWeightsSql,
    "sql_surface"       -> sqlSurfaceSql,
    "lateral_topk"      -> lateralTopkSql,
    "pipe_syntax"       -> pipeSyntaxSql,
    "collated_group"    -> collatedGroupSql,
    "calendar_fill"     -> calendarFillSql,
    "date_functions"    -> dateFunctionsSql,
    "window_firstlast"  -> windowFirstLastSql,
    "set_except_all"    -> setExceptAllSql,
    "join_null_safe"    -> joinNullSafeSql,
    "session_window_agg" -> sessionWindowAggSql)
}
