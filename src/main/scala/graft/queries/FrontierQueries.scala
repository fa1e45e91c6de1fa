package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Frontier/statistics operators: Pareto skyline, per-group OLS
  * regression, weighted reservoir-style sampling, and approximate
  * distinct-count rollup via mergeable HLL sketches.
  *
  * Scale discipline: the skyline collapses to a |domain|-sized frame
  * before its (tiny) window; regression is five exact map-side sums per
  * group; weighted sampling is a top-k (TakeOrderedAndProject, no global
  * sort); the HLL rollup demonstrates the sketch-mergeability contract
  * that makes pre-aggregation possible at all — daily sketches union to
  * months without re-reading raw data.
  */
object FrontierQueries extends QueryModule {

  // -------------------------------------------------------- pareto front

  /** 2-D Pareto skyline of parts: minimize p_retailprice, maximize
    * p_size. A part survives iff nothing strictly dominates it
    * (price' ≤ price ∧ size' ≥ size, strict somewhere).
    *
    * Shape, built for 100 TB: aggregate to one (size → min price) row
    * per size value FIRST — the window then runs over ≤|size domain|
    * rows (50 here; a grid/quantile prune plays the same role for a
    * continuous attribute), so the "global" window is a constant-sized
    * frame, not a data-sized one. A row survives iff its price equals
    * its size's min AND is strictly below every larger size's min
    * (running min over the size-desc order, current row excluded).
    * The survivors join back to parts broadcast.
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.read(spark, dir, "part")
    val bySize = p.groupBy("p_size").agg(min("p_retailprice").as("m"))
    val w = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bySize
      .withColumn("better", min("m").over(w))
      .filter(col("better").isNull || col("m") < col("better"))
      .select(col("p_size").as("f_size"), col("m"))
    p.join(broadcast(frontier),
        col("p_size") === col("f_size") && col("p_retailprice") === col("m"))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  val paretoFrontSql: String = """
    WITH by_size AS (
      SELECT p_size, min(p_retailprice) AS m FROM part GROUP BY 1),
    frontier AS (
      SELECT p_size, m,
        min(m) OVER (ORDER BY p_size DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better
      FROM by_size QUALIFY better IS NULL OR m < better)
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p JOIN frontier f
      ON p.p_size = f.p_size AND p.p_retailprice = f.m
    ORDER BY p.p_partkey"""

  // --------------------------------------------------- per-group regression

  /** Per-nation OLS of line revenue (cents) on quantity: slope,
    * intercept, and Pearson r from the five classic sums — every sum
    * is EXACT (quantities and cent-prices cast to DECIMAL(38,0);
    * HUGEINT on the oracle), so numerator and denominator are
    * bit-agreed integers and each final statistic is one agreed
    * double expression. sum(long) would wrap at warehouse scale —
    * that is why the casts are not optional.
    */
  def regrPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
    val s = Tables.read(spark, dir, "supplier")
    val n = Tables.read(spark, dir, "nation")
    val dec: Column => Column = _.cast("decimal(38,0)")
    val xy = li.join(s, li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .select(col("n_name"),
        dec(col("l_quantity").cast("long")).as("x"),
        dec(round(col("l_extendedprice") * 100).cast("long")).as("y"))
    val sums = xy.groupBy("n_name").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num  = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / denx
    sums.select(col("n_name"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double")) / col("n"), 6)
          .as("intercept"),
        round(num / (sqrt(denx) * sqrt(deny)), 6).as("r"))
      .orderBy("n_name")
  }

  val regrPerGroupSql: String = """
    WITH xy AS (
      SELECT n.n_name,
        cast(cast(l.l_quantity AS BIGINT) AS HUGEINT) AS x,
        cast(cast(round(l.l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS y
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey),
    sums AS (
      SELECT n_name, count(*) AS n,
        sum(x) AS sx, sum(y) AS sy,
        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy GROUP BY 1)
    SELECT n_name, n,
      round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
      round((CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
      round(CAST(n * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
    FROM sums ORDER BY n_name"""

  // ------------------------------------------------- weighted sampling

  /** Sample size for the weighted sample. */
  val WSampleK = 40

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-Res): each doc draws u ∈ (0,1) from a hash of its id
    * and gets key u^(1/w) with w = n_chars; the top-k keys are the
    * sample, so inclusion probability rises with weight while staying
    * reproducible on any engine, any run, any cluster size — the
    * weighted sibling of `sample_hash`. Selection is ORDER BY/LIMIT
    * (per-partition top-k, k-row merge); output re-sorts by doc_id so
    * the compared rows are keyed by an exact integer.
    *
    * The ranking key is ROUNDED to 12 digits before selection (with a
    * doc_id tiebreak): pow is transcendental, JVM and libm can differ
    * by an ulp, and an unrounded ORDER BY/LIMIT would let that ulp
    * decide boundary membership. After rounding, engines only disagree
    * if a key sits within an ulp of a 1e-12 grid line AND at the k-th
    * rank — vanishing, vs. every boundary row before.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    Tables.read(spark, dir, "documents")
      .withColumn("key", round(pow(u, lit(1.0) / col("n_chars").cast("double")), 12))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(WSampleK)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  val sampleWeightedSql: String = s"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
        round(pow((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
              / 4294967296.0,
            1.0 / CAST(n_chars AS DOUBLE)), 12) AS key
      FROM documents),
    top AS (SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT $WSampleK)
    SELECT doc_id, n_chars FROM top ORDER BY doc_id"""

  // ----------------------------------------------------- HLL sketch rollup

  /** Relative-error gate for the sketch rollup (lgConfigK=14 → rsd
    * ≈ 0.8%, so 5% is a >6σ bound — the tolerance-oracle pattern).
    */
  val HllGate = 0.05

  /** Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    * unioned per ISO week — the warehouse pattern where raw data is
    * read ONCE (at daily granularity) and every coarser period
    * aggregates sketches, not rows. The oracle is the tolerance kind:
    * the output carries the EXACT weekly distinct count plus an
    * in-bounds flag the estimate must satisfy, so DuckDB (different
    * sketch impl) can still hash-match.
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(date_trunc("week", col("ts")).cast("date").as("week"),
        col("ts").cast("date").as("day"), col("user_id"))
    val daily = e.groupBy("week", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val est = daily.groupBy("week")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = e.groupBy("week")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, "week")
      .select(col("week"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <= col("exact_users") * HllGate)
          .cast("long").as("in_bounds"))
      .orderBy("week")
  }

  val hllRollupSql: String = """
    SELECT cast(date_trunc('week', ts) AS DATE) AS week,
      count(DISTINCT user_id) AS exact_users,
      cast(1 AS BIGINT) AS in_bounds
    FROM events GROUP BY 1 ORDER BY 1"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pareto_front"    -> (paretoFront _),
    "regr_per_group"  -> (regrPerGroup _),
    "sample_weighted" -> (sampleWeighted _),
    "hll_rollup"      -> (hllRollup _))

  val oracle: Map[String, String] = Map(
    "pareto_front"    -> paretoFrontSql,
    "regr_per_group"  -> regrPerGroupSql,
    "sample_weighted" -> sampleWeightedSql,
    "hll_rollup"      -> hllRollupSql)
}
