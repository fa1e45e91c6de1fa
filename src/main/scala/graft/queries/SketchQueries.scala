package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{CmsAgg, KmvAgg}
import graft.sources.Tables

/** Bounded-memory set-sketch operators. The distinguishing capability
  * over the HLL path (`approx_distinct`, `hll_rollup`): KMV/theta
  * sketches retain a uniform SAMPLE of the keyspace, so set EXPRESSIONS
  * between groups — intersection, difference — stay estimable after
  * aggregation. At 100 TB you cannot afford an exact pairwise
  * source-overlap join over every pair of a thousand sources; one
  * sketch per source (k longs, mergeable, one aggregation exchange)
  * plus an S² pairwise combine over the tiny post-agg frame is the
  * standard answer (DataSketches theta; Beyer et al., SIGMOD'07).
  */
object SketchQueries extends QueryModule {

  // --------------------------------------------------- theta intersect

  private val K = 1024

  /** Pairwise estimated source overlap from per-source KMV sketches,
    * tolerance-oracled against the exact distinct-text intersection.
    *
    * Shape: one sketch row per source (bounded k longs each, map-side
    * combined), pairwise expansion only AFTER aggregation — the
    * S×S join runs on an |sources|-row frame, never on the corpus. The
    * exact companion reuses the `cross_source_overlap` grouped
    * source-set expansion (row-local ≤|S|² pairs per text, one
    * exchange), NOT a corpus self-join, so the audit itself holds at
    * scale. Oracle emits the exact counts plus a literal flag; the
    * estimating regime (|S| >> k) is exercised in KmvSketchSpec.
    */
  def thetaIntersect(spark: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(new KmvAgg(K))
    val d = Tables.read(spark, dir, "documents").filter(col("text").isNotNull)

    val sk = d.groupBy("source")
      .agg(kmv(xxhash64(col("text"))).as("sk"))
      .select(col("source"), col("sk.vals").as("vals"),
        // theta in the sign-flipped domain: the k-th smallest when the
        // cap was reached, else "whole space seen" (MaxValue ≈ frac 1.0)
        when(col("sk.full"), element_at(col("sk.vals"), -1))
          .otherwise(lit(Long.MaxValue)).as("theta"))

    val a = sk.select(col("source").as("source_a"), col("vals").as("va"), col("theta").as("ta"))
    val b = sk.select(col("source").as("source_b"), col("vals").as("vb"), col("theta").as("tb"))
    val theta = least(col("ta"), col("tb"))
    // retained ∩ retained strictly below the combined theta = uniform
    // sample of A ∩ B at rate frac(theta)
    val common = size(filter(array_intersect(col("va"), col("vb")), v => v < theta))
    val fracTheta = (theta.cast("double") - lit(Long.MinValue.toDouble)) / lit(math.pow(2.0, 64))
    val est = a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (common.cast("double") / fracTheta).as("est"),
        fracTheta.as("p"))

    // exact distinct-text overlap, the scalable way: group each text's
    // source set, expand ordered pairs row-locally (bounded by |S|²)
    val ss = sort_array(collect_set(col("source")))
    val pairs = flatten(transform(col("ss"), (x, i) =>
      transform(slice(col("ss"), i + 2, size(col("ss"))), y =>
        struct(x.as("source_a"), y.as("source_b")))))
    val exact = d.select("text", "source").distinct()
      .groupBy("text").agg(ss.as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(pairs).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("exact_shared"))

    // Tolerance scales with the sketch's own sampling variance: the
    // retained-common count is ~Binomial(exact, p) so Var(est) ≈
    // exact·(1/p − 1); a 3σ band plus the old max(3, 10%) floor keeps
    // the flag meaningful in BOTH regimes — non-full sketches (p = 1,
    // σ = 0, exact gate) and the estimating regime (|source| ≫ k,
    // where a fixed 10% band would trip on healthy sketches).
    val ex = coalesce(col("exact_shared"), lit(0L))
    val sigma = sqrt(ex.cast("double") *
      greatest(lit(1.0) / col("p") - lit(1.0), lit(0.0)))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        ex.as("exact_shared"),
        (abs(col("est") - ex) <=
          greatest(lit(3.0), ex * lit(0.1), lit(3.0) * sigma))
          .cast("long").as("in_bounds"))
      .orderBy("source_a", "source_b")
  }

  val thetaIntersectSql: String = """
    WITH s AS (SELECT DISTINCT source FROM documents WHERE text IS NOT NULL),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM s a JOIN s b ON a.source < b.source),
    t AS (SELECT DISTINCT text, source FROM documents WHERE text IS NOT NULL),
    ex AS (SELECT x.source AS sa, y.source AS sb, count(*) AS c
           FROM t x JOIN t y ON x.text = y.text AND x.source < y.source
           GROUP BY 1, 2)
    SELECT source_a, source_b, coalesce(c, 0) AS exact_shared,
      cast(1 AS BIGINT) AS in_bounds
    FROM pairs LEFT JOIN ex ON source_a = sa AND source_b = sb
    ORDER BY source_a, source_b"""

  // --------------------------------------------------- count-min rollup

  private val CmsD = 4
  private val CmsW = 256

  /** The d bucket indices for a key — ONE hashing expression shared by
    * sketch build and point lookup, so they can never disagree.
    */
  private def cmsIdxs(key: Column): Column =
    array((0 until CmsD).map(i =>
      pmod(xxhash64(key, lit(i)), lit(CmsW)).cast("int")): _*)

  /** Count-Min frequency rollup: per-day CMS sketches of `event_type`
    * merged to ISO weeks (raw rows read ONCE at daily granularity —
    * the same warehouse pattern as `hll_rollup`, but answering POINT
    * FREQUENCY, not distinct cardinality), then every weekly type count
    * estimated from the merged sketch.
    *
    * Merge is plain elementwise array sum, written in SQL (posexplode →
    * sum → rebuild) to show the finished sketch is a first-class value
    * any engine can combine — no re-aggregation over raw data. The
    * weekly row total N comes from the sketch itself (row 0 of the
    * counters sums to N), not an extra pass.
    *
    * Tolerance oracle: exact weekly counts + a flag the estimate must
    * satisfy — `est ≥ exact` is the sketch's DETERMINISTIC one-sided
    * guarantee, and the overestimate is gated at 8·N/width (Markov t=8
    * per hash row → miss odds (1/8)^4 ≈ 2e-4; xxhash64 seeds are fixed,
    * so for a given corpus the flag is a constant).
    */
  def cmsRollup(spark: SparkSession, dir: String): DataFrame = {
    val cms = udaf(new CmsAgg(CmsD, CmsW))
    val e = Tables.events(spark, dir).select(
      date_trunc("week", col("ts")).cast("date").as("week"),
      col("ts").cast("date").as("day"), col("event_type"))
    val daily = e.groupBy("week", "day")
      .agg(cms(cmsIdxs(col("event_type"))).as("sk"))
    val weekly = daily.select(col("week"), posexplode(col("sk")))
      .groupBy("week", "pos").agg(sum("col").as("c"))
      .groupBy("week")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("week"),
        transform(col("pc"), p => p.getField("c")).as("sk"))
      .withColumn("n", aggregate(slice(col("sk"), 1, CmsW), lit(0L), _ + _))
    val est = least((0 until CmsD).map(i =>
      element_at(col("sk"),
        (lit(i * CmsW + 1) + pmod(xxhash64(col("event_type"), lit(i)), lit(CmsW)))
          .cast("int"))): _*)
    val exact = e.groupBy("week", "event_type")
      .agg(count(lit(1)).as("exact_cnt"))
    exact.join(weekly, Seq("week"))
      .select(col("week"), col("event_type"), col("exact_cnt"),
        (est >= col("exact_cnt") &&
          est - col("exact_cnt") <= greatest(lit(1L), col("n") * 8 / CmsW))
          .cast("long").as("in_bounds"))
      .orderBy("week", "event_type")
  }

  val cmsRollupSql: String = """
    SELECT cast(date_trunc('week', ts) AS DATE) AS week, event_type,
      count(*) AS exact_cnt, cast(1 AS BIGINT) AS in_bounds
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------- KLL rollup

  /** Mergeable QUANTILE-sketch rollup via Spark 4's DataSketches KLL
    * surface: per-day `kll_sketch_agg_double` sketches of event value,
    * merged per week with `kll_merge_agg_double` — the percentile
    * capability `percentile_approx` cannot provide, because its sketch
    * state is not a storable/mergeable column. This closes the
    * mergeable-sketch family: HLL (distinct), KMV (intersection), CMS
    * (frequency), Misra-Gries (heavy keys), KLL (quantiles).
    *
    * Tolerance oracle, rank-bracket form (the `approx_quantiles`
    * pattern): output carries the EXACT discrete weekly p50/p90 plus
    * flags that the sketch estimates fall inside generous rank
    * brackets (p50 ∈ ranks [0.35, 0.65], p90 ∈ [0.80, 0.98]) — ~10×
    * the k=200 KLL rank error, absorbing DataSketches' randomized
    * compaction offsets so the flag is stable run to run.
    */
  def kllRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir).select(
      date_trunc("week", col("ts")).cast("date").as("week"),
      col("ts").cast("date").as("day"), col("value"))
    val daily = e.groupBy("week", "day")
      .agg(expr("kll_sketch_agg_double(value)").as("sk"))
    val weekly = daily.groupBy("week")
      .agg(expr("kll_merge_agg_double(sk)").as("sk"))
      .select(col("week"),
        expr("kll_sketch_get_quantile_double(sk, 0.5)").as("est50"),
        expr("kll_sketch_get_quantile_double(sk, 0.9)").as("est90"))
    val wr = Window.partitionBy("week").orderBy("value")
    def at(q: Double) = max(when(col("rk") === ceil(col("m") * q), col("value")))
    val brackets = e
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("week")))
      .groupBy("week")
      .agg(at(0.5).as("p50"), at(0.9).as("p90"),
        at(0.35).as("lo50"), at(0.65).as("hi50"),
        at(0.80).as("lo90"), at(0.98).as("hi90"))
    brackets.join(weekly, Seq("week"))
      .select(col("week"),
        round(col("p50"), 6).as("exact_p50"), round(col("p90"), 6).as("exact_p90"),
        (col("est50") >= col("lo50") && col("est50") <= col("hi50"))
          .cast("long").as("p50_ok"),
        (col("est90") >= col("lo90") && col("est90") <= col("hi90"))
          .cast("long").as("p90_ok"))
      .orderBy("week")
  }

  val kllRollupSql: String = """
    WITH ranked AS (
      SELECT cast(date_trunc('week', ts) AS DATE) AS week, value,
        cast(row_number() OVER (PARTITION BY date_trunc('week', ts) ORDER BY value) AS BIGINT) AS rk,
        count(*) OVER (PARTITION BY date_trunc('week', ts)) AS m
      FROM events)
    SELECT week,
      round(max(CASE WHEN rk = ceil(m * 0.5) THEN value END), 6) AS exact_p50,
      round(max(CASE WHEN rk = ceil(m * 0.9) THEN value END), 6) AS exact_p90,
      cast(1 AS BIGINT) AS p50_ok, cast(1 AS BIGINT) AS p90_ok
    FROM ranked GROUP BY week ORDER BY week"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "theta_intersect" -> (thetaIntersect _),
    "cms_rollup"      -> (cmsRollup _),
    "kll_rollup"      -> (kllRollup _))

  val oracle: Map[String, String] = Map(
    "theta_intersect" -> thetaIntersectSql,
    "cms_rollup"      -> cmsRollupSql,
    "kll_rollup"      -> kllRollupSql)
}
