package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Behavioral-signal operators over the event stream and the near-dup
  * graph: first-order Markov transitions, exact interarrival order
  * statistics, a mutual-information (lift) association table, and the
  * leakage-safe split that keeps near-duplicate documents inside one
  * train/val/test partition.
  */
object SignalQueries extends QueryModule {

  // ------------------------------------------------ markov transitions

  /** First-order Markov transition table of user behavior: for each
    * (event_type → next event_type) step inside a user's timeline, the
    * count and the conditional probability P(to | from). Timeline
    * order is (ts_us, event_id) — a total order, so both engines pair
    * identical steps. One window partitioned by user (hash-partitioned,
    * no global anything) + one vocabulary-sized aggregation; the
    * probability is one division of exact counts.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = steps.groupBy("from_type").agg(sum("n").as("tot"))
    steps.join(broadcast(fromTotals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  val markovTransitionsSql: String = """
    WITH steps AS (
      SELECT event_type AS from_type,
        -- order by epoch_us, not raw ns ts: the engine's timeline is
        -- µs-truncated, so sub-µs neighbors must tie-break on event_id
        -- identically on both sides
        lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      FROM events),
    cnt AS (
      SELECT from_type, to_type, count(*) AS n
      FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, sum(n) AS tot FROM cnt GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
      round(CAST(c.n AS DOUBLE) / t.tot, 6) AS p
    FROM cnt c JOIN tot t USING (from_type)
    ORDER BY c.from_type, c.to_type"""

  // ------------------------------------------------ interarrival stats

  /** Per-event-type interarrival statistics: microsecond gaps between a
    * user's consecutive events of that type, summarized as count and
    * EXACT p50/p90 order statistics (value at rank ⌈q·m⌉ — discrete
    * percentiles, so the compared values are integers; interpolating
    * percentile_cont would put engine-shaped doubles in the hash).
    * Both windows are hash-partitioned (by user,type / by type); the
    * rank lookup is a conditional aggregation, not a sort-and-collect.
    */
  def interarrivalStats(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val deltas = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev", lag("ts_us", 1).over(wu))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_us") - col("prev")).as("delta_us"))
    val wr = Window.partitionBy("event_type").orderBy("delta_us")
    deltas
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("m").as("n_gaps"),
        max(when(col("rk") === ceil(col("m") * 0.5), col("delta_us"))).as("p50_us"),
        max(when(col("rk") === ceil(col("m") * 0.9), col("delta_us"))).as("p90_us"),
        max("delta_us").as("max_us"))
      .orderBy("event_type")
  }

  val interarrivalStatsSql: String = """
    WITH deltas AS (
      SELECT event_type,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                               ORDER BY epoch_us(ts), event_id) AS delta_us
      FROM events),
    ranked AS (
      SELECT event_type, delta_us,
        cast(row_number() OVER (PARTITION BY event_type ORDER BY delta_us) AS BIGINT) AS rk,
        count(*) OVER (PARTITION BY event_type) AS m
      FROM deltas WHERE delta_us IS NOT NULL)
    SELECT event_type, max(m) AS n_gaps,
      max(CASE WHEN rk = ceil(m * 0.5) THEN delta_us END) AS p50_us,
      max(CASE WHEN rk = ceil(m * 0.9) THEN delta_us END) AS p90_us,
      max(delta_us) AS max_us
    FROM ranked GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------- mutual information

  /** Pointwise-mutual-information (lift) table between two categorical
    * columns (source × lang): per cell, the joint count and
    * ln(p(x,y)/(p(x)·p(y))) — the association diagnostic run before
    * trusting per-source language mixes. Each cell's lift is an
    * exact-integer cross-product ratio (c_xy·N / (c_x·c_y)) with ONE
    * division; margins are vocabulary-sized broadcasts. Summing
    * contributions to total MI is the caller's (order-sensitive) fold —
    * the per-cell table is the deterministic artifact.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val joint = d.groupBy("source", "lang").agg(count(lit(1)).as("c_xy"))
    val mx = d.groupBy("source").agg(count(lit(1)).as("c_x"))
    val my = d.groupBy("lang").agg(count(lit(1)).as("c_y"))
    val n = d.agg(count(lit(1)).as("n_total"))
    joint.join(broadcast(mx), "source").join(broadcast(my), "lang")
      .crossJoin(broadcast(n))
      .select(col("source"), col("lang"), col("c_xy"),
        // decimal lane BEFORE the cross-products: count × corpus total
        // crosses 2⁶³ at billion-doc scale (the product-audit class)
        round(log((col("c_xy").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("n_total")).cast("double") /
          (col("c_x").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("c_y")).cast("double")), 6).as("lift"))
      .orderBy("source", "lang")
  }

  val mutualInfoSql: String = """
    WITH joint AS (SELECT source, lang, count(*) AS c_xy FROM documents GROUP BY 1, 2),
    mx AS (SELECT source, count(*) AS c_x FROM documents GROUP BY 1),
    my AS (SELECT lang, count(*) AS c_y FROM documents GROUP BY 1),
    n AS (SELECT count(*) AS n_total FROM documents)
    SELECT j.source, j.lang, j.c_xy,
      round(ln(CAST(cast(j.c_xy AS HUGEINT) * n.n_total AS DOUBLE) /
               CAST(cast(mx.c_x AS HUGEINT) * my.c_y AS DOUBLE)), 6) AS lift
    FROM joint j JOIN mx USING (source) JOIN my USING (lang) CROSS JOIN n
    ORDER BY j.source, j.lang"""

  // ------------------------------------------------ leakage-safe split

  /** Train/val/test assignment that cannot leak near-duplicates across
    * splits: documents are clustered first (the verified `dup_clusters`
    * components) and the hash bucket is taken of the CLUSTER id, so
    * every member of a near-dup family lands in the same split — the
    * correct-by-construction version of the per-doc hash split
    * (`split_assign`), which CAN put a near-copy of a training doc into
    * the test set. Same md5-bucket arithmetic as the other splits;
    * 80/10/10.
    */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("cluster_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    ExtendedQueries.dupClusters(spark, dir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  val splitLeakageSafeSql: String = s"""
    WITH clusters AS (${ExtendedQueries.dupClustersSql})
    SELECT doc_id, cluster_id,
      CASE
        WHEN CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
          THEN 'train'
        WHEN CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
          THEN 'val'
        ELSE 'test'
      END AS split
    FROM clusters ORDER BY doc_id"""

  // ------------------------------------------------- seasonal backtest

  /** Seasonal-naive forecast backtest over the event stream: predict
    * each (event_type, day)'s count with the count seven days earlier
    * and report per-type MAE over every day where the prior week
    * exists — the canary that tells an ops team whether "same weekday
    * last week" is still a usable baseline before they trust any
    * fancier forecaster. All comparison surfaces are exact integers
    * (daily counts, |actual − forecast| sums); MAE is the single final
    * division. Scale shape: one map-side-combined aggregation reduces
    * the stream to a (types × days) frame, and everything after — the
    * d−7 self-join included — is dim-sized.
    */
  def tsForecast(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val f = d.select(col("event_type"), (col("day") + 7).as("day"),
      col("c").as("fc"))
    d.join(f, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("c") - col("fc"))).as("sum_abs_err"))
      .select(col("event_type"), col("n_days"), col("sum_abs_err"),
        round(col("sum_abs_err").cast("double") / col("n_days"), 6).as("mae"))
      .orderBy("event_type")
  }

  val tsForecastSql: String = """
    WITH d AS (
      SELECT event_type,
        date_diff('day', DATE '1970-01-01',
          cast(make_timestamp(epoch_ns(ts) // 1000) AS DATE)) AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT a.event_type, a.c AS actual, f.c AS fc
      FROM d a JOIN d f
        ON a.event_type = f.event_type AND f.day = a.day - 7)
    SELECT event_type, cast(count(*) AS BIGINT) AS n_days,
      cast(sum(abs(actual - fc)) AS BIGINT) AS sum_abs_err,
      round(cast(sum(abs(actual - fc)) AS DOUBLE) / count(*), 6) AS mae
    FROM j GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------- decayed counts

  /** Recency-weighted event counts per type: Σ 0.5^age with daily and
    * weekly half-lives, anchored at the stream's own max day — the
    * exponential-decay freshness score feature stores and trending
    * reports keep per key. Weights are exact powers of two (bucketed
    * integer ages, never a fractional exponent), so every per-bucket
    * term c·2⁻ᵏ is an EXACT double; only the Σ over a type's ≤
    * day-span buckets is accumulation-ordered, hence the 4-decimal
    * round (the doc_logprob contract). One aggregation over (type,
    * day), then a day-span-sized fold — the stream itself is touched
    * once.
    */
  def decayCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val mx = d.agg(max("day").as("mx"))
    d.crossJoin(broadcast(mx))
      .select(col("event_type"), col("c"), (col("mx") - col("day")).as("age"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_events"),
        round(sum(col("c").cast("double") * pow(lit(0.5), col("age"))), 4)
          .as("decayed_d1"),
        round(sum(col("c").cast("double")
          * pow(lit(0.5), expr("age div 7"))), 4).as("decayed_w1"))
      .orderBy("event_type")
  }

  val decayCountsSql: String = """
    WITH d AS (
      SELECT event_type,
        date_diff('day', DATE '1970-01-01',
          cast(make_timestamp(epoch_ns(ts) // 1000) AS DATE)) AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2),
    m AS (SELECT max(day) AS mx FROM d)
    SELECT event_type, cast(sum(c) AS BIGINT) AS n_events,
      round(sum(cast(c AS DOUBLE) * pow(0.5, mx - day)), 4) AS decayed_d1,
      round(sum(cast(c AS DOUBLE) * pow(0.5, (mx - day) // 7)), 4) AS decayed_w1
    FROM d CROSS JOIN m
    GROUP BY event_type
    ORDER BY event_type"""

  // ------------------------------------------------ Kaplan-Meier survival

  /** Kaplan-Meier user-retention curve: each user "churns" on their
    * last event day, users still active on the stream's final day are
    * right-CENSORED (they didn't churn — we stopped watching), and
    * S(t) = Π_{s≤t} (1 − d_s/n_s) is the survival probability the
    * product-limit estimator assigns. The at-risk set always contains
    * the censored cohort, so no factor hits zero before the horizon.
    *
    * Exactness: d_t and n_t are exact integers from ONE user fold +
    * ONE cumulative window over the days-sized churn frame; each
    * ln(1 − d/n) snaps to DECIMAL(18,9), the cumulative Σ is exact,
    * and S(t) = exp(·) is one agreed double expression per row (the
    * zipf discipline moved to log-product space). Scale shape: the
    * event stream folds to per-user rows once; everything after is
    * days-sized.
    */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val dec9: Column => Column = _.cast(org.apache.spark.sql.types.DecimalType(18, 9))
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long")).as("last_day"))
    val mx = users.agg(max("last_day").as("mx"), count(lit(1)).as("n_users"))
    val byDay = users.crossJoin(broadcast(mx))
      .filter(col("last_day") < col("mx")) // censored users never enter d_t
      .groupBy("last_day").agg(count(lit(1)).as("d"))
      .crossJoin(broadcast(mx))
    val w = Window.orderBy("last_day")
    byDay
      .withColumn("n_at_risk",
        col("n_users") - coalesce(sum(col("d")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lnf",
        dec9(log(lit(1.0) - col("d").cast("double") / col("n_at_risk").cast("double"))))
      .withColumn("survival",
        round(exp(sum(col("lnf")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")), 6))
      .select(col("last_day").as("day"), col("n_at_risk"), col("d").as("n_churned"),
        col("survival"))
      .orderBy("day")
  }

  val survivalKmSql: String = """
    WITH u AS (
      SELECT user_id,
        max(date_diff('day', DATE '1970-01-01',
          cast(make_timestamp(epoch_ns(ts) // 1000) AS DATE))) AS last_day
      FROM events GROUP BY 1),
    m AS (SELECT max(last_day) AS mx, count(*) AS n_users FROM u),
    d AS (
      SELECT last_day, count(*) AS d FROM u CROSS JOIN m
      WHERE last_day < mx GROUP BY 1),
    k AS (
      SELECT last_day, d,
        m.n_users - coalesce(sum(d) OVER (ORDER BY last_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
      FROM d CROSS JOIN m)
    SELECT last_day AS day, cast(n_at_risk AS BIGINT) AS n_at_risk,
      cast(d AS BIGINT) AS n_churned,
      round(exp(cast(sum(cast(ln(1.0 - cast(d AS DOUBLE) / n_at_risk) AS DECIMAL(18,9)))
        OVER (ORDER BY last_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE)), 6) AS survival
    FROM k
    ORDER BY day"""

  // ----------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "survival_km"        -> (survivalKm _),
    "decay_counts"       -> (decayCounts _),
    "ts_forecast"        -> (tsForecast _),
    "markov_transitions" -> (markovTransitions _),
    "interarrival_stats" -> (interarrivalStats _),
    "mutual_info"        -> (mutualInfo _),
    "split_leakage_safe" -> (splitLeakageSafe _))

  val oracle: Map[String, String] = Map(
    "survival_km"        -> survivalKmSql,
    "decay_counts"       -> decayCountsSql,
    "ts_forecast"        -> tsForecastSql,
    "markov_transitions" -> markovTransitionsSql,
    "interarrival_stats" -> interarrivalStatsSql,
    "mutual_info"        -> mutualInfoSql,
    "split_leakage_safe" -> splitLeakageSafeSql)
}
