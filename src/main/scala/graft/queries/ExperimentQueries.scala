package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Monitoring/experimentation operators: day-over-day distribution
  * drift, Gini concentration, winsorized robust means, and a hash-
  * bucketed A/B lift report — the ops a pipeline runs CONTINUOUSLY
  * over what it ingests rather than once over what it keeps.
  *
  * Same exactness discipline as everywhere else: comparison surfaces
  * are exact integers (cross-multiplied proportions, micro-unit sums,
  * discrete order statistics); each emitted double is ONE agreed
  * expression over them, rounded for display.
  */
object ExperimentQueries extends QueryModule {

  // -------------------------------------------------------- topic drift

  /** Day-over-day drift of the event-type distribution: L1 distance
    * between consecutive days' type proportions — the cheap canary that
    * pages before a broken producer poisons a week of training data.
    * Per-term |c_d·t_prev − c_prev·t_d| cross-multiplies exact counts;
    * ONE division at the end (the `source_similarity` trick). Missing
    * types are zero-filled from a broadcast (day × type) grid, so a
    * type that disappears entirely still contributes its full mass.
    */
  def topicDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    val e = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("event_type"))
    val cnt = e.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
    val days = e.groupBy("day").agg(count(lit(1)).as("t"))
    val types = e.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(cnt, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), col("t"),
        coalesce(col("c"), lit(0L)).as("c"))
    val prev = grid.select(col("day").as("pday"), col("event_type").as("ptype"),
      col("t").as("pt"), col("c").as("pc"))
    grid.join(prev,
        col("event_type") === col("ptype") &&
          col("day") === date_add(col("pday"), 1))
      .groupBy("day", "t", "pt")
      // decimal lane BEFORE the cross-products: c·pt is daily-count ×
      // daily-total and crosses 2⁶³ at extreme event rates (the
      // gini/chi2/epoch_shuffle product-audit class)
      .agg(sum(abs(dec(col("c")) * dec(col("pt"))
        - dec(col("pc")) * dec(col("t")))).as("num"))
      .select(col("day"),
        round(col("num").cast("double") /
          (col("t").cast("double") * col("pt").cast("double")), 6).as("l1_drift"))
      .orderBy("day")
  }

  val topicDriftSql: String = """
    WITH e AS (SELECT cast(ts AS DATE) AS day, event_type FROM events),
    cnt AS (SELECT day, event_type, count(*) AS c FROM e GROUP BY 1, 2),
    days AS (SELECT day, count(*) AS t FROM e GROUP BY 1),
    types AS (SELECT DISTINCT event_type FROM e),
    grid AS (
      SELECT d.day, ty.event_type, d.t, coalesce(c.c, 0) AS c
      FROM days d CROSS JOIN types ty
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = ty.event_type)
    SELECT g.day,
      round(CAST(sum(abs(cast(g.c AS HUGEINT) * p.t - cast(p.c AS HUGEINT) * g.t)) AS DOUBLE)
        / (CAST(g.t AS DOUBLE) * CAST(p.t AS DOUBLE)), 6) AS l1_drift
    FROM grid g JOIN grid p
      ON g.event_type = p.event_type AND g.day = p.day + INTERVAL 1 DAY
    GROUP BY g.day, g.t, p.t
    ORDER BY g.day"""

  // ------------------------------------------------------------ PSI drift

  /** PSI bin width over `value` and Laplace smoothing constant. */
  val PsiBins = 10

  /** Population-stability-index monitor on the numeric event value:
    * day-over-day per-bin PSI contributions (p−q)·ln(p/q) over
    * [[PsiBins]] equal-width bins — the standard "did the feature
    * distribution move" alarm, emitted per (day, bin) so each
    * contribution is audit-able (the total is the caller's fold).
    * Add-one smoothing keeps empty bins finite. Bin edges derive from
    * the GLOBAL min/max as a broadcast one-row frame (the
    * histogram_price pattern); every ln argument is an exact-integer
    * cross-product ratio.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("value"))
    val bounds = e.agg(min("value").as("lo"), max("value").as("hi"))
    // hi == lo (all values equal) would divide by zero in the bin
    // width; everything lands in bin 0 instead — guarded identically
    // in the oracle.
    val binned = e.crossJoin(broadcast(bounds))
      .select(col("day"), when(col("hi") > col("lo"), least(
        floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / PsiBins)),
        lit(PsiBins - 1))).otherwise(lit(0L)).cast("long").as("bin"))
    val days = binned.groupBy("day").agg(count(lit(1)).as("t"))
    val grid = days.crossJoin(broadcast(
        spark.range(PsiBins).select(col("id").as("bin"))))
      .join(binned.groupBy("day", "bin").agg(count(lit(1)).as("c")),
        Seq("day", "bin"), "left")
      .select(col("day"), col("bin"), col("t"),
        (coalesce(col("c"), lit(0L)) + lit(1L)).as("c")) // add-one smoothing
    val prev = grid.select(col("day").as("pday"), col("bin").as("pbin"),
      col("t").as("pt"), col("c").as("pc"))
    grid.join(prev,
        col("bin") === col("pbin") && col("day") === date_add(col("pday"), 1))
      .select(col("day"), col("bin"),
        round((col("c").cast("double") / (col("t") + PsiBins) -
               col("pc").cast("double") / (col("pt") + PsiBins)) *
          log((col("c") * (col("pt") + PsiBins)).cast("double") /
              (col("pc") * (col("t") + PsiBins)).cast("double")), 6).as("psi_term"))
      .orderBy("day", "bin")
  }

  val psiDriftSql: String = s"""
    WITH e AS (SELECT cast(ts AS DATE) AS day, value FROM events),
    bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM e),
    binned AS (
      SELECT day,
        cast(CASE WHEN hi > lo
               THEN least(floor((value - lo) / ((hi - lo) / $PsiBins)), ${PsiBins - 1})
               ELSE 0 END AS BIGINT) AS bin
      FROM e CROSS JOIN bounds),
    days AS (SELECT day, count(*) AS t FROM binned GROUP BY 1),
    grid AS (
      SELECT d.day, b.bin, d.t, coalesce(c.c, 0) + 1 AS c
      FROM days d CROSS JOIN (SELECT unnest(range($PsiBins)) AS bin) b
      LEFT JOIN (SELECT day, bin, count(*) AS c FROM binned GROUP BY 1, 2) c
        ON c.day = d.day AND c.bin = b.bin)
    SELECT g.day, g.bin,
      round((CAST(g.c AS DOUBLE) / (g.t + $PsiBins)
             - CAST(p.c AS DOUBLE) / (p.t + $PsiBins))
            * ln(CAST(g.c * (p.t + $PsiBins) AS DOUBLE)
                 / CAST(p.c * (g.t + $PsiBins) AS DOUBLE)), 6) AS psi_term
    FROM grid g JOIN grid p
      ON g.bin = p.bin AND g.day = p.day + INTERVAL 1 DAY
    ORDER BY g.day, g.bin"""

  // -------------------------------------------------- gini concentration

  /** Per-source Gini coefficient of document lengths — "is this source
    * a few giant pages plus crumbs, or evenly sized?" Mean-difference
    * form over ranked values: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),
    * every term an exact integer (rank ties share a value, so the sum
    * is order-free), one final division.
    */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    // rank-weighted sum in DECIMAL(38,0) (HUGEINT in the oracle):
    // Σ r·x grows ~ n²·x/2 per source, which crosses 2⁶³ near a billion
    // docs — a long sum would THROW under Spark 4's default ANSI mode
    Tables.read(spark, dir, "documents")
      .withColumn("r", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("s"),
        sum(col("r").cast(DecimalType(38, 0)) * col("n_chars")).as("rx"))
      .select(col("source"), col("n_docs"),
        // s ≈ n·x̄, so (n+1)·s and n·s are the same n²·x̄ magnitude as rx —
        // they need the DECIMAL(38,0) lane too, or ANSI throws at ~1e9 docs
        // while the oracle (HUGEINT sums) sails through
        round((lit(2) * col("rx") - (col("n_docs") + lit(1)) * col("s").cast(DecimalType(38, 0)))
          .cast("double") /
          (col("n_docs") * col("s").cast(DecimalType(38, 0))).cast("double"), 6).as("gini"))
      .orderBy("source")
  }

  val giniConcentrationSql: String = """
    WITH ranked AS (
      SELECT source, n_chars,
        cast(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r
      FROM documents)
    SELECT source, count(*) AS n_docs,
      round(CAST(2 * sum(cast(r AS HUGEINT) * n_chars) - (count(*) + 1) * sum(n_chars) AS DOUBLE)
        / CAST(count(*) * sum(n_chars) AS DOUBLE), 6) AS gini
    FROM ranked GROUP BY source ORDER BY source"""

  // ---------------------------------------------------- winsorized mean

  /** Winsorized mean of line quantity per returnflag: values clamp to
    * the DISCRETE p10/p90 order statistics (rank ⌈q·m⌉ — integers, no
    * interpolation) before averaging — the robust location estimate
    * that shrugs off fat tails where a plain mean chases them.
    *
    * The order statistics come from a VALUE-FREQUENCY HISTOGRAM, not a
    * per-row rank window: the rank-⌈q·m⌉ element is the smallest value
    * whose cumulative count reaches the rank, so the running-total
    * window only ever sees the (group × distinct-value) frame — a
    * per-row rank window partitioned by 3 flags would pull 1/3 of the
    * table into each of 3 sort partitions, the classic low-cardinality
    * window cliff. The clamped sum is exact integers.
    */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("q"))
    val hist = li.groupBy("flag", "q").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("flag").orderBy("q")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("m", sum("c").over(Window.partitionBy("flag")))
    val bounds = hist.groupBy("flag").agg(
      min(when(col("cum") >= ceil(col("m") * 0.1), col("q"))).as("lo"),
      min(when(col("cum") >= ceil(col("m") * 0.9), col("q"))).as("hi"))
    li.join(broadcast(bounds), "flag")
      .select(col("flag"), col("lo"), col("hi"),
        least(greatest(col("q"), col("lo")), col("hi")).as("cq"))
      .groupBy("flag", "lo", "hi")
      .agg(count(lit(1)).as("n"), sum("cq").as("s"))
      .select(col("flag"), col("n"), col("lo"), col("hi"),
        round(col("s").cast("double") / col("n"), 6).as("wmean"))
      .orderBy("flag")
  }

  val winsorizedMeanSql: String = """
    WITH li AS (
      SELECT l_returnflag AS flag, cast(l_quantity AS BIGINT) AS q FROM lineitem),
    hist AS (
      SELECT flag, q, count(*) AS c FROM li GROUP BY 1, 2),
    cums AS (
      SELECT flag, q,
        sum(c) OVER (PARTITION BY flag ORDER BY q
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(c) OVER (PARTITION BY flag) AS m
      FROM hist),
    bounds AS (
      SELECT flag,
        min(CASE WHEN cum >= ceil(m * 0.1) THEN q END) AS lo,
        min(CASE WHEN cum >= ceil(m * 0.9) THEN q END) AS hi
      FROM cums GROUP BY flag)
    SELECT li.flag, count(*) AS n, b.lo, b.hi,
      round(CAST(sum(least(greatest(li.q, b.lo), b.hi)) AS DOUBLE) / count(*), 6) AS wmean
    FROM li JOIN bounds b USING (flag)
    GROUP BY li.flag, b.lo, b.hi
    ORDER BY li.flag"""

  // ------------------------------------------------------------ A/B lift

  /** Hash-bucketed A/B report: users split 50/50 by the reproducible
    * md5 bucket (same assignment on every engine/run/cluster), compared
    * on event value. Values become exact micro-unit integers before any
    * sum; mean, lift, and the Welch z-score are then single agreed
    * double expressions over (n, Σx, Σx²). The z against ±1.96 is the
    * "did this experiment move anything" gate.
    */
  def abLift(spark: SparkSession, dir: String): DataFrame = {
    val arm = when(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 2 === 0, "A").otherwise("B")
    val e = Tables.events(spark, dir)
      .select(arm.as("arm"), round(col("value") * 1e6).cast("long").as("v"))
    val sums = e.groupBy("arm").agg(
      count(lit(1)).as("n"), sum("v").as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v").cast("decimal(38,0)")).as("ss"))
    val a = sums.filter(col("arm") === "A")
      .select(col("n").as("na"), col("s").as("sa"), col("ss").as("ssa"))
    val b = sums.filter(col("arm") === "B")
      .select(col("n").as("nb"), col("s").as("sb"), col("ss").as("ssb"))
    val meanA = col("sa").cast("double") / col("na")
    val meanB = col("sb").cast("double") / col("nb")
    val varA = (col("ssa").cast("double") - (col("sa").cast("double") * col("sa").cast("double")) / col("na")) / (col("na") - 1)
    val varB = (col("ssb").cast("double") - (col("sb").cast("double") * col("sb").cast("double")) / col("nb")) / (col("nb") - 1)
    a.crossJoin(b).select(
      col("na"), col("nb"),
      round(meanA / 1e6, 6).as("mean_a"),
      round(meanB / 1e6, 6).as("mean_b"),
      round((meanB - meanA) / meanA, 6).as("rel_lift"),
      // Welch variance divides by n−1: a single-event arm would yield
      // NaN/Inf. Guarded to NULL (mirrored CASE in the oracle) so
      // degenerate inputs produce a defined, engine-agreed value.
      when(col("na") > 1 && col("nb") > 1,
        round((meanB - meanA) / sqrt(varA / col("na") + varB / col("nb")), 6))
        .as("z"))
  }

  val abLiftSql: String = """
    WITH e AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
        cast(round(value * 1e6) AS BIGINT) AS v
      FROM events),
    sums AS (
      SELECT arm, count(*) AS n, sum(v) AS s,
        sum(cast(v AS HUGEINT) * cast(v AS HUGEINT)) AS ss
      FROM e GROUP BY arm),
    a AS (SELECT n AS na, s AS sa, ss AS ssa FROM sums WHERE arm = 'A'),
    b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM sums WHERE arm = 'B')
    SELECT na, nb,
      round((CAST(sa AS DOUBLE) / na) / 1e6, 6) AS mean_a,
      round((CAST(sb AS DOUBLE) / nb) / 1e6, 6) AS mean_b,
      round((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
            / (CAST(sa AS DOUBLE) / na), 6) AS rel_lift,
      CASE WHEN na > 1 AND nb > 1 THEN
        round((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
              / sqrt((CAST(ssa AS DOUBLE) - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / na) / (na - 1) / na
                   + (CAST(ssb AS DOUBLE) - (CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / nb) / (nb - 1) / nb), 6)
      END AS z
    FROM a CROSS JOIN b"""

  // -------------------------------------------------------- bootstrap CI

  /** Bootstrap replicate count. */
  val BootReps = 20

  /** Poisson-bootstrap confidence band for the per-source mean document
    * length: every (doc, replicate) pair draws a deterministic
    * Poisson(1) weight from its hash (the scale-out bootstrap — no
    * resampling pass, no driver randomness, reproducible everywhere),
    * each replicate's mean is a ratio of exact integer sums, and the
    * band is the DISCRETE (min, max-rank) order statistics of the 20
    * replicate means. The error bar a data card should carry.
    *
    * Work is rows × [[BootReps]] inside one map stage feeding one
    * aggregation keyed (source, rep); the rank window sees
    * |sources|·B rows.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val u = (conv(substring(md5(concat_ws("_", col("doc_id"), col("rep"))), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    // inverse-CDF Poisson(1): P(0)=.3679, P(<=1)=.7358, P(<=2)=.9197, P(<=3)=.9810
    val w = when(u < 0.36787944117144233, 0L).when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L).when(u < 0.9810118431238462, 3L).otherwise(4L)
    val reps = d.select(col("source"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(BootReps))).as("rep"))
      .select(col("source"), col("rep"), w.as("w"), col("n_chars"))
      .groupBy("source", "rep")
      .agg(sum(col("w") * col("n_chars")).as("sw"), sum("w").as("nw"))
      .filter(col("nw") > 0)
      .select(col("source"), col("rep"),
        (col("sw").cast("double") / col("nw")).as("m"))
    val wr = Window.partitionBy("source").orderBy("m", "rep")
    val banded = reps
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("b", count(lit(1)).over(Window.partitionBy("source")))
    val base = Tables.read(spark, dir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("s"))
    base.join(
        banded.groupBy("source").agg(
          max(when(col("rk") === 1, col("m"))).as("lo"),
          max(when(col("rk") === col("b") - 1, col("m"))).as("hi")),
        "source")
      .select(col("source"), col("n_docs"),
        round(col("s").cast("double") / col("n_docs"), 6).as("mean_chars"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
      .orderBy("source")
  }

  val bootstrapCiSql: String = s"""
    WITH reps AS (
      SELECT source, rep,
        CASE
          WHEN u < 0.36787944117144233 THEN 0
          WHEN u < 0.7357588823428847 THEN 1
          WHEN u < 0.9196986029286058 THEN 2
          WHEN u < 0.9810118431238462 THEN 3
          ELSE 4 END AS w,
        n_chars
      FROM (
        SELECT source, doc_id, n_chars, rep,
          (CAST(concat('0x', substr(md5(concat_ws('_', CAST(doc_id AS VARCHAR), CAST(rep AS VARCHAR))), 1, 8)) AS BIGINT) + 0.5)
            / 4294967296.0 AS u
        FROM documents, unnest(range(1, $BootReps + 1)) AS t(rep))),
    means AS (
      SELECT source, rep, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS m
      FROM reps GROUP BY 1, 2 HAVING sum(w) > 0),
    banded AS (
      SELECT source, m,
        cast(row_number() OVER (PARTITION BY source ORDER BY m, rep) AS BIGINT) AS rk,
        count(*) OVER (PARTITION BY source) AS b
      FROM means),
    band AS (
      SELECT source,
        max(CASE WHEN rk = 1 THEN m END) AS lo,
        max(CASE WHEN rk = b - 1 THEN m END) AS hi
      FROM banded GROUP BY source),
    base AS (
      SELECT source, count(*) AS n_docs, sum(n_chars) AS s
      FROM documents GROUP BY source)
    SELECT base.source, base.n_docs,
      round(CAST(base.s AS DOUBLE) / base.n_docs, 6) AS mean_chars,
      round(band.lo, 6) AS ci_lo, round(band.hi, 6) AS ci_hi
    FROM base JOIN band USING (source)
    ORDER BY source"""

  // ------------------------------------------------------------ AUC

  /** Exact ROC-AUC of "document length predicts English" via the
    * rank-sum (Mann–Whitney) identity — the eval primitive for any
    * score/label pair at corpus scale. Ranks come from the
    * value-frequency HISTOGRAM (average rank of value v =
    * (lo+hi)/2 over its rank range), so nothing data-sized is ever
    * sorted globally: 2U = Σ_pos(lo+hi) − n_pos(n_pos+1), AUC =
    * 2U / (2·n_pos·n_neg) — every term an exact integer, one final
    * division. Tie-corrected by construction.
    */
  def aucScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(col("n_chars").as("v"), (col("lang") === "en").cast("long").as("y"))
    val hist = d.groupBy("v").agg(count(lit(1)).as("c"), sum("y").as("pos"))
      .withColumn("hi", sum("c").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lo", col("hi") - col("c") + 1)
    // rank sums in DECIMAL(38,0) (HUGEINT in the oracle): Σ pos·(lo+hi)
    // and np·(np+1) grow quadratically in row count and cross 2⁶³ at
    // cluster-scale corpora — long sums would THROW under ANSI mode
    hist.agg(
        sum(col("pos").cast(DecimalType(38, 0)) * (col("lo") + col("hi"))).as("rsum2"),
        sum("pos").as("np"), sum(col("c") - col("pos")).as("nn"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        round((col("rsum2") - col("np").cast(DecimalType(38, 0)) * (col("np") + 1)).cast("double") /
          (lit(2) * col("np").cast(DecimalType(38, 0)) * col("nn")).cast("double"), 6).as("auc"))
  }

  val aucScoreSql: String = """
    WITH d AS (
      SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    hist AS (
      SELECT v, count(*) AS c, sum(y) AS pos FROM d GROUP BY v),
    cum AS (
      SELECT v, c, pos,
        sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM hist)
    SELECT cast(sum(pos) AS BIGINT) AS n_pos,
      cast(sum(c - pos) AS BIGINT) AS n_neg,
      round(CAST(sum(cast(pos AS HUGEINT) * ((hi - c + 1) + hi))
                 - cast(sum(pos) AS HUGEINT) * (sum(pos) + 1) AS DOUBLE)
        / CAST(2 * cast(sum(pos) AS HUGEINT) * sum(c - pos) AS DOUBLE), 6) AS auc
    FROM cum"""

  // ------------------------------------------------------------ KS test

  /** Two-sample Kolmogorov–Smirnov distance of each source's length
    * distribution against the rest of the corpus — "which source looks
    * nothing like the others". D = max_v |F_src(v) − F_rest(v)|
    * evaluated as the INTEGER max of |c_src·n_rest − c_rest·n_src|
    * over cumulative counts, divided once at the end — exact,
    * order-free, and every per-source scan is one histogram plus a
    * window over distinct values.
    */
  def ksBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents").select(col("source"), col("n_chars").as("v"))
    val bySrc = d.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val byVal = d.groupBy("v").agg(count(lit(1)).as("ct"))
    val tot = d.agg(count(lit(1)).as("n"))
    val totals = d.groupBy("source").agg(count(lit(1)).as("ns"))
    // evaluate at EVERY distinct value (sources × value-domain grid,
    // zero-filled): the sup can sit where the source's own CDF is flat
    val grid = totals.select("source").crossJoin(broadcast(byVal))
      .join(bySrc, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("ct"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(tot))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("cum_s", sum("c").over(w))
      .withColumn("cum_t", sum("ct").over(w))
      .join(broadcast(totals), "source")
      .select(col("source"), col("ns"), col("n"),
        // decimal lane BEFORE the CDF cross-products: cum·total crosses
        // 2⁶³ at corpus scale (the topic_drift product-audit class);
        // the denominator multiplies as two exact doubles for the same
        // reason, mirrored verbatim in the oracle
        abs(col("cum_s").cast(DecimalType(38, 0)) * (col("n") - col("ns")) -
          (col("cum_t") - col("cum_s")).cast(DecimalType(38, 0)) * col("ns")).as("num"))
      .groupBy("source", "ns", "n")
      .agg(max("num").as("mx"))
      .select(col("source"), col("ns").as("n_docs"),
        round(col("mx").cast("double") /
          (col("ns").cast("double") * (col("n") - col("ns")).cast("double")), 6)
          .as("ks_d"))
      .orderBy("source")
  }

  val ksBySourceSql: String = """
    WITH d AS (SELECT source, n_chars AS v FROM documents),
    by_src AS (SELECT source, v, count(*) AS c FROM d GROUP BY 1, 2),
    by_val AS (SELECT v, count(*) AS ct FROM d GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM d),
    totals AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
    grid AS (
      SELECT t.source, bv.v, bv.ct, coalesce(bs.c, 0) AS c
      FROM totals t CROSS JOIN by_val bv
      LEFT JOIN by_src bs ON bs.source = t.source AND bs.v = bv.v),
    cums AS (
      SELECT source, v,
        sum(c) OVER (PARTITION BY source ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        sum(ct) OVER (PARTITION BY source ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t
      FROM grid)
    SELECT c.source, t.ns AS n_docs,
      round(CAST(max(abs(cast(c.cum_s AS HUGEINT) * (n.n - t.ns)
          - cast(c.cum_t - c.cum_s AS HUGEINT) * t.ns)) AS DOUBLE)
        / (CAST(t.ns AS DOUBLE) * CAST(n.n - t.ns AS DOUBLE)), 6) AS ks_d
    FROM cums c JOIN totals t USING (source) CROSS JOIN tot n
    GROUP BY c.source, t.ns, n.n
    ORDER BY c.source"""

  // ----------------------------------------------------------- registry

  // ------------------------------------------------- correlation matrix

  /** Pairwise Pearson correlation across the per-doc size metrics
    * (chars, whitespace tokens, distinct tokens) — the feature-
    * redundancy screen run before anyone trains a quality classifier
    * on those columns. ONE scan + ONE single-row aggregation computes
    * every pairwise moment (n, Σx, Σx², Σxy for all pairs) in exact
    * DECIMAL(38,0)/HUGEINT; each r is one agreed double expression
    * over those exact sums (the `regr_per_group` discipline), so the
    * matrix is hash-stable cross-engine. Scale shape: the moment
    * vector is O(k²) columns but still one map-side-combined
    * aggregation to a single row — no shuffle grows with data.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis.wordTokens
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val toks = wordTokens(col("text"))
    val base = Tables.read(spark, dir, "documents").select(
      dec(col("n_chars")).as("c"),
      dec(size(toks).cast("long")).as("t"),
      dec(size(array_distinct(toks)).cast("long")).as("u"))
    val sums = base.agg(
      count(lit(1)).as("n"),
      sum("c").as("sc"), sum("t").as("st"), sum("u").as("su"),
      sum(col("c") * col("c")).as("scc"),
      sum(col("t") * col("t")).as("stt"),
      sum(col("u") * col("u")).as("suu"),
      sum(col("c") * col("t")).as("sct"),
      sum(col("c") * col("u")).as("scu"),
      sum(col("t") * col("u")).as("stu"))
    def r(sx: String, sy: String, sxx: String, syy: String, sxy: String) = {
      val num = (col("n") * col(sxy) - col(sx) * col(sy)).cast("double")
      val dx  = (col("n") * col(sxx) - col(sx) * col(sx)).cast("double")
      val dy  = (col("n") * col(syy) - col(sy) * col(sy)).cast("double")
      round(num / (sqrt(dx) * sqrt(dy)), 6)
    }
    Seq(
      ("chars", "tokens", r("sc", "st", "scc", "stt", "sct")),
      ("chars", "uniq_tokens", r("sc", "su", "scc", "suu", "scu")),
      ("tokens", "uniq_tokens", r("st", "su", "stt", "suu", "stu")))
      .map { case (mx, my, rc) =>
        sums.select(lit(mx).as("metric_x"), lit(my).as("metric_y"),
          col("n"), rc.as("r"))
      }
      .reduce(_.union(_))
      .orderBy("metric_x", "metric_y")
  }

  val corrMatrixSql: String = {
    def one(mx: String, my: String, sx: String, sy: String,
            sxx: String, syy: String, sxy: String) =
      s"""SELECT '$mx' AS metric_x, '$my' AS metric_y, n,
      round(CAST(n*$sxy - $sx*$sy AS DOUBLE)
            / (sqrt(CAST(n*$sxx - $sx*$sx AS DOUBLE))
               * sqrt(CAST(n*$syy - $sy*$sy AS DOUBLE))), 6) AS r FROM s"""
    """
    WITH b AS (
      SELECT cast(n_chars AS HUGEINT) AS c,
        cast(len(string_split_regex(trim(text), '\s+')) AS HUGEINT) AS t,
        cast(len(list_distinct(string_split_regex(trim(text), '\s+')))
             AS HUGEINT) AS u
      FROM documents),
    s AS (
      SELECT count(*) AS n, sum(c) AS sc, sum(t) AS st, sum(u) AS su,
        sum(c*c) AS scc, sum(t*t) AS stt, sum(u*u) AS suu,
        sum(c*t) AS sct, sum(c*u) AS scu, sum(t*u) AS stu
      FROM b)
    """ +
      Seq(one("chars", "tokens", "sc", "st", "scc", "stt", "sct"),
        one("chars", "uniq_tokens", "sc", "su", "scc", "suu", "scu"),
        one("tokens", "uniq_tokens", "st", "su", "stt", "suu", "stu"))
        .mkString("\n    UNION ALL\n    ") +
      "\n    ORDER BY metric_x, metric_y"
  }

  // --------------------------------------------------- Benford audit

  /** First-digit Benford's-law audit of order totals — the classic
    * fabricated-data screen: a synthetic or tampered amount column
    * drifts from the log10(1+1/d) digit law long before any per-row
    * rule fires. The digit extracts by STRING head (no log10 — exact at
    * powers of ten); expected shares are fixed 6-decimal literals
    * identical in both engines; observed share and |deviation| are each
    * ONE double division over exact counts. One aggregation to 9 rows —
    * nothing here grows with data.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = Seq(
      1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
      5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
      9 -> 0.045757)
    val expDf = broadcast(expected.toDF("digit", "expected"))
    val counts = Tables.read(spark, dir, "orders")
      .select(substring(round(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("total"))
    counts.crossJoin(broadcast(tot)).join(expDf, Seq("digit"))
      .select(col("digit").cast("long").as("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("observed"),
        col("expected"),
        round(abs(col("n").cast("double") / col("total") - col("expected")), 6)
          .as("abs_dev"))
      .orderBy("digit")
  }

  val benfordAuditSql: String = """
    WITH d AS (
      SELECT cast(substr(cast(cast(round(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS INT) AS digit
      FROM orders),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM c),
    e(digit, expected) AS (VALUES
      (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
      (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
      (9, 0.045757))
    SELECT cast(c.digit AS BIGINT) AS digit, n,
      round(cast(n AS DOUBLE) / total, 6) AS observed,
      cast(expected AS DOUBLE) AS expected,
      round(abs(cast(n AS DOUBLE) / total - cast(expected AS DOUBLE)), 6)
        AS abs_dev
    FROM c CROSS JOIN t JOIN e ON c.digit = e.digit
    ORDER BY digit"""

  // -------------------------------------------------- χ² association

  /** χ² test of independence + Cramér's V for the lang × source
    * contingency table — the "is language confounded with source"
    * audit a mixture designer runs before attributing a quality gap to
    * either axis. Every cell term (O·N − r·c)² / (N·r·c) is exact
    * integer cross-multiplication in DECIMAL(38,0)/HUGEINT (O·N is
    * count², past 2⁶³ at corpus scale) with ONE double division, then
    * SNAPS to DECIMAL(18,9) so the Σ over cells is partition-order
    * independent (the zipf_slope discipline). Empty cells contribute
    * their full expectation r·c/N — the groupBy can't see them, so the
    * table densifies via the dims-sized totals cross join.
    */
  def chi2Assoc(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast(DecimalType(38, 0))
    // DECIMAL(28,9), not (18,9): a cell term d²/(N·r·c) is bounded by N,
    // not a constant — a strongly-associated cell at ~1e9+ docs exceeds a
    // 10⁹ integral range and the snap would THROW under ANSI. 19 integral
    // digits hold any N < 2⁶³; the 9-digit fractional snap (the part that
    // buys partition-order independence) is unchanged.
    val dec9: Column => Column = _.cast(DecimalType(28, 9))
    val o = Tables.read(spark, dir, "documents").groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val r = o.groupBy("lang").agg(sum(col("o")).as("r"))
    val c = o.groupBy("source").agg(sum(col("o")).as("c"))
    val n = o.agg(sum(col("o")).as("n"))
    val dense = r.crossJoin(c).join(o, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(n))
    val term = {
      // d is exact (products ≤ count², inside DECIMAL(38,0)); the SQUARE
      // is count⁴ and would overflow BOTH the decimal lane and HUGEINT
      // at corpus scale, so it runs in double on the exactly-computed d
      // (both engines square the identical rounded double — the same
      // move the gini fix made for its n²·x̄ products)
      val d = (dec(col("o")) * dec(col("n")) - dec(col("r")) * dec(col("c")))
        .cast("double")
      dec9(d * d
        / (dec(col("n")) * dec(col("r")) * dec(col("c"))).cast("double"))
    }
    dense.agg(max(col("n")).as("n"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(term).as("s"))
      .select(col("n"), col("n_langs"), col("n_sources"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        round(col("s").cast("double"), 6).as("chi2"),
        // dof-0 guard (single lang or source): V is undefined, not ±NaN
        when(least(col("n_langs") - 1, col("n_sources") - 1) > 0,
          round(sqrt(col("s").cast("double") / (col("n").cast("double")
            * least(col("n_langs") - 1, col("n_sources") - 1).cast("double"))), 6))
          .as("cramers_v"))
  }

  val chi2AssocSql: String = """
    WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, cast(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
    c AS (SELECT source, cast(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
    n AS (SELECT cast(sum(o) AS BIGINT) AS n FROM o),
    dense AS (
      SELECT r.lang, c.source, r.r, c.c, coalesce(o.o, 0) AS o, n.n
      FROM r CROSS JOIN c
      LEFT JOIN o ON o.lang = r.lang AND o.source = c.source
      CROSS JOIN n),
    diffs AS (
      SELECT n, lang, source, r, c,
        cast(cast(o AS HUGEINT) * n - cast(r AS HUGEINT) * c AS DOUBLE) AS d
      FROM dense),
    terms AS (
      SELECT n, lang, source,
        cast(d * d / cast(cast(n AS HUGEINT) * r * c AS DOUBLE)
          AS DECIMAL(28,9)) AS t
      FROM diffs),
    s AS (
      SELECT max(n) AS n, count(DISTINCT lang) AS n_langs,
        count(DISTINCT source) AS n_sources, sum(t) AS s
      FROM terms)
    SELECT n, n_langs, n_sources,
      (n_langs - 1) * (n_sources - 1) AS dof,
      round(cast(s AS DOUBLE), 6) AS chi2,
      CASE WHEN least(n_langs - 1, n_sources - 1) > 0
           THEN round(sqrt(cast(s AS DOUBLE) / (cast(n AS DOUBLE)
             * least(n_langs - 1, n_sources - 1))), 6)
           END AS cramers_v
    FROM s"""

  // -------------------------------------------------------- pass@k

  /** The k values the estimator reports. */
  private val PassKs = Seq(1, 5, 10)

  /** `pass_at_k` — the unbiased pass@k estimator (the eval-harness
    * statistic for "n attempts, c successes: if I'd sampled only k,
    * what's P(at least one success)?"): per user over their event
    * attempts (success = a purchase event),
    * pass@k = 1 − C(n−c, k)/C(n, k), computed as the k-term product
    * Π (n−c−i)/(n−i) — never a factorial, exact when c = 0 (product
    * telescopes to 1 → pass 0) and when n−c < k (the i = n−c term is
    * EXACTLY zero, so the product is ±0 and the 1−· heals the IEEE
    * sign). Both engines fold the identical left-associated chain.
    * Naive c/n (pass@1) is biased UP as an estimate of pass@k>1's
    * complement-product — this estimator is the whole reason eval
    * harnesses don't just average. Groups with n < max(k) are
    * excluded (the estimator is undefined), mirrored in the oracle.
    * One aggregation then model-free scalar math per group row.
    */
  def passAtK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .filter(col("n") >= PassKs.max)
    val nd = col("n").cast("double")
    val cd = col("c").cast("double")
    def passK(k: Int) = round(lit(1.0) - (0 until k).map(i =>
      (nd - cd - i) / (nd - i)).reduce(_ * _), 6)
    e.select(col("user_id") +: col("n").as("n_samples") +: col("c").as("n_correct") +:
        PassKs.map(k => passK(k).as(s"pass_at_$k")): _*)
      .orderBy("user_id")
  }

  val passAtKSql: String = {
    def prod(k: Int) = (0 until k)
      .map(i => s"((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - $i) / (CAST(n AS DOUBLE) - $i))")
      .mkString(" * ")
    val cols = PassKs.map(k => s"round(1.0 - ${prod(k)}, 6) AS pass_at_$k").mkString(",\n      ")
    s"""
    WITH g AS (
      SELECT user_id, count(*) AS n,
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n_samples, CAST(c AS BIGINT) AS n_correct,
      $cols
    FROM g WHERE n >= ${PassKs.max}
    ORDER BY user_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pass_at_k"       -> (passAtK _),
    "chi2_assoc"      -> (chi2Assoc _),
    "benford_audit"   -> (benfordAudit _),
    "corr_matrix"     -> (corrMatrix _),
    "topic_drift"     -> (topicDrift _),
    "gini_source"     -> (giniConcentration _),
    "winsorized_mean" -> (winsorizedMean _),
    "ab_lift"         -> (abLift _),
    "bootstrap_ci"    -> (bootstrapCi _),
    "psi_drift"       -> (psiDrift _),
    "auc_score"       -> (aucScore _),
    "ks_by_source"    -> (ksBySource _))

  val oracle: Map[String, String] = Map(
    "pass_at_k"       -> passAtKSql,
    "chi2_assoc"      -> chi2AssocSql,
    "benford_audit"   -> benfordAuditSql,
    "corr_matrix"     -> corrMatrixSql,
    "topic_drift"     -> topicDriftSql,
    "gini_source"     -> giniConcentrationSql,
    "winsorized_mean" -> winsorizedMeanSql,
    "ab_lift"         -> abLiftSql,
    "bootstrap_ci"    -> bootstrapCiSql,
    "psi_drift"       -> psiDriftSql,
    "auc_score"       -> aucScoreSql,
    "ks_by_source"    -> ksBySourceSql)
}
