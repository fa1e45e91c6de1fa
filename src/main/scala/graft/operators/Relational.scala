package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reusable relational operators for the north-star analytics surface
  * (SURVEY.md §7.2.7). All are partition-parallel: windows are keyed (no
  * global single-partition windows), aggregations get map-side partials,
  * and float measures go through an exact-decimal path so results are
  * shuffle-order-independent — the property the DuckDB oracle hash check
  * depends on, and the property that keeps results stable on a real
  * cluster where partitioning is nondeterministic.
  */
object Relational {

  /** Cast a float measure to an exact decimal so SUM is associative.
    * 6 fractional digits is far below the generator's 2-decimal intent but
    * far above double noise (~1e-11 abs), so both engines round to the
    * same decimal and partial-aggregation order can't change the result.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Exact distributed sum of a float measure, returned as double. */
  def sumExact(c: Column): Column = sum(dec(c)).cast("double")

  /** Deterministic mean: exact sum divided by count, in double. */
  def avgExact(c: Column): Column = sumExact(c) / count(lit(1))

  /** Hub-proof equi-join of a fact frame against a PER-KEY-SINGLE-ROW
    * dimension (a count/stat frame keyed by the join keys): the fact
    * side gets `salt = hash(spreadBy) % salts` row-locally, the dim
    * replicates `salts`× via a literal salt frame, and the join runs on
    * (keys :+ salt) — so a hot key's fact rows spread over `salts`
    * reducers BY CONSTRUCTION. It is the one salting path: the
    * co-purchase rounds ([[graft.queries.CorpusQueries.pagerankOn]],
    * [[graft.queries.CommunityQueries.labelPropOn]]), `hits_rank` and
    * the LM queries all join through it. AQE's skew split
    * cannot fire on these joins because the dim child is
    * Sort(HashAggregate(ShuffleQueryStage)), never the bare
    * Sort(ShuffleQueryStage) the OptimizeSkewedJoin pattern requires
    * (verified empirically — QuerySkewSpec documents the finalized
    * plans). Results are salt-invariant: the dim carries one row per
    * (key, salt) and the join multiplicity per fact row stays exactly 1.
    *
    * Cost: the dim shuffle is `salts`× its size — sized for dim ≪ fact
    * (vocabulary / key-cardinality frames against token/edge-scale
    * facts).
    */
  def saltedDimJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                    spreadBy: Column, salts: Int): DataFrame = {
    if (salts <= 1) fact.join(dim, keys)
    else {
      // dim replication is a row-local explode of a literal salt array —
      // a generator, not a join, so the plan stays free of BNLJ/cartesian
      // nodes even on the replicated side
      val saltArr = explode(array((0 until salts).map(lit): _*))
      fact.withColumn("salt", pmod(hash(spreadBy), lit(salts)))
        .join(dim.withColumn("salt", saltArr), keys :+ "salt")
        .drop("salt")
    }
  }

  /** Top-k rows per group by `order` (descending), ties broken by
    * `tieBreak` ascending so the result is total-ordered. One shuffle on
    * the group keys; no global window.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Column,
                   tieBreak: Column, k: Int, rankCol: String = "rk"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order.desc, tieBreak.asc)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Scale-safe GLOBAL dense row rank (0-based) over a total order —
    * the two-phase shape that replaces `row_number().over(Window
    * .orderBy(...))`'s single-partition sort on data-scale frames:
    *
    *  1. range-repartition on the sort keys (parallel sampling + range
    *     exchange — every partition holds a contiguous key range, in
    *     partition-id order);
    *  2. per-partition local row_number (window PARTITIONED by the
    *     physical partition id — never a single reducer);
    *  3. global rank = local rank + the broadcast cumulative count of
    *     earlier partitions (a partitions-sized frame; its own window
    *     is bounded by the partition count, not the data).
    *
    * Determinism: the sort keys must totally order the frame (callers
    * pass a unique tiebreak). The range boundaries are sampled with
    * Spark's fixed per-partition seeds, so the pid column is a pure
    * function of the row for a given input — the offsets join (on pid)
    * and the local window agree even though the base frame is computed
    * twice (counts + ranks); nothing is materialized.
    *
    * @param keys total-order sort keys (use `.desc` for descending)
    * @return input columns + `rankCol` (0-based global rank as long)
    */
  def globalRank(df: DataFrame, keys: Seq[Column], rankCol: String = "rk",
                 numParts: Int = 0): DataFrame = {
    val p = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.repartitionByRange(p, keys: _*)
      .withColumn("__pid", spark_partition_id())
    val local = base.withColumn("__lrk",
      row_number().over(Window.partitionBy("__pid").orderBy(keys: _*)).cast("long"))
    val offsets = base.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__off") + col("__lrk") - 1)
      .drop("__pid", "__lrk", "__off")
  }

  /** Distributed EXCLUSIVE prefix sum over a total order — the sibling
    * of [[globalRank]] for running totals (sequence packing's global
    * token offset): range-partition on the keys, one bounded window per
    * partition for the local running sum, and a partition-total offsets
    * frame that is SHUFFLE-PARTITION-COUNT-sized (model-sized at any
    * corpus size — unlike a key-bucketing scheme whose offset frame
    * grows with the data), broadcast back. Same determinism caveat as
    * [[globalRank]]: the frame is computed twice (offsets + locals) and
    * must re-evaluate identically, which range repartitioning of a
    * deterministic input guarantees.
    *
    * UNIQUE-KEY REQUIREMENT: `keys` must be a total order with NO ties.
    * The exclusive prefix is derived as `off + lsum - value`, and the
    * ROWS frame gives tied-key rows an arbitrary relative order — each
    * tied row's prefix would then depend on intra-partition order, i.e.
    * be nondeterministic across runs. Callers with non-unique keys must
    * append a tiebreaker column (e.g. a unique id) to `keys`; all
    * current callers key on unique doc_id.
    *
    * @return input columns + `outCol` = sum of `valueCol` over all rows
    *         STRICTLY BEFORE this row in key order (long)
    */
  def globalPrefixSum(df: DataFrame, keys: Seq[Column], valueCol: String,
                      outCol: String, numParts: Int = 0): DataFrame = {
    val p = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.repartitionByRange(p, keys: _*)
      .withColumn("__pid", spark_partition_id())
    val local = base.withColumn("__lsum",
      sum(col(valueCol)).over(Window.partitionBy("__pid").orderBy(keys: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = base.groupBy("__pid")
      .agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(outCol, (col("__off") + col("__lsum") - col(valueCol)).cast("long"))
      .drop("__pid", "__lsum")
  }

  /** CDC merge (upsert): rows of `changes` override base rows sharing
    * their key ROW-WISE — a matched change row replaces every payload
    * column, including columns it carries as NULL (the Delta/Iceberg
    * MERGE INTO `UPDATE SET *` contract). Unmatched change rows insert.
    * One full-outer sort-merge join on the key — the shape MERGE INTO
    * lowers to: shuffle-parallel on the key, no driver involvement, and
    * AQE handles a skewed key. `changes` must carry the same columns as
    * `base`, and at most one change row per key (like MERGE INTO, which
    * errors on multiple matches; here a duplicate key would fan out the
    * join).
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame,
                  keyCols: Seq[String]): DataFrame = {
    require(base.columns.sorted.sameElements(changes.columns.sorted),
      s"merge inputs must share a schema: base ${base.columns.mkString(",")} " +
        s"vs changes ${changes.columns.mkString(",")}")
    val payload = base.columns.filterNot(keyCols.contains)
    // the whole change payload rides in ONE struct: a struct over
    // (possibly NULL) fields is itself non-NULL exactly when the change
    // row exists, so `__c IS NOT NULL` is a true row-match test and a
    // NULL payload column overrides base with NULL instead of silently
    // coalescing back to the base value
    val c = changes.select(
      keyCols.map(col) :+ struct(payload.map(col): _*).as("__c"): _*)
    base.join(c, keyCols, "full_outer")
      .select(keyCols.map(col) ++
        payload.map(n =>
          when(col("__c").isNotNull, col("__c")(n)).otherwise(col(n)).as(n)): _*)
  }

  /** Fan a scan-side frame across the session's cores BEFORE heavy
    * per-row map work (tokenize/gram explode, hashing, decode) when the
    * source provides fewer partitions than cores. The test corpora are
    * one parquet row group per table, so every scan is ONE partition
    * and all narrow work above it single-threaded until the first
    * exchange. Scale-adaptive by construction (guide §2): at cluster
    * scale a real table yields >= cores scan partitions and this is the
    * identity — no constant tuned for local mode, no extra shuffle in
    * production. Round-robin repartition is deterministic
    * (sort-before-repartition is on), so downstream results are
    * unchanged; callers whose downstream folds doubles still pass the
    * oracle hash gate because partial-aggregate grouping was already
    * partitioning-dependent.
    *
    * CONTRACT: pass SCAN-SIDE frames only (a projection/filter over a
    * source scan, no shuffle in the plan); anything else is rejected
    * with an IllegalArgumentException. The partition-count probe
    * builds the frame's RDD, which forces physical planning — and
    * under AQE would EXECUTE any upstream shuffle stages just to read a
    * partition count. On a scan-only plan the probe is planning-only
    * and cheap.
    */
  def spreadToCores(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val shuffle = PlanWalk.find(qe.executedPlan)(_.isInstanceOf[ShuffleExchangeLike])
    require(shuffle.isEmpty,
      s"spreadToCores takes a scan-side frame; this plan shuffles:\n${qe.executedPlan}")
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (qe.toRdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** Plan traversal that descends into adaptive plans and query stages. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Gap-based sessionization: assign a per-key session ordinal that
    * increments whenever the gap between consecutive rows (by `orderCol`,
    * must be unique per key) exceeds `gapMicros` on `tsMicros`.
    * Two keyed window passes — shuffles once on the key, scales with the
    * number of keys.
    */
  def sessionize(df: DataFrame, keyCol: String, orderCol: String,
                 tsMicros: Column, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
    val prev = lag(tsMicros, 1).over(w)
    val isNew = when(prev.isNull || (tsMicros - prev) > gapMicros, 1L).otherwise(0L)
    df.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}
