package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph: the step that
  * turns pairwise dedup verdicts (MinHash / n-gram / fingerprint
  * overlaps) into canonical document groups you can actually collapse.
  *
  * Iterative min-label propagation: every node starts labeled with its
  * own id; each round a node adopts the minimum label among itself and
  * its neighbors; fixpoint = every node carries its component's minimum
  * id. Rounds needed = graph diameter (near-dup graphs are shallow —
  * clusters are cliques-ish), each round one shuffle-join + one
  * aggregate, all codegen'd. Lineage is truncated per round
  * (localCheckpoint) so the plan stays O(1) deep instead of O(rounds).
  *
  * At 100 TB scale the same loop holds: state is one (node, label) row
  * per node, joins are key-partitioned, and no driver-side collection
  * ever happens — the driver only sees the one-long `changed` count per
  * round.
  */
object DupClusters {

  /** @param nodes single-column frame of node ids (column `id`); must
    *              cover every id referenced by `edges` — the labeling is
    *              defined over `nodes`, and the two execution paths only
    *              coincide under that contract
    * @param edges two-column frame (`src`, `dst`) of undirected edges
    * @param maxIter fail-fast bound on materialized rounds (two
    *                propagation hops each); convergence past it throws
    *                rather than silently returning a half-propagated
    *                labeling
    * @param edgesStable caller's guarantee that `edges` is already
    *                     materialized (or otherwise cheap and stable to
    *                     re-read — e.g. a projection over a checkpointed
    *                     frame): skips the loop's own edge checkpoint,
    *                     which would copy the same rows into a second
    *                     pinned RDD for nothing. Default false keeps the
    *                     safe behavior for arbitrary edge plans.
    * @param smallGraphMaxEdges DISTINCT-edge ceiling for the driver-side
    *                union-find fast path (duplicate edges never count
    *                toward it nor reach the driver). Driver cost is explicit and
    *                linear: collect() materializes one boxed (Long,Long)
    *                per edge (~56 B each, freed after the fold) and the
    *    	          union-find LongMap holds ≤ 2·edges entries (~24 B
    *                each open-addressed) — the 100k default costs the
    *                driver ~10 MB peak, the same order as a broadcast-join
    *                threshold, and is safe on a default 1g driver. Callers
    *                who know their driver heap can opt in to a larger cap
    *                (each +1M edges ≈ +100 MB peak); 0 disables the fast
    *                path entirely. Bigger graphs take the distributed loop.
    * @return (id, cluster_id) — cluster_id = min node id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 25,
                          smallGraphMaxEdges: Long = 100_000L,
                          edgesStable: Boolean = false): DataFrame = {
    // materialize the (possibly expensive) edge plan ONCE — the
    // direction-swapped union below references it twice, and an
    // unmaterialized plan would be fully recomputed per reference.
    // No distinct(): min() is idempotent, so duplicate edges cannot
    // change the labeling — skipping the dedup saves a setup shuffle.
    // Callers whose edge frame is ALREADY materialized skip the copy.
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (edgesStable) e0 else e0.localCheckpoint(true)
    // the edge checkpoint is dead once a RESULT frame exists that no
    // longer references it (guide §5): the small-graph path after its
    // collect, the loop after its final labels checkpoint
    val releaseEdges = if (edgesStable) () => () else Materialize.releaseHandle(e)

    // Size gate on the CHECKPOINTED edges: small graphs pay ~10 Spark
    // jobs of pure scheduling overhead in the iterative loop — union-find
    // on the driver plus one broadcast join back is 8× faster measured,
    // and exact either way. One action both gates and collects: the
    // DISTINCT pairs, at most cap + 1 of them, so an edge a caller
    // repeats (keep_best's union of up to three evidence families)
    // neither pushes a small graph over the cap nor multiplies the
    // driver collect.
    val integralIds = e.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && smallGraphMaxEdges > 0) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val pairs = e.select(col("src").cast("long"), col("dst").cast("long"))
        .distinct().limit(math.min(smallGraphMaxEdges + 1, Int.MaxValue).toInt)
        .as[(Long, Long)].collect()
      if (pairs.length <= smallGraphMaxEdges) {
        // the gate's collect was the last read of e; the returned frame
        // is nodes ⋈ a driver-built broadcast map
        releaseEdges()
        return smallGraphComponents(nodes, pairs)
      }
    }

    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // convergence probe: labels only ever DECREASE, so any change
    // strictly lowers the label total — comparing one decimal aggregate
    // per round replaces a join+filter+count (exact at any id scale:
    // DECIMAL(38,0) cannot overflow or lose precision on long ids)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)

    def hop(labels: DataFrame): DataFrame = {
      val viaNeighbor = und
        .join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      labels.select("id", "cluster_id").union(viaNeighbor)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    }

    // pointer jump (path compression): label := label(label). Every
    // label is a node id (the min over nodes reached so far, and all
    // nodes carry labels), so the self-join always hits. Compresses
    // chains geometrically — with the two hops above, long-path
    // convergence needs ~log rounds instead of ~diameter.
    def jump(labels: DataFrame): DataFrame = {
      // fresh attribute ids on the lookup side (plain aliases), so the
      // self-join of the checkpointed frame resolves unambiguously
      val lookup = labels.select(col("id").as("jid"), col("cluster_id").as("jlabel"))
      labels.join(lookup, col("cluster_id") === col("jid"))
        .select(col("id"), col("jlabel").as("cluster_id"))
    }

    var labels = nodes.select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint(true)
    var releasePrev = Materialize.releaseHandle(labels)
    var prevSum = labelSum(labels)
    // sum() over zero rows is NULL: an empty node set is already at its
    // (empty) fixpoint
    if (prevSum == null) { releaseEdges(); return labels }
    var round = 0
    while (round < maxIter) {
      // two hops per materialization: round-trip cost in local/driver
      // terms is dominated by per-job overhead, not data volume, so
      // halving the checkpoint count near-halves wall-clock while the
      // plan stays a fixed two joins deep
      val next = jump(hop(hop(labels))).localCheckpoint(true)
      // round r-1's label blocks are dead once round r's checkpoint has
      // materialized (eager): unpersist so storage stays O(1) frames
      // for the loop instead of O(rounds) — the 100 TB OOM/disk fix
      releasePrev(); releasePrev = Materialize.releaseHandle(next)
      val nextSum = labelSum(next)
      labels = next
      round += 1
      if (nextSum.compareTo(prevSum) == 0) {
        // converged: the returned frame is the final checkpoint (kept
        // persisted — the consumer reads it); the edge checkpoint has
        // no remaining reader
        releaseEdges()
        return labels
      }
      prevSum = nextSum
    }
    releaseEdges()
    throw new IllegalStateException(
      s"components did not converge within $maxIter rounds")
  }

  /** Driver union-find for graphs under the size gate: union-by-min with
    * path compression, so the root of every tree is the component's
    * minimum id — byte-identical to the distributed loop's fixpoint. Only
    * edge-touching nodes come to the driver (bounded by 2·edges); the
    * labeling returns as a broadcast map joined onto the full node set,
    * isolated nodes labeling themselves via the coalesce.
    */
  private def smallGraphComponents(nodes: DataFrame,
                                   pairs: Array[(Long, Long)]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // LongMap: unboxed open-addressed keys, no per-entry Entry objects —
    // the driver-heap bound documented on smallGraphMaxEdges assumes it
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // keys snapshotted first: find() path-compresses (mutates values)
    // and iterating a mutable map while writing it is undefined
    val roots = parent.keys.toArray.map(k => k -> find(k)).toSeq
    val idType = nodes.schema("id").dataType
    val mapped = roots.toDF("id", "root")
      .select(col("id").cast(idType).as("id"), col("root").cast(idType).as("root"))
    nodes.select(col("id"))
      .join(broadcast(mapped), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }
}
