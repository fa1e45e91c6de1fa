package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorKernels

/** Embedding similarity: brute-force cosine top-k (the correctness
  * baseline) and sign-random-projection LSH (the scale path).
  *
  * Vectors stay as their storage `array<float>`; dot products run through
  * the custom codegen'd [[graft.functions.DotProduct]] expression — a
  * strict left-to-right fused loop, bit-exact reproducible and UDF-free.
  *
  * Scale shape: brute force is a broadcast of the (small) query set — a
  * map-only scan of the corpus with a per-query top-k, no shuffle of the
  * corpus itself. The LSH variant buckets both sides and joins on the
  * bucket key, turning O(|Q|·|C|) into O(collisions).
  */
object Similarity {

  /** Sequential fused-multiply dot product — the custom codegen'd
    * [[VectorKernels.DotProduct]] expression (bit-exact equal to the
    * interpreted `aggregate(zip_with(...))` fold it replaces; asserted
    * in the test suite).
    */
  def dot(a: Column, b: Column): Column = VectorKernels.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** Normalize an embeddings frame: id, v (kept as the storage float
    * array — the kernel widens per element, so no interpreted cast pass
    * or array copy), norm in double. `keep` carries attribute columns
    * (e.g. a label for filtered search) through the projection — still
    * map-only, no join.
    */
  def prep(df: DataFrame, idCol: String, vecCol: String,
           keep: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("id") +: col(vecCol).as("v") +: keep.map(col): _*)
      .withColumn("nrm", norm(col("v")))

  /** Brute-force cosine top-k RESTRICTED to corpus rows satisfying a
    * per-query attribute predicate (`lab` equality) — the exact truth
    * set for filtered-ANN recall audits ([[knnIvfPqFilteredOnCodes]]).
    * Both frames are prepped with `keep = Seq(labCol)`; same broadcast
    * map-only shape as [[knnBrute]], the predicate just rides the join.
    */
  def knnBruteFiltered(queries: DataFrame, corpus: DataFrame, k: Int,
                       labCol: String): DataFrame = {
    val q = broadcast(queries.select(col("id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn"), col(labCol).as("qlab")))
    val scored = q.join(corpus,
        col("id") =!= col("q_id") && col(labCol) === col("qlab"))
      .select(col("q_id"), col("id").as("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Brute-force cosine top-k of `corpus` for each row of `queries`
    * (both prepped). Queries are broadcast; the corpus is scanned once.
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn")))
    val scored = q.join(corpus, col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH: plane j,
    * dimension d is a fixed function of (j, d) — reproducible across
    * sessions with no stored model.
    */
  private def hyperplane(j: Int, dim: Int): Seq[Double] = {
    val rnd = new java.util.Random(0x5EED0000L + j)
    Seq.fill(dim)(rnd.nextGaussian())
  }

  /** Sign-random-projection bucket id from `planes` hyperplanes of hash
    * table `table` (tables use disjoint plane seeds).
    */
  def lshBucket(v: Column, dim: Int, planes: Int, table: Int): Column =
    (0 until planes).map { j =>
      val hp = array(hyperplane(table * 1000 + j, dim).map(lit): _*)
      when(dot(v, hp) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All (table, bucket) pairs for a vector, as an exploded-ready array. */
  def lshBuckets(v: Column, dim: Int, planes: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(v, dim, planes, t).as("bkt"))): _*)

  /** Multi-table LSH ANN: `tables` independent sign-projection tables of
    * `planes` bits each; a candidate matches if it shares the query's
    * bucket in ANY table (union via the exploded equi-join + distinct).
    * More tables raise recall at linear candidate cost; the shuffle stays
    * keyed by (table, bucket). Recall vs. [[knnBrute]] is measured in the
    * test suite.
    */
  def knnLsh(queries: DataFrame, corpus: DataFrame, k: Int,
             dim: Int, planes: Int = 4, tables: Int = 4): DataFrame = {
    def banded(df: DataFrame, idAs: String) = df
      .select(col("id").as(idAs), col("v"), col("nrm"),
        explode(lshBuckets(col("v"), dim, planes, tables)).as("tb"))
      .select(col(idAs), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val qb = broadcast(banded(queries, "q_id")
      .withColumnsRenamed(Map("v" -> "qv", "nrm" -> "qn")))
    // score BEFORE the dedup: a pair colliding in several tables scores
    // redundantly (cheap, map-side), but the dropDuplicates exchange then
    // carries (q_id, n_id, cos) — one double — instead of both vectors
    val scored = qb.join(banded(corpus, "n_id"),
        Seq("tbl", "bkt")).filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
      .dropDuplicates("q_id", "n_id")
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Centroids as driver-side model parameters: (c_id, cv, cn) rows of a
    * (≤ nCentroids-row) frame collected into plain Scala — the same move
    * MLlib's KMeans makes every Lloyd round, and the same pattern as the
    * literal LSH hyperplanes. k·dim doubles, never corpus data.
    */
  private def centArrays(cent: DataFrame): Seq[(Long, Seq[Double], Double)] =
    cent.select(col("c_id").cast("long"),
        col("cv").cast("array<double>"), col("cn"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  /** Per-centroid (affinity, c_id) structs for one vector — a pure
    * projection over literal centroid arrays, so cell assignment runs
    * map-only: no cross join, no per-vector aggregation exchange.
    */
  private def affStructs(v: Column, nrm: Column,
                         cents: Seq[(Long, Seq[Double], Double)]): Seq[Column] =
    cents.map { case (cid, cv, cn) =>
      struct(cosine(v, nrm, array(cv.map(lit): _*), lit(cn)).as("aff"),
        lit(cid).as("c_id"))
    }

  /** Argmax cell id, row-local. `greatest` over (aff, c_id) structs =
    * the old `max(struct)` aggregate semantics: ties take the highest
    * c_id, deterministically.
    */
  private def bestCell(v: Column, nrm: Column,
                       cents: Seq[(Long, Seq[Double], Double)]): Column = {
    val affs = affStructs(v, nrm, cents)
    // greatest() demands ≥2 args; a single-cell index is its own argmax
    (if (affs.length == 1) affs.head else greatest(affs: _*)).getField("c_id")
  }

  /** The k-means assignment objective: cosine argmax ([[bestCell]]) or
    * L2 argmin ([[nearestL2]], i.e. argmax v·c − ‖c‖²/2 — the objective
    * ADC's inner-product tables assume; run it on NORMALIZED vectors for
    * cosine search). Ties take the highest c_id either way. The SQL
    * mirror (`ScaleQueries.lloydChainSql`) reads the same value.
    */
  sealed trait Objective
  object Objective {
    case object Cosine extends Objective
    case object L2 extends Objective
  }

  /** Cosine k-means over the prepped vector `v`: the coarse quantizer
    * of the IVF cells, sem_dedup and the k-means reports.
    *
    * @return centroid frame (c_id, cv, cn) for [[knnIvf]] — zero
    *         lineage, safe to reference any number of times
    */
  def kmeansCentroids(corpus: DataFrame, k: Int): DataFrame =
    kmeans(corpus, Seq(col("v")), k, Objective.Cosine).head

  /** The one k-means trainer: ONE Lloyd round, every slice trained in
    * the same pass. Per slice s:
    *   - init = the slice of the k lowest-id rows, c_id = position in
    *     id order (deterministic);
    *   - every row's slice is assigned ROW-LOCALLY against the literal
    *     bank s (`objective`), so assignment is map-only;
    *   - a cell's new centroid is the exact-decimal mean of its members
    *     (the sum is associative, so the values are partition- and
    *     merge-order independent; a plain double avg() is not, and a
    *     boundary vector flipping cells would make the index
    *     nondeterministic); cells that lose every member drop.
    * The update is one (s, c_id, pos)-keyed aggregation, collected —
    * slices·k·dim doubles, never corpus data, the same move MLlib's
    * KMeans makes every round. The cell arrays and their norms (the
    * same left-to-right [[VectorKernels.dot]] the [[norm]] column
    * runs) are put together on the driver. Means, norms and tie-breaks
    * are all per (s, cell), so batching the slices changes no value:
    * the SQL mirror replays it one chain per slice.
    *
    * @param slices vector expression per slice, evaluated against
    *               `corpus` rows (`col("v")`, a [[unitSlice]] of v, a
    *               slice of a residual column)
    * @return one (c_id, cv, cn) bank per slice, as local relations —
    *         zero lineage, safe to reference any number of times
    */
  def kmeans(corpus: DataFrame, slices: Seq[Column], k: Int,
             objective: Objective): Seq[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the k lowest-id rows carry every slice's init centroid — one
    // collect; c_id is the row's position in the id-sorted collect
    // (TakeOrderedAndProject returns it in sort order), which spares
    // the k-row window a single-partition WindowExec
    val initRows = corpus.orderBy("id").limit(k)
      .select(array(slices.map(_.cast("array<double>")): _*).as("svs"),
        array(slices.map(norm): _*).as("cns"))
      .collect()
    // .toVector: Row.getSeq hands back a mutable ArraySeq, which the
    // local-relation encoder (toDF below) refuses
    val init = slices.indices.map { s =>
      initRows.toSeq.zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[scala.collection.Seq[Double]](0)(s).toVector: Seq[Double],
          r.getSeq[Double](1)(s))
      }
    }
    val cells = lloydUpdate(corpus, slices, init, objective).collect()
      .groupBy(r => (r.getInt(0), r.getLong(1)))
    slices.indices.map { s =>
      cells.toSeq.collect { case ((`s`, cid), rs) =>
        val cv = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
        val ad = new GenericArrayData(cv)
        (cid, cv.toVector: Seq[Double],
          math.sqrt(VectorKernels.dot(ad, ad, aFloat = false, bFloat = false)))
      }.sortBy(_._1).toDF("c_id", "cv", "cn")
    }
  }

  /** The Lloyd round's update as one aggregation: (s, c_id, pos, m),
    * the exact-decimal mean m of element `pos` over the rows whose
    * slice s was assigned to cell c_id of `banks(s)`.
    */
  private[operators] def lloydUpdate(corpus: DataFrame, slices: Seq[Column],
                                     banks: Seq[Seq[(Long, Seq[Double], Double)]],
                                     objective: Objective): DataFrame = {
    def assign(s: Int) = objective match {
      case Objective.Cosine => bestCell(col("sv"), col("sn"), banks(s))
      case Objective.L2 => nearestL2(col("sv"), banks(s))
    }
    val cell = slices.indices.tail.foldLeft(when(col("s") === 0, assign(0))) {
      (acc, s) => acc.when(col("s") === s, assign(s))
    }
    // each step in its own projection: the slice norm once per row (not
    // once per cell of the cosine argmax; pruned under L2), the cell once
    // per row (a projection that holds the generator would evaluate it
    // once per exploded element)
    corpus.select(posexplode(array(slices: _*)).as(Seq("s", "sv")))
      .withColumn("sn", norm(col("sv")))
      .select(col("s"), cell.as("c_id"), col("sv"))
      .select(col("s"), col("c_id"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("s", "c_id", "pos")
      .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1)).cast("double")).as("m"))
  }

  /** Argmin-L2 cell id via the unrolled greatest-chain — kept ONLY as
    * the reference formulation the compact-kernel spec compares
    * against ([[bestCellL2]] ≡ [[CellKernels.nearestCellL2]] is
    * asserted on real data in SimilaritySpec); production paths use
    * the kernel, whose generated code is constant-size in the bank.
    * Ties take the highest c_id like [[bestCell]].
    */
  private[operators] def bestCellL2(v: Column,
                                    cents: Seq[(Long, Seq[Double], Double)]): Column = {
    val affs = cents.map { case (cid, cv, cn) =>
      struct((dot(v, array(cv.map(lit): _*)) - lit(cn * cn / 2)).as("aff"),
        lit(cid).as("c_id"))
    }
    (if (affs.length == 1) affs.head else greatest(affs: _*)).getField("c_id")
  }

  /** The compact codegen'd L2 assignment ([[graft.functions
    * .CellKernels.nearestCellL2]]) over a bank given as model tuples.
    */
  private[operators] def nearestL2(v: Column,
                                   cents: Seq[(Long, Seq[Double], Double)]): Column =
    graft.functions.CellKernels.nearestCellL2(v,
      cents.map(_._1).toArray,
      cents.map(_._2.toArray).toArray,
      cents.map(t => t._3 * t._3 / 2).toArray)

  /** Per-query ADC table as a map(c_id → v·cv) over the bank, built by
    * the compact [[graft.functions.CellKernels.dotTable]] kernel —
    * value-identical to `map_from_arrays(ids, array(dot(v,c₀), …))`.
    */
  private def adcTable(v: Column,
                       cents: Seq[(Long, Seq[Double], Double)]): Column =
    map_from_arrays(
      array(cents.map(c => lit(c._1)): _*),
      graft.functions.CellKernels.dotTable(v, cents.map(_._2.toArray).toArray))

  /** IVF-flat ANN: partition the corpus into `nCentroids` Voronoi cells
    * (assignment = highest cosine affinity), probe the query's `nProbe`
    * nearest cells, exact top-k within the probed candidates.
    *
    * Default centroids are a deterministic sample (lowest ids) — the
    * structural skeleton of IVF without a training job; pass
    * [[kmeansCentroids]] output to tighten recall. Assignment is
    * a broadcast cross-join against ≤nCentroids rows (map-only); the
    * candidate join is keyed by cell id. Recall vs. [[knnBrute]] is
    * measured in the test suite.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, k: Int,
             nCentroids: Int = 16, nProbe: Int = 4,
             centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centArrays(centroids.getOrElse(corpus.orderBy("id").limit(nCentroids)
      .select(col("id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))))
    // both assignments are row-local projections against the literal
    // centroid bank: corpus side map-only (one cell each), query side
    // exploding its nProbe nearest cells from an in-row struct sort.
    // Sorted ascending on (-aff, c_id) — NOT reverse(sort on (aff, c_id))
    // — so exact-affinity ties break toward the LOWEST c_id, matching the
    // tie-break of the original topKPerGroup probe selection.
    def probeCells(v: Column, nrm: Column, probes: Int): Column =
      transform(
        slice(array_sort(array(cents.map { case (cid, cv, cn) =>
          struct((-cosine(v, nrm, array(cv.map(lit): _*), lit(cn))).as("negaff"),
            lit(cid).as("c_id"))
        }: _*)), 1, probes),
        s => s.getField("c_id"))
    val corpusCells = corpus.select(col("id").as("n_id"), col("v"), col("nrm"),
      bestCell(col("v"), col("nrm"), cents).as("c_id"))
    val queryCells = queries.select(col("id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qn"),
      explode(probeCells(col("v"), col("nrm"), nProbe)).as("c_id"))
    // scored before the dedup, so the exchange carries one double per
    // candidate pair instead of both vectors (same move as knnLsh)
    val scored = queryCells.join(corpusCells, Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
      .dropDuplicates("q_id", "n_id")
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Normalized slice of a prepped vector: the storage float slice
    * widened and divided element-wise by the FULL-vector norm — the
    * unit-sphere projection PQ-for-cosine quantizes. Mirrors as
    * `list_transform(v[lo:hi], x -> x / nrm)`.
    */
  def unitSlice(v: Column, nrm: Column, lo: Int, len: Int): Column =
    transform(slice(v, lo, len), x => x / nrm)

  /** Product-quantization ANN: asymmetric-distance (ADC) scan over PQ
    * codes + exact re-rank — the compression layer of a 100 TB vector
    * deployment. Each corpus vector is encoded once as one sub-codebook
    * cell id PER SUBSPACE (8×6 bits at the shipped subK=64 vs
    * 64×32-bit floats); the
    * candidate scan then reads ONLY the code columns — at corpus scale
    * the full vectors never leave the parquet files except for the
    * nQ·rerank rows the exact re-rank touches.
    *
    * Cosine-correct construction (the FAISS `IndexPQ` + inner-product
    * recipe): both sides are first projected to the UNIT SPHERE
    * (û = v/‖v‖), sub-quantizers are trained with the L2 objective on
    * the normalized slices ([[kmeans]], [[Objective.L2]]), and the ADC score
    * is then a pure inner-product sum
    *   cos(q, x) = û_q · û_x ≈ Σ_s qtab_s[code_s]
    * with NO norm-denominator approximation at all (‖û_x‖ = 1 by
    * construction; the per-query 1/‖q‖ factor is rank-invariant and
    * folded into the normalized qtab). The per-pair cost is
    * O(#subspaces) map lookups instead of O(dim) multiplies.
    *
    * Scale shape: code assignment is map-only against literal
    * sub-centroid banks (same as [[assignCells]]); the ADC scan is a
    * broadcast of the small query set over the codes-only projection;
    * the re-rank joins the tiny candidate list (broadcast) back to the
    * full vectors. Recall vs [[knnBrute]] is floor-audited in
    * `knn_pq_recall`; run it at every SF before changing a PQ constant.
    *
    * Determinism: every score is pure IEEE arithmetic over
    * deterministic k-means centroids — fully SQL-mirrorable, ties break
    * on n_id in both lanes.
    *
    * @param subspaces (lo 1-based, len, trained sub-centroid frame) per
    *                  subspace — [[kmeans]] L2 output on the
    *                  matching NORMALIZED slice of the corpus
    * @param rerank    ADC candidates kept per query for the exact pass
    */
  def knnPq(queries: DataFrame, corpus: DataFrame, k: Int, rerank: Int,
            subspaces: Seq[(Int, Int, DataFrame)]): DataFrame = {
    val subs = subspaces.zipWithIndex.map { case ((lo, len, cent), s) =>
      (lo, len, centArrays(cent), s)
    }
    // corpus → codes: row-local L2 argmax per subspace over the
    // normalized slices. The ADC scan frame carries (n_id, code per
    // subspace) — longs only, no vectors.
    val staged = corpus.select(col("id").as("n_id") +: subs.map {
      case (lo, len, _, s) => unitSlice(col("v"), col("nrm"), lo, len).as(s"sv$s")
    }: _*)
    val codes = staged.select(col("n_id") +: subs.map {
      case (_, _, cents, s) => nearestL2(col(s"sv$s"), cents).as(s"code$s")
    }: _*)
    // query → per-subspace dot table of the NORMALIZED query slice
    // against the literal sub-centroid bank, built ONCE per query row
    // before the broadcast
    val qTabs = subs.map { case (lo, len, cents, s) =>
      adcTable(unitSlice(col("v"), col("nrm"), lo, len), cents).as(s"qtab$s")
    }
    val qb = broadcast(queries.select(col("id").as("q_id") +: qTabs: _*))
    val adc = qb.join(codes, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        subs.map { case (_, _, _, s) =>
          element_at(col(s"qtab$s"), col(s"code$s"))
        }.reduce(_ + _).as("adc"))
    val cand = Relational.topKPerGroup(adc, Seq("q_id"), col("adc"),
        col("n_id"), rerank)
      .select(col("q_id"), col("n_id"))
    // exact re-rank: the tiny candidate list broadcasts into one pass
    // over the full-vector corpus — the only place whole vectors move
    val qv = broadcast(queries.select(col("id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn")))
    val scored = corpus.join(broadcast(cand), col("id") === col("n_id"))
      .join(qv, Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Coarse-residual frame for IVF+PQ: each prepped vector is assigned
    * to its Voronoi cell (row-local argmax against the literal coarse
    * bank, same tie-break as [[assignCells]]) and re-expressed as the
    * residual from the cell's UNIT centroid:
    *   r = û − ĉ(cell),  û = v/‖v‖,  ĉ = cv/‖cv‖.
    * Because û = ĉ + r exactly, the cosine against any unit query
    * decomposes as û_q·û = û_q·ĉ + û_q·r — the first term is exact
    * per probed cell and only the residual needs quantizing. Residuals
    * concentrate near 0 far more tightly than raw vectors, which is
    * why per-cell-residual sub-codebooks of the same bit budget rank
    * candidates much better than flat-PQ codes (the FAISS `IndexIVFPQ`
    * construction). Map-only: the centroid bank rides along as a
    * literal `map(c_id → ĉ)`, no join or shuffle.
    *
    * @return (id, c_id, r) with r already double-typed
    */
  def residualFrame(corpus: DataFrame, coarse: DataFrame,
                    keep: Seq[String] = Nil): DataFrame = {
    val cents = centArrays(coarse)
    val unitCentMap = map_from_arrays(
      array(cents.map(c => lit(c._1)): _*),
      array(cents.map { case (_, cv, cn) => array(cv.map(x => lit(x / cn)): _*) }: _*))
    corpus.select(col("id") +:
        bestCell(col("v"), col("nrm"), cents).as("c_id") +:
        transform(col("v"), x => x / col("nrm")).as("u") +: keep.map(col): _*)
      .select(col("id") +: col("c_id") +:
        zip_with(col("u"), element_at(unitCentMap, col("c_id")),
          (a, b) => a - b).as("r") +: keep.map(col): _*)
  }

  /** Composed IVF+PQ ANN — the index shape a 100 TB vector consumer
    * actually deploys: the coarse quantizer prunes the corpus to
    * `nProbe` Voronoi cells per query, and within the probed cells the
    * scan reads PQ codes only (8 longs per vector), scoring each
    * candidate as
    *   score = û_q·ĉ(cell)  +  Σ_s qtab_s[code_s]
    * i.e. the exact query-centroid affinity plus the ADC estimate of
    * û_q·r from per-subspace RESIDUAL codebooks ([[residualFrame]]).
    * The top `rerank` candidates per query get an exact re-rank — the
    * only place full vectors move.
    *
    * Contrast with the two halves it composes: [[knnIvf]] prunes cells
    * but carries full vectors through the candidate join; [[knnPq]]
    * compresses every comparison but scans ALL codes per query batch.
    * Here the scanned fraction is nProbe/nCells of the CODES — at
    * corpus scale, with the codes frame written partitioned by c_id,
    * cell pruning becomes parquet partition pruning and the full
    * vectors are touched only for the nQ·rerank re-rank rows.
    *
    * Determinism: pure IEEE arithmetic over deterministic k-means
    * banks end to end (coarse affinities, residual code argmins, ADC
    * map lookups) — fully SQL-mirrorable; ties break on n_id.
    *
    * @param coarse    coarse centroid frame ([[kmeansCentroids]])
    * @param subspaces (lo 1-based, len, sub-centroid frame) trained by
    *                  [[kmeans]] (L2) on the matching SLICE of
    *                  [[residualFrame]]'s r column
    */
  def knnIvfPq(queries: DataFrame, corpus: DataFrame, k: Int, rerank: Int,
               nProbe: Int, coarse: DataFrame,
               subspaces: Seq[(Int, Int, DataFrame)]): DataFrame =
    knnIvfPqOnCodes(queries, corpus, ivfPqCodes(corpus, coarse, subspaces),
      k, rerank, nProbe, coarse, subspaces)

  /** The persistable IVF+PQ index frame: (n_id, c_id, code0..codeS) —
    * row-local residual + L2 argmin per subspace, longs only. A
    * deployment writes this ONCE, `partitionBy("c_id")`, so probing
    * becomes parquet partition pruning (proven in `CellIndexSpec` and
    * `AnnIndexSpec`); the search side is [[knnIvfPqOnCodes]]. `keep`
    * stores attribute columns (e.g. a label for filtered search) IN the
    * index rows — projected in the same single coding pass, no join, so
    * at corpus scale filtered search never touches a second table.
    */
  def ivfPqCodes(corpus: DataFrame, coarse: DataFrame,
                 subspaces: Seq[(Int, Int, DataFrame)],
                 keep: Seq[String] = Nil): DataFrame = {
    val subs = subspaces.zipWithIndex.map { case ((lo, len, cent), s) =>
      (lo, len, centArrays(cent), s)
    }
    val resid = residualFrame(corpus, coarse, keep)
    resid.select(col("id").as("n_id") +: col("c_id") +: (subs.map {
      case (lo, len, sc, s) => nearestL2(slice(col("r"), lo, len), sc).as(s"code$s")
    } ++ keep.map(col)): _*)
  }

  /** The query side's exploded (negaff, c_id, aff) probe structs: the
    * nProbe nearest coarse cells per query row from an in-row struct
    * sort (ties toward the LOWEST c_id, the knnIvf probe convention).
    * Shared by [[knnIvfPqOnCodes]] and [[probedCells]] so the search
    * path and the partition-pruning predicate can never disagree on
    * which cells a query probes.
    */
  private def probeExploded(cents: Seq[(Long, Seq[Double], Double)],
                            nProbe: Int): Column =
    explode(slice(array_sort(array(cents.map { case (cid, cv, cn) =>
      val aff = cosine(col("v"), col("nrm"), array(cv.map(lit): _*), lit(cn))
      struct((-aff).as("negaff"), lit(cid).as("c_id"), aff.as("aff"))
    }: _*)), 1, nProbe))

  /** Distinct coarse cells the query batch probes — the ≤ nCells-row
    * frame a deployment collects (model-sized: bounded by the coarse
    * bank, not the corpus) to turn cell probing over a persisted
    * `partitionBy("c_id")` codes index into a STATIC partition
    * predicate, i.e. parquet directory pruning visible in the scan's
    * PartitionFilters. Wired into the registered `ann_index_search` /
    * `knn_filtered` queries via `ScaleQueries.prunedIndexCodes`;
    * AnnIndexSpec asserts both the pruning predicate and agreement
    * with an independently-computed probe set.
    */
  def probedCells(queries: DataFrame, coarse: DataFrame, nProbe: Int): DataFrame =
    queries.select(probeExploded(centArrays(coarse), nProbe).as("p"))
      .select(col("p.c_id").as("c_id")).distinct()

  /** IVF+PQ search over a prebuilt codes frame ([[ivfPqCodes]], inline
    * or read back from a cell-partitioned parquet index). `corpus` is
    * touched only for the nQ·rerank exact re-rank rows.
    */
  def knnIvfPqOnCodes(queries: DataFrame, corpus: DataFrame,
                      codes: DataFrame, k: Int, rerank: Int,
                      nProbe: Int, coarse: DataFrame,
                      subspaces: Seq[(Int, Int, DataFrame)]): DataFrame =
    ivfPqSearchCore(queries, corpus, codes, k, rerank, nProbe, coarse,
      subspaces, labCol = None)

  /** Filtered ANN over the composed IVF+PQ index: same probing + ADC +
    * exact re-rank as [[knnIvfPqOnCodes]], with a per-query attribute
    * predicate (equality on `labCol`) applied DURING the ADC code scan
    * — filter-before-rank, the production retrieval shape (the rerank
    * pool is spent entirely on rows that satisfy the predicate, so no
    * post-filter starvation). `queries` must carry `labCol` (prep with
    * `keep`); `codes` must carry `labCol` stored in the index rows
    * ([[ivfPqCodes]]'s `keep` — no second table at scan time). Recall
    * vs the filtered brute truth ([[knnBruteFiltered]]) is floor-
    * audited in `knn_filtered_recall`; run it at every SF before
    * changing the rerank pool.
    */
  def knnIvfPqFilteredOnCodes(queries: DataFrame, corpus: DataFrame,
                              codes: DataFrame, k: Int, rerank: Int,
                              nProbe: Int, coarse: DataFrame,
                              subspaces: Seq[(Int, Int, DataFrame)],
                              labCol: String): DataFrame =
    ivfPqSearchCore(queries, corpus, codes, k, rerank, nProbe, coarse,
      subspaces, labCol = Some(labCol))

  /** The shared ADC scan of every probed-cell code row: (q_id, n_id,
    * adc), where adc = û_q·ĉ(cell) + Σ_s qtab_s[code_s]. Each (q, n)
    * pair appears at most once (a vector lives in exactly one cell).
    * Consumed by both retrieval shapes — top-k ([[ivfPqSearchCore]])
    * keeps the best `rerank` per query; range ([[rangeIvfPqOnCodes]])
    * keeps everything over an absolute admission threshold.
    */
  private def ivfPqAdcScores(queries: DataFrame, codes: DataFrame,
                             nProbe: Int, coarse: DataFrame,
                             subspaces: Seq[(Int, Int, DataFrame)],
                             labCol: Option[String]): DataFrame = {
    val cents = centArrays(coarse)
    val subs = subspaces.zipWithIndex.map { case ((lo, len, cent), s) =>
      (lo, len, centArrays(cent), s)
    }
    // query → the shared probe structs, plus one ADC dot-table per
    // subspace over the UNIT query slice — all built before the
    // broadcast.
    val probed = probeExploded(cents, nProbe)
    val qTabs = subs.map { case (lo, len, sc, s) =>
      adcTable(unitSlice(col("v"), col("nrm"), lo, len), sc).as(s"qtab$s")
    }
    val qb = broadcast(queries
      .select(col("id").as("q_id") +: probed.as("p") +:
        (qTabs ++ labCol.map(c => col(c).as("qlab"))): _*)
      .select(Seq(col("q_id"), col("p.c_id").as("c_id"), col("p.aff").as("aff")) ++
        subs.map { case (_, _, _, s) => col(s"qtab$s") } ++
        labCol.map(_ => col("qlab")): _*))
    val joined = qb.join(codes, Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
    labCol.fold(joined)(c => joined.filter(col(c) === col("qlab")))
      .select(col("q_id"), col("n_id"),
        subs.map { case (_, _, _, s) =>
          element_at(col(s"qtab$s"), col(s"code$s"))
        }.foldLeft(col("aff"))(_ + _).as("adc"))
  }

  /** Exact-cosine pass over a (q_id, n_id) candidate frame — the only
    * place full vectors move in either retrieval shape. The TOP-K path
    * broadcasts the candidates (bounded at nQ·rerank rows by
    * construction); the RANGE path must NOT (`broadcastCand = false`):
    * its admission is an absolute ADC threshold, so at the shipped
    * loose margin the admitted set is a CORPUS FRACTION (~half the
    * probed rows), and forcing a broadcast would blow the driver at
    * scale — it joins by shuffle on n_id instead (AQE may still choose
    * a broadcast when the batch is genuinely small).
    */
  private def exactCosOnCandidates(queries: DataFrame, corpus: DataFrame,
                                   cand: DataFrame,
                                   broadcastCand: Boolean): DataFrame = {
    val qv = broadcast(queries.select(col("id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn")))
    val c = if (broadcastCand) broadcast(cand) else cand
    corpus.join(c, col("id") === col("n_id"))
      .join(qv, Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
  }

  private def ivfPqSearchCore(queries: DataFrame, corpus: DataFrame,
                              codes: DataFrame, k: Int, rerank: Int,
                              nProbe: Int, coarse: DataFrame,
                              subspaces: Seq[(Int, Int, DataFrame)],
                              labCol: Option[String]): DataFrame = {
    val adc = ivfPqAdcScores(queries, codes, nProbe, coarse, subspaces, labCol)
    val cand = Relational.topKPerGroup(adc, Seq("q_id"), col("adc"),
        col("n_id"), rerank)
      .select(col("q_id"), col("n_id"))
    // exact re-rank, identical to knnPq's tail (candidates are already
    // predicate-satisfying in the filtered variant)
    val scored = exactCosOnCandidates(queries, corpus, cand,
      broadcastCand = true)
    Relational.topKPerGroup(scored, Seq("q_id"), col("cos"), col("n_id"), k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rk"))
  }

  /** Range (ε-ball) search over the composed IVF+PQ index: every
    * neighbor with exact cosine ≥ `tau` — the retrieval primitive a
    * curation user hits when THRESHOLDING ("everything this close is a
    * near-dup / contamination hit"), not ranking. Top-k cannot express
    * it: k too small truncates dense neighborhoods, k too large scans
    * noise for isolated queries.
    *
    * Shape: the same probed-cell ADC scan as [[knnIvfPqOnCodes]], but
    * candidates are admitted by the ABSOLUTE test
    *   adc ≥ tau − margin
    * (margin absorbs PQ quantization error; set from the measured ADC
    * residual-error tail, floor-audited in `ann_range_recall`), then the
    * exact re-rank keeps cos ≥ tau. PRECISION is therefore exact by
    * construction — every emitted pair satisfies the true predicate —
    * and only recall is approximate (a true neighbor can hide in an
    * unprobed cell or under a >margin ADC underestimate).
    *
    * Scale shape: partition-pruned codes scan like the top-k path, but
    * the exact re-rank joins the admitted set back to the corpus BY
    * SHUFFLE, not broadcast — the absolute admission keeps a corpus
    * FRACTION (~half the probed rows at the shipped loose margin), not
    * an nQ·rerank-bounded list, and that linear exact pass is the cost
    * a thresholding user accepted when asking for every ball member.
    * The ADC threshold still prunes before the shuffle, and no
    * per-query state exists anywhere.
    */
  def rangeIvfPqOnCodes(queries: DataFrame, corpus: DataFrame,
                        codes: DataFrame, tau: Double, margin: Double,
                        nProbe: Int, coarse: DataFrame,
                        subspaces: Seq[(Int, Int, DataFrame)]): DataFrame =
    rangeCore(queries, corpus, codes, tau, margin, nProbe, coarse,
      subspaces, labCol = None)

  /** Filtered range search: [[rangeIvfPqOnCodes]] with an equality
    * predicate on `labCol` applied DURING the ADC code scan
    * (filter-before-admit, same discipline as
    * [[knnIvfPqFilteredOnCodes]]) — "every same-label neighbor within
    * the ball", the thresholding sibling of filtered top-k. `queries`
    * must carry `labCol`; `codes` must store it in the index rows.
    */
  def rangeIvfPqFilteredOnCodes(queries: DataFrame, corpus: DataFrame,
                                codes: DataFrame, tau: Double, margin: Double,
                                nProbe: Int, coarse: DataFrame,
                                subspaces: Seq[(Int, Int, DataFrame)],
                                labCol: String): DataFrame =
    rangeCore(queries, corpus, codes, tau, margin, nProbe, coarse,
      subspaces, labCol = Some(labCol))

  private def rangeCore(queries: DataFrame, corpus: DataFrame,
                        codes: DataFrame, tau: Double, margin: Double,
                        nProbe: Int, coarse: DataFrame,
                        subspaces: Seq[(Int, Int, DataFrame)],
                        labCol: Option[String]): DataFrame = {
    val adc = ivfPqAdcScores(queries, codes, nProbe, coarse, subspaces, labCol)
    val cand = adc.filter(col("adc") >= tau - margin)
      .select(col("q_id"), col("n_id"))
    // shuffle join, never a forced broadcast: at the shipped loose
    // margin the admitted set is a fraction of the probed CORPUS, not
    // an nQ·rerank-bounded list
    exactCosOnCandidates(queries, corpus, cand, broadcastCand = false)
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Row-local Voronoi cell assignment of a prepped frame against a
    * centroid frame: (id, v, nrm, c_id). Map-only — the centroid bank
    * becomes literal arrays (model parameters), so no join or shuffle.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centArrays(centroids)
    corpus.select(col("id"), col("v"), col("nrm"),
      bestCell(col("v"), col("nrm"), cents).as("c_id"))
  }

  /** [[assignCells]] plus the winning affinity itself: (id, c_id, aff)
    * — same map-only shape and the same (aff, c_id) tie-break; the
    * index-health/drift monitors need the affinity value, not just the
    * argmax. The greatest-struct is staged in its own projection so
    * extracting both fields evaluates the 16-cosine chain once per
    * row, not once per field.
    */
  def assignCellsWithAffinity(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centArrays(centroids)
    val affs = affStructs(col("v"), col("nrm"), cents)
    val best = if (affs.length == 1) affs.head else greatest(affs: _*)
    corpus.select(col("id"), best.as("ba"))
      .select(col("id"), col("ba.c_id").as("c_id"), col("ba.aff").as("aff"))
  }

  /** Semantic deduplication (the SemDeDup shape: cluster embeddings
    * with k-means, then drop within-cluster near-duplicates above a
    * cosine threshold): a vector is dropped iff some SMALLER-id vector
    * in its cluster has cosine ≥ τ with it, so every near-dup chain
    * keeps its minimal-id representative — a total, engine-portable
    * keep rule (no dependence on cluster traversal order).
    *
    * Scale shape: assignment is map-only against the literal centroid
    * bank; the pair search is an equi-join on c_id, O(Σ cell²) — at
    * corpus scale you grow k with √N (the SemDeDup operating point),
    * keeping cells ~√N so the per-cell quadratic stays linear overall.
    *
    * @return one row per vector: (vec_id, c_id, kept)
    */
  def semDedup(prepped: DataFrame, centroids: DataFrame, tau: Double): DataFrame = {
    val assigned = assignCells(prepped, centroids)
    val l = assigned.select(col("c_id"), col("id").as("a_id"),
      col("v").as("av"), col("nrm").as("an"))
    val r = assigned.select(col("c_id"), col("id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dropped = l.join(r, Seq("c_id"))
      .filter(col("a_id") < col("b_id") &&
        cosine(col("av"), col("an"), col("bv"), col("bn")) >= tau)
      .select(col("b_id").as("id")).distinct()
    assigned.join(dropped.withColumn("drp", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("c_id"),
        col("drp").isNull.as("kept"))
  }

  /** Embedding near-duplicate pairs within a blocking key (here: equal
    * `label`), cosine ≥ threshold. Blocked exact search — the oracle-
    * checkable sibling of the LSH path.
    */
  def cosineNearDups(prepped: DataFrame, blockCol: Column,
                     threshold: Double): DataFrame = {
    val withBlock = prepped.withColumn("blk", blockCol)
    withBlock.as("l").join(withBlock.as("r"),
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"),
        cosine(col("l.v"), col("l.nrm"), col("r.v"), col("r.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Hard-triplet mining for contrastive training: for each anchor, the
    * hardest POSITIVE (same label, LOWEST cosine — the pair the loss
    * most needs to pull together) and the hardest NEGATIVE (different
    * label, HIGHEST cosine — the impostor it most needs to push away),
    * plus the triplet margin. The batch-offline variant of the miner
    * every metric-learning pipeline runs between epochs.
    *
    * Scale shape: anchors are broadcast (a small labelled probe set —
    * model-selection data, not the corpus), so the corpus is scanned
    * ONCE map-only; both extremes come from a single aggregation pass
    * (min/max over (cos, id) structs — map-side combinable, one
    * exchange of |anchors| rows, never a per-anchor sort). Struct
    * ordering gives deterministic tie-breaks: equal-cosine positives
    * take the LOWEST neighbor id, negatives the HIGHEST — the oracle
    * mirrors both in its window ORDER BY.
    *
    * Anchors with no same-label or no different-label companion yield
    * NULL extremes and are dropped (can't form a triplet).
    *
    * @param anchors prepped (id, v, nrm) + `label`
    * @param corpus  prepped (id, v, nrm) + `label`
    * @return (q_id, a_label, pos_id, pos_cos, neg_id, neg_cos, margin,
    *         violates) — violates = margin below `minMargin`
    */
  def tripletMine(anchors: DataFrame, corpus: DataFrame,
                  minMargin: Double): DataFrame = {
    val q = broadcast(anchors.select(col("id").as("q_id"),
      col("label").as("a_label"), col("v").as("qv"), col("nrm").as("qn")))
    val scored = q.join(corpus, col("id") =!= col("q_id"))
      .select(col("q_id"), col("a_label"), col("id").as("n_id"),
        (col("label") === col("a_label")).as("same"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    scored.groupBy("q_id", "a_label")
      .agg(
        min(when(col("same"), struct(col("cos"), col("n_id")))).as("p"),
        max(when(!col("same"), struct(col("cos"), col("n_id")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("q_id"), col("a_label"),
        col("p.n_id").as("pos_id"), round(col("p.cos"), 6).as("pos_cos"),
        col("n.n_id").as("neg_id"), round(col("n.cos"), 6).as("neg_cos"),
        round(col("p.cos") - col("n.cos"), 6).as("margin"),
        (col("p.cos") - col("n.cos") < minMargin).cast("long").as("violates"))
  }
}
