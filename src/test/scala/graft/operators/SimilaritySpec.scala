package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine kernel is exact on hand-computed vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
    assert(math.abs(df.head().getDouble(0) - 1.0) < 1e-12)
  }

  test("codegen'd dot product is bit-exact vs the interpreted fold on real embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pairs = embs.as("a").join(embs.as("b"),
      col("a.vec_id") + 1 === col("b.vec_id"))
    val viaFold = aggregate(
      zip_with(
        transform(col("a.embedding"), x => x.cast("double")),
        transform(col("b.embedding"), x => x.cast("double")),
        (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val mismatches = pairs
      .select(Similarity.dot(col("a.embedding"), col("b.embedding")).as("k"), viaFold.as("f"))
      .filter(col("k") =!= col("f")).count()
    assert(mismatches == 0)
  }

  test("brute-force knn returns the true neighbors in rank order") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),   // closest to 0
      (2L, Seq(0.5f, 0.5f, 0.0f)),   // second
      (3L, Seq(0.0f, 1.0f, 0.0f)),   // far
      (4L, Seq(0.0f, 0.0f, 1.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val prepped = Similarity.prep(vecs, "vec_id", "embedding")
    val res = Similarity.knnBrute(prepped.filter(col("id") === 0L), prepped, k = 3)
      .orderBy("rk").select("n_id").as[Long].collect().toSeq
    assert(res == Seq(1L, 2L, 3L))
  }

  test("lsh knn recall vs brute force on the real sf0.001 embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val queries = prepped.filter(col("id") % 50 === 0)
    val brute = Similarity.knnBrute(queries, prepped, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.knnLsh(queries, prepped, k = 5, dim = 64, planes = 4, tables = 8)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
    // LSH candidates are a strict subset of the space; every hit must be real
    assert(lsh.forall { case (q, n) => q != n })
  }

  test("ivf knn recall vs brute force on the real sf0.001 embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val queries = prepped.filter(col("id") % 50 === 0)
    val brute = Similarity.knnBrute(queries, prepped, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(queries, prepped, k = 5, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")

    // trained cells must not LOSE recall vs the untrained sample skeleton
    // — at the one Lloyd round the knn_ivf query actually runs
    val cent = Similarity.kmeansCentroids(prepped, k = 16)
    val trained = Similarity.knnIvf(queries, prepped, k = 5, nProbe = 4,
        centroids = Some(cent))
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val trainedRecall = trained.intersect(brute).size.toDouble / brute.size
    assert(trainedRecall >= recall - 0.05,
      s"k-means cells regressed recall: $trainedRecall < $recall")
  }

  test("pq knn recall vs brute force on the real sf0.001 embeddings") {
    // pins the flat-PQ path at the SHIPPED operating point
    // (ScaleQueries constants) so the knn_pq_recall gate can't regress
    // without this spec failing first
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val queries = prepped.filter(col("id") % 50 === 0)
    val brute = Similarity.knnBrute(queries, prepped, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val sq = graft.queries.ScaleQueries
    val pq = Similarity.knnPq(queries, prepped, k = sq.PqK, rerank = sq.PqRerank,
        sq.pqSubspaces(prepped))
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= (sq.PqMinPct - 5) / 100.0,
      s"PQ recall $recall under the floor-with-margin at the shipped config")
    assert(pq.forall { case (q, n) => q != n })
  }

  test("ivf+pq knn recall vs brute force on the real sf0.001 embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val queries = prepped.filter(col("id") % 50 === 0)
    val brute = Similarity.knnBrute(queries, prepped, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val sq = graft.queries.ScaleQueries
    val coarse = Similarity.kmeansCentroids(prepped, k = 16)
    val ivfpq = Similarity.knnIvfPq(queries, prepped, k = sq.PqK,
        rerank = sq.PqRerank, nProbe = sq.IvfPqNProbe, coarse = coarse,
        subspaces = sq.ivfPqSubspaces(prepped, coarse))
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivfpq.intersect(brute).size.toDouble / brute.size
    assert(recall >= (sq.IvfPqMinPct - 5) / 100.0,
      s"IVF+PQ recall $recall under the floor-with-margin at the shipped config")
    assert(ivfpq.forall { case (q, n) => q != n })
  }

  test("compact cell kernels are bit-exact vs the unrolled reference forms") {
    // NearestCellL2's loop must pick the identical cell (same argmax,
    // same highest-c_id tie-break) as the greatest-chain it replaces,
    // and DotTable must reproduce the per-centroid dot products — on
    // real embeddings against a real trained bank
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val sub = prepped.select(col("id"),
      Similarity.unitSlice(col("v"), col("nrm"), 1, 8).as("sv"))
    val bankDf = Similarity.kmeans(sub, Seq(col("sv")), k = 64,
      Similarity.Objective.L2).head
    val bank = bankDf.select(col("c_id").cast("long"), col("cv").cast("array<double>"), col("cn"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    val mism = sub.select(
        Similarity.nearestL2(col("sv"), bank).as("kernel"),
        Similarity.bestCellL2(col("sv"), bank).as("reference"))
      .filter(col("kernel") =!= col("reference")).count()
    assert(mism == 0)
    val dotMism = sub.select(
        graft.functions.CellKernels.dotTable(col("sv"),
          bank.map(_._2.toArray).toArray).as("tab"),
        array(bank.map { case (_, cv, _) =>
          Similarity.dot(col("sv"), array(cv.map(lit): _*)) }: _*).as("ref"))
      .filter(col("tab") =!= col("ref")).count()
    assert(dotMism == 0)
  }

  test("residualFrame reconstructs the unit vector exactly per cell") {
    // û = ĉ(cell) + r by construction — verify the identity on real
    // embeddings: adding the residual back to the assigned unit
    // centroid must reproduce v/‖v‖ to double round-off
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val coarse = Similarity.kmeansCentroids(prepped, k = 16)
    val resid = Similarity.residualFrame(prepped, coarse)
    val cents = coarse.select(col("c_id"), col("cv"), col("cn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(_ / r.getDouble(2))))
      .toMap
    val rows = resid.join(prepped, "id")
      .select("id", "c_id", "r", "v", "nrm").collect()
    for (row <- rows.take(200)) {
      val c = cents(row.getLong(1))
      val r = row.getSeq[Double](2)
      val v = row.getSeq[Float](3)
      val nrm = row.getDouble(4)
      val err = c.zip(r).zip(v).map { case ((ci, ri), vi) =>
        math.abs(ci + ri - vi / nrm) }.max
      assert(err < 1e-12, s"residual identity broke: $err")
    }
  }

  test("blocked cosine near-dup finds planted duplicate vectors") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.999f, 0.001f), 0),  // planted near-dup, same block
      (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(1.0f, 0.0f), 1))      // identical direction, other block
      .toDF("vec_id", "embedding", "label")
    val prepped = Similarity.prep(vecs, "vec_id", "embedding")
      .join(vecs.select(col("vec_id").as("id"), col("label")), "id")
    val pairs = Similarity.cosineNearDups(prepped, col("label"), 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("semDedup keeps the minimal-id representative per near-dup chain, per cell") {
    // two well-separated directions; centroids pin cell 0 ≈ x-axis,
    // cell 1 ≈ y-axis
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.999f, 0.001f)),   // near-dup of 0, same cell → dropped
      (2L, Seq(0.95f, 0.05f)),     // near-dup of 0 AND 1 → dropped (min-id rule)
      (3L, Seq(0.0f, 1.0f)),       // alone in cell 1 → kept
      (4L, Seq(0.001f, 0.999f)))   // near-dup of 3, cell 1 → dropped
      .toDF("vec_id", "embedding")
    val prepped = Similarity.prep(vecs, "vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0), 1.0), (1L, Seq(0.0, 1.0), 1.0))
      .toDF("c_id", "cv", "cn")
    val out = Similarity.semDedup(prepped, cents, tau = 0.9)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> false, 3L -> true, 4L -> false))
  }

  test("brute knn broadcasts the query side (no shuffle of the corpus)") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prepped = Similarity.prep(embs, "vec_id", "embedding")
    val plan = Similarity.knnBrute(prepped.filter(col("id") === 0L), prepped, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }
}
