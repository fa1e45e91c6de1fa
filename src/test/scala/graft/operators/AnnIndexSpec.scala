package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.ScaleQueries

/** The persisted-ANN-index lifecycle contract behind the registered
  * `ann_index_build` / `ann_index_search` / `knn_filtered` queries:
  *
  *  1. [[Similarity.probedCells]] agrees with an INDEPENDENTLY computed
  *     probe set (a driver-side cosine argsort over the collected query
  *     vectors and coarse bank — not the operator's own expressions);
  *  2. the search path's pruned scan (`ScaleQueries.prunedIndexCodes`)
  *     turns those cells into parquet PartitionFilters — directory-level
  *     skipping, not read-then-drop — and reads rows from no other cell;
  *  3. search over the persisted index equals the inline-trained search
  *     exactly (the oracle contract of `ann_index_search`);
  *  4. the filtered search returns only same-label neighbors, k per
  *     query, ranked identically to a filtered brute replay restricted
  *     to its candidate contract (recall floor-audited separately in
  *     `knn_filtered_recall`).
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val prepped = Similarity.prep(
    spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
  private lazy val queries = prepped.filter(col("id") % 50 === 0)

  // build once through the REGISTERED path (also exercises the
  // store's ensure-if-incomplete path annIndexParts relies on)
  private lazy val built: Long = ScaleQueries.annIndexBuild(spark, dir).count()
  private lazy val parts = { built; ScaleQueries.annIndexParts(spark, dir) }

  test("probedCells matches an independent driver-side probe computation") {
    val (coarse, _) = parts
    val nProbe = 12
    val got = Similarity.probedCells(queries, coarse, nProbe)
      .collect().map(_.getLong(0)).toSet
    // independent recomputation: plain Scala cosine over collected rows
    val bank = coarse.select(col("c_id"), col("cv"), col("cn"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val expected = queries.select(col("v").cast("array<double>"), col("nrm"))
      .collect().flatMap { r =>
        val v = r.getSeq[Double](0).toArray
        val nrm = r.getDouble(1)
        bank.map { case (cid, cv, cn) =>
          val dot = v.indices.foldLeft(0.0)((a, i) => a + v(i) * cv(i))
          (-dot / (nrm * cn), cid)
        }.sorted.take(nProbe).map(_._2)
      }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("the pruned index scan is parquet partition pruning over the probed cells") {
    val (coarse, _) = parts
    val probed = Similarity.probedCells(queries, coarse, 12)
      .collect().map(_.getLong(0)).toSet
    val pruned = ScaleQueries.prunedIndexCodes(spark, dir, queries, coarse)
    val plan = pruned.queryExecution.executedPlan.toString
    val flat = plan.linesIterator.mkString(" ")
    // the cell predicate must land in PartitionFilters (directory-level
    // skip), NOT in the data filters (row-level read-then-drop)
    assert(flat.contains("PartitionFilters") &&
      flat.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']').contains("c_id"),
      plan.take(2000))
    val scanned = pruned.select(col("c_id").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(scanned.subsetOf(probed) && scanned.nonEmpty)
  }

  test("search over the persisted index equals the inline-trained search") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "cosine", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
    built
    val viaIndex = rows(ScaleQueries.annIndexSearch(spark, dir))
    val inline = rows(ScaleQueries.knnIvfPq(spark, dir))
    assert(viaIndex == inline && viaIndex.nonEmpty)
  }

  test("filtered search returns k same-label neighbors per query") {
    built
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    val got = ScaleQueries.knnFiltered(spark, dir)
    val withLabels = got
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("nl")), "n_id")
    assert(withLabels.filter(col("ql") =!= col("nl")).count() == 0)
    val perQuery = got.groupBy("q_id").agg(count(lit(1)).as("n"))
      .select(min("n"), max("n")).as[(Long, Long)].head()
    assert(perQuery == ((5L, 5L)))
  }
}
