package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Proves the IVF+PQ deployment claim in [[Similarity.ivfPqCodes]]'s
  * scaladoc: a codes frame persisted `partitionBy("c_id")` turns cell
  * probing into parquet PARTITION PRUNING (only the probed cells'
  * directories are read), and searching over the persisted index
  * returns exactly the inline result.
  */
class CellIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val prepped = Similarity.prep(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
    "vec_id", "embedding")
  private lazy val coarse = Similarity.kmeansCentroids(prepped, k = 16)
  private lazy val subs =
    graft.queries.ScaleQueries.ivfPqSubspaces(prepped, coarse)
  private lazy val indexDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cellindex").toString
    Similarity.ivfPqCodes(prepped, coarse, subs)
      .write.mode("overwrite").partitionBy("c_id").parquet(dir)
    dir
  }

  test("probing the persisted codes index is parquet partition pruning") {
    val idx = spark.read.parquet(indexDir)
    val probedCells = Seq(1, 3, 5).map(_.toLong)
    val scan = idx.filter(col("c_id").isin(probedCells: _*))
    val plan = scan.queryExecution.executedPlan.toString
    // the cell predicate must land in PartitionFilters (directory-level
    // skip), NOT in the data filters (row-level read-then-drop)
    val pf = plan.linesIterator.mkString(" ")
    assert(pf.contains("PartitionFilters") &&
      pf.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']').contains("c_id"),
      plan.take(2000))
    // and the scan must actually touch only the probed directories
    // partition-column values are directory names — cast for the typed read
    val rows = scan.select(col("c_id").cast("long")).distinct().as[Long].collect().toSet
    assert(rows.subsetOf(probedCells.toSet))
  }

  test("search over the persisted index equals the inline search") {
    val sq = graft.queries.ScaleQueries
    val idx = spark.read.parquet(indexDir)
    val queries = prepped.filter(col("id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "cosine", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
    val viaIndex = rows(Similarity.knnIvfPqOnCodes(queries, prepped, idx,
      k = sq.PqK, rerank = sq.PqRerank, nProbe = sq.IvfPqNProbe,
      coarse = coarse, subspaces = subs))
    val inline = rows(Similarity.knnIvfPq(queries, prepped,
      k = sq.PqK, rerank = sq.PqRerank, nProbe = sq.IvfPqNProbe,
      coarse = coarse, subspaces = subs))
    assert(viaIndex == inline && viaIndex.nonEmpty)
  }
}
