package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{CostGuard, TestSpark}
import graft.queries.ScaleQueries

/** What training a k-means codebook costs: the lowest-id init collect
  * plus ONE aggregation for the Lloyd round's update (its shuffle-map
  * job and its result job). A round that assigns, averages and then
  * regroups the means into cell arrays in Spark runs one job more per
  * bank.
  */
class LloydCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val prepped = Similarity.prep(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), "vec_id", "embedding")

  private def bank(df: DataFrame): Seq[(Long, Seq[Double], Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  test("training the 16-cell coarse bank runs at most 3 jobs") {
    prepped.schema // the frame is built outside the counted block
    val (_, jobs) = CostGuard.jobsIn(
      Similarity.kmeansCentroids(prepped, k = ScaleQueries.CoarseCells))
    assert(jobs <= 3, s"coarse bank took $jobs jobs")
  }

  test("training the 8-subspace PQ bank runs at most 3 jobs") {
    prepped.schema
    val (subs, jobs) = CostGuard.jobsIn(ScaleQueries.pqSubspaces(prepped))
    assert(subs.size == 8)
    assert(jobs <= 3, s"PQ banks took $jobs jobs")
  }

  test("the round's update is one aggregation: exactly one shuffle, cosine and L2") {
    val coarse = bank(Similarity.kmeansCentroids(prepped, k = ScaleQueries.CoarseCells))
    val cos = Similarity.lloydUpdate(prepped, Seq(col("v")), Seq(coarse),
      Similarity.Objective.Cosine)
    assert(CostGuard.shuffles(cos).size == 1)
    val subs = ScaleQueries.pqSubspaces(prepped)
    val slices = subs.map { case (lo, len, _) =>
      Similarity.unitSlice(col("v"), col("nrm"), lo, len) }
    val l2 = Similarity.lloydUpdate(prepped, slices, subs.map(s => bank(s._3)),
      Similarity.Objective.L2)
    assert(CostGuard.shuffles(l2).size == 1)
    // executing it changes nothing: AQE keeps the one exchange
    l2.collect()
    assert(CostGuard.shuffles(l2).size == 1)
  }
}
