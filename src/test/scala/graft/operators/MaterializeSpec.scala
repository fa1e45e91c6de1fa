package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The [[Materialize]] strategy contract: `none` keeps DataFrame
  * construction pure (no checkpoint jobs, no LogicalRDD scan in the
  * plan — what plan-only consumers need), while all strategies agree on
  * results.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "entirely different words live in this third document body here"),
    (4L, "the quick brown fox jumps over the lazy cat again and again")
  ).toDF("doc_id", "text")

  private def withStrategy[A](mode: String)(f: => A): A = {
    spark.conf.set(Materialize.Key, mode)
    try f finally spark.conf.unset(Materialize.Key)
  }

  private def hasCheckpointScan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case _: LogicalRDD => () }.nonEmpty

  test("none keeps the plan checkpoint-free; default materializes") {
    val pure = withStrategy("none") {
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
    }
    assert(!hasCheckpointScan(pure),
      "materialize=none must not inject LogicalRDD checkpoint scans")
    // default (conf unset) stays eager — the self-join reads cached blocks
    val eager = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
    assert(hasCheckpointScan(eager))
  }

  test("all strategies produce identical near-dup pairs") {
    def run() = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val eager = withStrategy("eager")(run())
    val none = withStrategy("none")(run())
    val pq = withStrategy("parquet")(run())
    assert(eager == none && none == pq)
    assert(eager.contains((1L, 2L)))
  }

  test("parquet strategy reads stages back from files, pinning nothing") {
    val staged = withStrategy("parquet")(Materialize(docs))
    // the frame is now a parquet scan (splittable, restart-durable,
    // column-prunable), not a block-manager-pinned LogicalRDD
    assert(!hasCheckpointScan(staged))
    assert(staged.queryExecution.executedPlan.toString.contains("FileScan"),
      "parquet materialization must re-enter through a file scan")
    assert(staged.as[(Long, String)].collect().toSet ==
      docs.as[(Long, String)].collect().toSet)
  }

  test("an unrecognised strategy is rejected, naming the conf key") {
    for (mode <- Seq("lazy", "eagre")) {
      val e = intercept[IllegalArgumentException](withStrategy(mode)(Materialize(docs)))
      assert(e.getMessage.contains(Materialize.Key) && e.getMessage.contains(mode))
    }
  }

  test("simhash respects the strategy too") {
    val pure = withStrategy("none") {
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
    }
    assert(!hasCheckpointScan(pure))
  }
}
