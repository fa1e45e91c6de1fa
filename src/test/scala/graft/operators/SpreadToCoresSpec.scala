package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Tables

/** [[Relational.spreadToCores]] takes scan-side frames only: a plan
  * with a shuffle is rejected before its partition count is probed
  * (under AQE the probe would run the upstream shuffle stages).
  */
class SpreadToCoresSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("a grouped frame is rejected") {
    val grouped = spark.range(0, 1000, 1, 4).groupBy((col("id") % 3).as("k")).count()
    val e = intercept[IllegalArgumentException](Relational.spreadToCores(grouped))
    assert(e.getMessage.contains("scan-side"))
  }

  test("a scan + filter + projection passes and keeps its rows") {
    val scan = Tables.read(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0).select(col("doc_id"), length(col("text")).as("n"))
    val out = Relational.spreadToCores(scan)
    assert(out.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(out.collect().toSet == scan.collect().toSet)
  }
}
