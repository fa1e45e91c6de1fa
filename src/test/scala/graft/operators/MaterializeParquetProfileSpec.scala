package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{array, col, lit, struct}
import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, SparkEntry, TestSpark}

/** The cluster-scale Materialize deployment profile, executed end to
  * end: `spark.graft.materialize=parquet` stages every operator-internal
  * materialization through job-scoped parquet files instead of
  * localCheckpoint blocks — nothing pinned in the block manager, stages
  * splittable and restart-durable, column pruning restored downstream.
  * Eager localCheckpoint is the right LOCAL default (and what Bench
  * measures), but its blocks are non-replicated executor state: one lost
  * executor kills the job. This spec proves the parquet profile is
  * EXECUTABLE (not aspirational) on the heaviest materializing family —
  * the media near-dup pipeline, whose decode/signature frames are the
  * biggest checkpoints in the tree — and value-identical to the default.
  */
class MaterializeParquetProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def withStrategy[A](mode: String)(f: => A): A = {
    spark.conf.set(Materialize.Key, mode)
    try f finally spark.conf.unset(Materialize.Key)
  }

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().toSeq.map(_.toString).sorted

  for (q <- Seq("image_neardup", "audio_neardup", "image_neardup_groups",
    "audio_neardup_groups_recall"))
    test(s"$q runs green under materialize=parquet, identical to eager") {
      val eager = withStrategy("eager")(rows(q))
      val viaParquet = withStrategy("parquet")(rows(q))
      assert(viaParquet == eager,
        s"$q diverged between eager and parquet materialization")
      assert(eager.nonEmpty)
    }

  test("parquet mode reads its frame back with the written schema, no schema job") {
    // non-nullable, nested and string columns: the read-back schema must be
    // the one inference gives the written files, not the frame's own
    val df = spark.range(0, 40).select(col("id"), (col("id") % 3).cast("int").as("g"),
      array(col("id"), col("id") * 2).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("s"))
    val (back, jobs) = CostGuard.jobsOf(withStrategy("parquet")(Materialize(df)))
    val schemaJobs = jobs.filter(j => j.schema && j.site.startsWith("parquet at Materialize"))
    assert(schemaJobs.isEmpty, s"read-back ran schema jobs: $schemaJobs")
    assert(jobs.nonEmpty, "the frame was never written")
    val dir = new Path(back.inputFiles.head).getParent.toString
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq)
  }
}
