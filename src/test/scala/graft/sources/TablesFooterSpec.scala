package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, TestSpark}

/** [[Tables.read]] takes each table's schema from its parquet footer on
  * the driver: the schema is the one Spark's inference gives, and
  * building the frame runs no Spark job.
  */
class TablesFooterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private val corpus = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def inferred(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-footer").toString

  for (nanos <- Seq("true", "false"))
    test(s"every corpus table reads with its inferred schema (nanosAsLong=$nanos)") {
      val s = spark.newSession()
      s.conf.set(Tables.NanosFlag, nanos)
      for (t <- corpus) {
        val (got, want) = (Tables.read(s, sf, t).schema, inferred(s, sf, t).schema)
        assert(got == want, s"$t: footer $got vs inferred $want")
      }
    }

  /** The "as today" events derivation, over an inferred read. */
  private def eventsByInference(dir: String): DataFrame = {
    val raw = inferred(spark, dir, "events")
    val us = if (raw.schema("ts").dataType == LongType) expr("ts div 1000")
      else unix_micros(col("ts").cast("timestamp"))
    raw.withColumn("ts_us", us).withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** An events table whose clock is TIMESTAMP(NANOS), written with
    * parquet-hadoop (Spark cannot write that type): footer conversion must
    * apply the session's nanosAsLong, as inference does.
    */
  private lazy val nanosDir: String = {
    val dir = s"$tmp/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try for (i <- 0L until 5L)
      w.write(rows.newGroup().append("event_id", i).append("ts", 1700000000123456789L + i * 1001L))
    finally w.close()
    dir
  }

  test("events yields ts as a micro timestamp and ts_us as epoch micros, as before") {
    for (dir <- Seq(sf, nanosDir)) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, dir)
      assert(ev.schema("ts_us").dataType == LongType, dir)
      assert(sameRows(ev, eventsByInference(dir)), dir)
    }
    assert(Tables.read(spark, nanosDir, "events").schema("ts").dataType == LongType)
    assert(Tables.events(spark, nanosDir).select("ts_us").as[Long].collect().min ==
      1700000000123456L)
  }

  test("a NANOS clock fails without nanosAsLong, as inference does") {
    val s = spark.newSession()
    s.conf.set(Tables.NanosFlag, "false")
    val want = intercept[Exception](inferred(s, nanosDir, "events"))
    val got = intercept[Exception](Tables.read(s, nanosDir, "events"))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
  }

  test("a Spark-written directory table, and one overwritten with a new schema") {
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$tmp/dirt.parquet")
    val first = Tables.read(spark, tmp, "dirt")
    assert(first.schema == inferred(spark, tmp, "dirt").schema)
    assert(first.columns.toSeq == Seq("k", "v"))
    assert(sameRows(first, Seq((1L, "a"), (2L, "b")).toDF("k", "v")))

    Seq((3.5, 7, true)).toDF("x", "n", "flag")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/dirt.parquet")
    val second = Tables.read(spark, tmp, "dirt")
    assert(second.schema == inferred(spark, tmp, "dirt").schema)
    assert(second.columns.toSeq == Seq("x", "n", "flag"))
    assert(sameRows(second, Seq((3.5, 7, true)).toDF("x", "n", "flag")))
  }

  test("building a frame over a file or a directory table runs no Spark job") {
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$tmp/jobs.parquet")
    val (_, fileJobs) = CostGuard.jobsIn(Tables.read(spark, sf, "lineitem"))
    assert(fileJobs == 0, s"file table: $fileJobs jobs")
    val (_, dirJobs) = CostGuard.jobsIn(Tables.read(spark, tmp, "jobs"))
    assert(dirJobs == 0, s"directory table: $dirJobs jobs")
  }

  test("a missing table fails inside read, naming its path") {
    val e = intercept[java.io.FileNotFoundException](Tables.read(spark, tmp, "absent"))
    assert(e.getMessage.contains(s"$tmp/absent.parquet"), e.getMessage)
  }
}
