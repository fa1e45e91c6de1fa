package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed readers for the test corpus. The one normalization that matters:
  * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
  * as a timestamp ([PARQUET_TYPE_ILLEGAL]). We read nanos as raw longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and derive both a
  * microsecond-precision `ts` (matching DuckDB's ns→us cast truncation)
  * and an exact `ts_us` long, in ONE place so every query sees the same
  * clock.
  *
  * Every table is read with its schema given, so building a frame runs no
  * Spark job: without one, `spark.read.parquet` launches a schema-
  * inference job per read, a fixed cost that dominates cheap queries.
  * The schema comes from the table's footer, read on the driver with the
  * code that job runs per file, so it is the schema inference would give.
  * There is no schema memo: the footer read is one small driver-side file
  * read, and a memo could serve a stale schema for a table rewritten in
  * place.
  */
object Tables {

  /** Engine-wide convention: parquet TIMESTAMP(NANOS) columns surface as
    * raw epoch-nanos longs. [[graft.Session]] (and the test session) set
    * this at construction; for externally-built sessions this applies
    * it once, only if genuinely unset — never
    * flipping a caller's explicit choice mid-session.
    *
    * "Unset" probe: `RuntimeConfig.get(key, fallback)` consults only the
    * EXPLICITLY-set map before falling back (registered defaults don't
    * count) — but the fallback is type-validated for registered confs,
    * so a string sentinel would throw. Probing with BOTH boolean
    * fallbacks stays inside the type: an explicitly-set value answers
    * identically either way; only a genuinely-unset conf echoes back the
    * two different fallbacks.
    */
  def ensureNanosAsLong(spark: SparkSession): Unit =
    if (spark.conf.get(NanosFlag, "true") != spark.conf.get(NanosFlag, "false"))
      spark.conf.set(NanosFlag, "true")

  val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema Spark's inference job would give `path`: Spark-written
    * files keep their embedded Spark schema, others are converted under
    * the session's `nanosAsLong`, `binaryAsString` and `int96AsTimestamp`.
    * A directory table (as Spark writes one) takes the schema of its first
    * data file by path, skipping `_`- and `.`-prefixed names as Spark's
    * listing does.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    def isData(f: FileStatus) = f.isFile && !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith(".")
    val file = if (st.isFile) st else fs.listStatus(p).filter(isData)
      .sortBy(_.getPath.toString).headOption
      .getOrElse(throw new FileNotFoundException(s"no parquet data file in $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Events with `ts` normalized to microsecond TimestampType and `ts_us`
    * as epoch-micros long, whatever the file's physical clock type:
    * TIMESTAMP(NANOS) surfaces as an epoch-nanos long (see
    * [[ensureNanosAsLong]]) and floor-divides to micros (matching
    * DuckDB's ns→us cast truncation for positive epochs); TIMESTAMP
    * (MICROS/MILLIS) — with or without timezone — converts directly
    * (the session timezone is pinned UTC, so the NTZ cast is identity).
    * One adaptive reader so every query sees the same clock and a
    * regenerated corpus can't skew half the surface.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosAsLong(spark)
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div`, not `/`: epoch-nanos (~1.7e18) overflow double's 2^53
        // exact integer range; float division would corrupt the micros.
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ =>
        raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts", timestamp_micros(col("ts_us")))
    }
  }
}
