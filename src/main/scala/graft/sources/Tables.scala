package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed readers for the test corpus. The one normalization that matters:
  * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
  * as a timestamp ([PARQUET_TYPE_ILLEGAL]). We read nanos as raw longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and derive both a
  * microsecond-precision `ts` (matching DuckDB's ns→us cast truncation)
  * and an exact `ts_us` long, in ONE place so every query sees the same
  * clock.
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

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
