package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session and result helpers shared by every workload. */
object Spark {

  /** One local session: `cores` task threads, shuffle width = cores, UTC,
    * nanosecond parquet timestamps read as longs (the engine's convention),
    * and every scratch directory inside `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The full-result action every timed operation ends with: every row and
    * column is produced, nothing is kept. `count()` would let the optimizer
    * prune projections, aggregates and windows.
    */
  def runFull(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Host-speed probe: seconds for a fixed Spark aggregation over generated
    * rows, touching no repository code. The end-to-end metrics are scaled
    * by it (see [[Metrics.endToEnd]]).
    */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    runFull(spark.range(0L, 2000000L, 1L, spark.sparkContext.defaultParallelism)
      .select((col("id") % 997).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(sum(col("h") % 1000), count(lit(1))))
    (System.nanoTime() - t0) / 1e9
  }

  /** Content digest "rows:h1:h2" of a frame, independent of row order.
    * Doubles are compared at float precision so that summation order,
    * which varies with task scheduling, cannot change the digest.
    */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val row = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val alt = if (cols.isEmpty) lit(0) else hash(cols: _*)
    val r = named.agg(
      count(lit(1)),
      coalesce(sum(pmod(row, lit(2147483647L))), lit(0L)),
      coalesce(sum(pmod(alt.cast("long"), lit(2147483647L))), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  private def canonical(c: Column, t: DataType): Column = {
    val target = floatsFor(t)
    val cast = if (target == t) c else c.cast(target)
    if (hasMap(t)) to_json(cast) else cast
  }

  private def floatsFor(t: DataType): DataType = t match {
    case DoubleType        => FloatType
    case ArrayType(e, n)   => ArrayType(floatsFor(e), n)
    case MapType(k, v, n)  => MapType(floatsFor(k), floatsFor(v), n)
    case StructType(fs)    => StructType(fs.map(f => f.copy(dataType = floatsFor(f.dataType))))
    case other             => other
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType        => true
    case ArrayType(e, _)   => hasMap(e)
    case StructType(fs)    => fs.exists(f => hasMap(f.dataType))
    case _                 => false
  }
}
