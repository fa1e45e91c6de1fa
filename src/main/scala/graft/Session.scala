package graft

import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** The engine's one local session factory, shared by the three entry
  * points (Bench, Verify, Dev) so each plans and reads the corpus under
  * the same conf: `cpus` task threads and as many shuffle
  * partitions, UTC session clock, parquet TIMESTAMP(NANOS) read as longs,
  * UI off.
  *
  * `spark.sql.extensions=graft.GraftExtensions` is deliberately NOT set:
  * its optimizer rule would rewrite the plan of every deaccent query.
  *
  * NOT set either: mapreduce.fileoutputcommitter.algorithm.version=2 —
  * measured ~1.8x SLOWER on the persisted-artifact writers here
  * (dedup_ledger_build 5.0 -> 9.0 s, ann_index_build 2.5 -> 3.5 s at
  * sf0.1): on this local fs the v1 job-commit rename pass is cheap and
  * v2's per-task direct commits serialize against the many tiny
  * partition directories. Revisit only with an object store profile.
  */
object Session {

  /** Task threads: `SPARK_GRAFT_CPUS` when set, else the host's cores. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared conf as a plain value; `extra` adds to or overrides it
    * (plan-only tools pass `Materialize.Key -> "none"`).
    */
  def conf(cpus: Int, extra: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      Tables.NanosFlag -> "true",
      "spark.ui.enabled" -> "false") ++ extra

  def local(cpus: Int = Session.cpus(), extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf(cpus, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogHygiene.quietBoundedWindowWarn()
    spark
  }
}
