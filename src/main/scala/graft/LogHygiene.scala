package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.{Configurator, LoggerConfig}
import org.apache.logging.log4j.core.filter.StringMatchFilter

/** Targeted log hygiene for the engine's entry points.
  *
  * Every unpartitioned window in the query surface runs over a frame
  * that is STRUCTURALLY bounded before the window (k-row limits,
  * grouped histograms whose key cardinality is capped by `round(·,6)`,
  * rank-limit pushdowns) — audited query-by-query, and enforced by
  * `GlobalWindowAuditSpec`, which fails the build if a NEW doc-scale
  * unpartitioned WindowExec ever appears. The per-plan
  * "No Partition Defined for Window operation" WARN is therefore pure
  * noise here: hundreds of lines per Verify/Bench run that drown the
  * output channels a real regression would surface in. Silence exactly
  * that logger (not the level, not the package): the spec is the guard,
  * the log is not.
  */
object LogHygiene {
  private val RddLogger = "org.apache.spark.rdd.MapPartitionsRDD"

  /** The iterative operators UNPERSIST each superseded round's
    * localCheckpoint (Coreset.kCenter, the DupClusters loop), and
    * Spark logs a WARN per unpersist reminding that a truncated-lineage
    * RDD cannot be recomputed. Here that is the point: the released
    * frames are provably dead (the release runs only after the next
    * round's checkpoint materializes), enforced by CheckpointReleaseSpec.
    * Only that message is denied; every other warning of the logger
    * still reaches the appenders.
    */
  private val UnpersistReminder: Filter = new StringMatchFilter.Builder()
    .setMatchString("was locally checkpointed, its lineage has been truncated")
    .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL)
    .build()

  def quietBoundedWindowWarn(): Unit = {
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val rdd = Some(config.getLoggerConfig(RddLogger)).filter(_.getName == RddLogger)
      .getOrElse {
        // level null: inherit the parent's level, as an unconfigured logger does
        val lc = new LoggerConfig(RddLogger, null, true)
        config.addLogger(RddLogger, lc)
        lc
      }
    rdd.removeFilter(UnpersistReminder) // idempotent across sessions
    rdd.addFilter(UnpersistReminder)
    ctx.updateLoggers()
  }
}
