package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{QueryModule, EtlQueries, AnalyticsQueries, TextQueries, ScaleQueries, MiscQueries, AdvancedQueries, RelationalQueries, ExtendedQueries, PipelineQueries, WarehouseQueries, TpchQueries, CorpusQueries, InsightQueries, RetrievalQueries, FrontierQueries, CommunityQueries, SignalQueries, ExperimentQueries, SketchQueries, TrainQueries, QualityQueries, CleanQueries}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EtlQueries.moodleNormalize(spark, "/root/testdata/sf0.001")
  /** The registry: every query module, each registering its own names. */
  val modules: Seq[QueryModule] = Seq(EtlQueries, AnalyticsQueries, TextQueries,
    ScaleQueries, MiscQueries, AdvancedQueries, RelationalQueries, ExtendedQueries,
    PipelineQueries, WarehouseQueries, TpchQueries, CorpusQueries, InsightQueries,
    RetrievalQueries, FrontierQueries, CommunityQueries, SignalQueries,
    ExperimentQueries, SketchQueries, TrainQueries, QualityQueries, CleanQueries)
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap
}
