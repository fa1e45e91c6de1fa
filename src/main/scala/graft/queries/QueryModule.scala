package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One unit of the query registry: the module's named queries and, for
  * each oracle-checked one, its DuckDB SQL. [[graft.SparkEntry]]
  * concatenates the modules.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
