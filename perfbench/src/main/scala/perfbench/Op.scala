package perfbench

import org.apache.spark.sql.DataFrame

/** One timed operation. `build` is the construction call, `act` the
  * full-result action; `check` runs untimed afterwards and returns the
  * reasons the output is wrong, if any. Every operation is checked in the
  * cold pass of set-up; timed passes count exceptions only.
  *
  * @param span   layer span the operation is recorded under
  * @param module queries module, or "" for a chain step
  */
trait Op {
  def name: String
  def span: String
  def module: String
  def build(): DataFrame
  def act(df: DataFrame): Unit = Spark.runFull(df)
  def check(df: DataFrame): Seq[String]
}
