package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** Every join hint in the TPC-H batch is one Spark honours: planning a
  * query logs no `HintErrorLogger` warning (a hint Spark cannot apply,
  * such as a broadcast of a semi-join's preserved side, is dropped with
  * only that warning).
  */
class TpchHintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Hint warnings logged while `plans` runs. */
  private def hintErrors(plans: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger").asInstanceOf[Logger]
    logger.addAppender(appender)
    try plans finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  private def plan(df: DataFrame): Unit = df.queryExecution.executedPlan

  test("the capture sees a broadcast hint on a semi-join's preserved side") {
    val l = spark.range(10).toDF("a")
    val r = spark.range(5).toDF("b")
    val errs = hintErrors(plan(broadcast(l).join(r, col("a") === col("b"), "left_semi")))
    assert(errs.exists(_.contains("build left for left semi join")), errs)
  }

  test("no TPC-H query logs a hint error when planned") {
    for (name <- TpchQueries.queries.keys.toSeq.sorted) {
      val errs = hintErrors(plan(SparkEntry.queries(name)(spark, dir)))
      assert(errs.isEmpty, s"$name: $errs")
    }
  }
}
