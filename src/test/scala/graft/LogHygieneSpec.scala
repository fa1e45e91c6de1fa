package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

class LogHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("MapPartitionsRDD drops only the unpersist reminder; its other warnings still log") {
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val sc = spark.sparkContext // the session applies LogHygiene
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val seen = new ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("log-hygiene-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val lc = ctx.getConfiguration.getLoggerConfig(name)
    assert(lc.getName == name)
    lc.addAppender(probe, null, null)
    ctx.updateLoggers()
    try {
      // a real localCheckpoint + unpersist: Spark's own reminder text
      val rdd = sc.parallelize(1 to 4, 2).map(_ + 1).localCheckpoint()
      assert(rdd.getClass.getName == name)
      rdd.count()
      rdd.unpersist(blocking = true)
      org.slf4j.LoggerFactory.getLogger(name).warn("an unrelated MapPartitionsRDD warning")
    } finally {
      lc.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
    assert(seen.toArray.toSeq == Seq("an unrelated MapPartitionsRDD warning"))
  }
}
