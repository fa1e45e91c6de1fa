package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Construction-cost and plan-shape guards for specs: how many Spark
  * jobs a block launches on [[TestSpark]], and what a frame's plans hold.
  */
object CostGuard extends AdaptiveSparkPlanHelper {
  private val Tag = "graft.costGuard"

  /** A job started inside [[jobsOf]]: its short call site and whether
    * it is a parquet schema-inference job, by the rule of
    * [[graft.Dev.isSchemaJob]].
    */
  final case class Job(site: String, schema: Boolean)

  /** Runs `body` and returns its result with the Spark jobs it started,
    * also from threads it spawned (they inherit local properties), in
    * start order. Exact, not sampled: a marker job runs after the block,
    * and the listener bus delivers job starts in submission order, so
    * once the marker arrives every job of the block has been seen.
    */
  def jobsOf[A](body: => A): (A, Seq[Job]) = {
    val sc = TestSpark.spark.sparkContext
    val token = UUID.randomUUID().toString
    val marker = s"$token-marker"
    val jobs = new ConcurrentLinkedQueue[Job]
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty(Tag)).orNull match {
          case `token`  => jobs.add(Job(Dev.callSite(s), Dev.isSchemaJob(s)))
          case `marker` => markerSeen.countDown()
          case _        =>
        }
    }
    val prev = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, token)
      val out = try body finally sc.setLocalProperty(Tag, marker)
      sc.parallelize(Seq(1), 1).count()
      if (!markerSeen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never delivered the marker job")
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** [[jobsOf]], counted. */
  def jobsIn[A](body: => A): (A, Int) = {
    val (out, jobs) = jobsOf(body)
    (out, jobs.size)
  }

  /** The RDD-backed leaves (`LogicalRDD`, `ExternalRDD`) of the analyzed plan. */
  def rddLeaves(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.analyzed.collect {
      case p: LogicalRDD     => p
      case p: ExternalRDD[_] => p
    }

  /** The shuffle exchanges of the physical plan, looking inside adaptive
    * plans and their query stages.
    */
  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
}
