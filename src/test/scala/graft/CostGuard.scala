package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
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

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started, also from threads it spawned (they inherit local
    * properties). Exact, not sampled: a marker job runs after the block,
    * and the listener bus delivers job starts in submission order, so
    * once the marker arrives every job of the block has been counted.
    */
  def jobsIn[A](body: => A): (A, Int) = {
    val sc = TestSpark.spark.sparkContext
    val token = UUID.randomUUID().toString
    val marker = s"$token-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty(Tag)).orNull match {
          case `token`  => jobs.incrementAndGet()
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
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
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
