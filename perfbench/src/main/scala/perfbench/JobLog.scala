package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark listener that attributes every job and stage to the benchmark
  * operation and phase that launched it. The benchmark tags work with two
  * local properties before each call; Spark copies them onto every job,
  * including jobs submitted from threads the program starts inside the call.
  */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs   = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  @volatile private var started = 0L
  @volatile private var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val op = prop(OpKey)
    val phase = prop(PhaseKey)
    val site = prop("callSite.short") match {
      case "" => e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      case s  => s
    }
    // Schema/listing jobs of a parquet read run outside any SQL execution;
    // a parquet write carries an execution id.
    val schema = site.startsWith("parquet at") && prop("spark.sql.execution.id").isEmpty
    e.stageIds.foreach(id => stageOwner.put(id, (op, phase)))
    jobs.put(e.jobId, Job(e.jobId, op, phase, site, schema, e.time, -1L))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    ended += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (op, phase) = Option(stageOwner.get(si.stageId)).getOrElse(("", ""))
    val m = si.taskMetrics
    val st = if (m == null) Stage(si.stageId, op, phase, si.numTasks, 0, 0, 0, 0, 0, 0, 0)
      else Stage(si.stageId, op, phase, si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.put(si.stageId, st)
  }

  /** Blocks until every started job has ended and the bus has been quiet
    * for a moment, so the snapshot below is complete.
    */
  def drain(): Unit = {
    var quiet = 0
    var last = -1L
    val deadline = System.nanoTime() + 10000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = started + ended + stages.size
      if (started == ended && now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def allStages: Seq[Stage] = stages.values.asScala.toSeq.sortBy(_.id)
}

object JobLog {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, op: String, phase: String, site: String,
                       schema: Boolean, start: Long, end: Long)
  final case class Stage(id: Int, op: String, phase: String, tasks: Int,
                         runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)

  def tag(sc: SparkContext, op: String, phase: String): Unit = {
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
  }
}
