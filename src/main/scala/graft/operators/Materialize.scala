package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Artifact

/** Session-scoped strategy for the "materialize ONCE, referenced twice"
  * intermediate frames inside operators (LSH banded buckets, exploded
  * gram sets, winnow fingerprints): without materialization a self-join
  * recomputes the full upstream plan per reference, but unconditional
  * eager checkpointing makes DataFrame *construction* run Spark jobs —
  * wrong for plan-only consumers (explain / `Dev audit`) — and pins blocks
  * in the block manager for the session lifetime.
  *
  * Resolved per call from the session conf [[Materialize.Key]]:
  *  - `eager` (default): `localCheckpoint(true)` — jobs run at
  *    construction, lineage truncates, the self-join reads cached blocks.
  *    The right mode for execution paths (Verify / Bench / production).
  *  - `none`: identity — pure plan, nothing pinned, downstream filters
  *    can push through. Self-joined subtrees WILL recompute if the frame
  *    is ever executed; meant for plan inspection and tests.
  *  - `parquet`: write the frame under a job-scoped temp directory and
  *    read it back — the cluster-scale strategy: nothing pinned in the
  *    block manager, every consumer (including a RESTARTED job) reads a
  *    splittable columnar file, and the rewritten scan restores column
  *    pruning for downstream stage consumers. This is how a 100 TB
  *    multi-stage pipeline (e.g. `hygiene_funnel`) persists stage
  *    boundaries; each frame is a subdirectory of one per-JVM temp
  *    root, deleted on JVM exit.
  *
  * Any other value throws `IllegalArgumentException`: a mistyped mode
  * must not silently run `eager`.
  *
  * Iterative algorithms ([[DupClusters.connectedComponents]]) are exempt:
  * their per-round checkpoint is algorithmically required (the loop reads
  * its own output and the plan would grow O(rounds) deep), so they always
  * checkpoint regardless of this conf.
  */
object Materialize {
  /** Session conf key; values `eager` (default) | `none` | `parquet`. */
  val Key = "spark.graft.materialize"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(Key, "eager") match {
      case "eager"   => df.localCheckpoint(true)
      case "none"    => df
      case "parquet" => viaParquet(df)
      case other     => throw new IllegalArgumentException(
        s"$Key must be eager, none or parquet, got '$other'")
    }

  /** Release handle for a frame returned by [[apply]] (or a bare
    * `localCheckpoint`): a thunk that unpersists the checkpoint's
    * pinned blocks. Iterative operators ([[Coreset.kCenter]],
    * [[DupClusters.connectedComponents]]) re-materialize a corpus-sized
    * frame every round; without an explicit release every superseded
    * round's blocks stay pinned in the block manager for the session
    * lifetime — k corpus-sized RDDs per call at 100 TB (guide §5:
    * unpersist when done). Callers must invoke the thunk only once the
    * frame is DEAD (a localCheckpointed frame has no lineage left to
    * recompute from). No-op for plans that pin nothing (`none`,
    * `parquet`, or any non-checkpoint frame).
    */
  def releaseHandle(df: DataFrame): () => Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        () => { lr.rdd.unpersist(blocking = false); () }
      case _ => () => ()
    }

  /** Evaluate two INDEPENDENT frame-building thunks concurrently and
    * return both results — guide §2.6 (overlap independent jobs): an
    * audit query whose truth side and found side are separate blocking
    * materialization chains otherwise runs them back to back, leaving
    * the cluster idle through each chain's scheduling tail. The second
    * thunk runs on a fresh driver thread (created HERE, so Spark's
    * inheritable thread-locals — active session, job group/description —
    * carry over from the caller); the first runs on the caller's
    * thread. Results are unchanged: each chain computes exactly the
    * frames it computed serially, and Spark's scheduler interleaves
    * their jobs' tasks. `par2` always joins the background thread
    * before it returns or throws, so no chain outlives the call. The
    * background thread's jobs carry a job tag of their own (tags add to,
    * never replace, the inherited job group and local properties): when
    * the caller's thunk throws, those jobs are cancelled with task
    * interruption before the join, and the caller's error propagates
    * with the background failure (usually the cancellation) attached
    * via `addSuppressed`; when only the background thunk throws, its
    * error propagates.
    *
    * Use ONLY for thunks with no data dependency on each other; a
    * dependent pair would still be correct (lazy frames) but would
    * silently serialize and pay the thread for nothing.
    */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par2-${java.util.UUID.randomUUID}"
    val boxB = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, B]]
    val t = new Thread(() => boxB.set(
      try {
        sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
        Right(b)
      } catch { case e: Throwable => Left(e) }),
      "graft-materialize-par2")
    t.setDaemon(true)
    t.start()
    val ra =
      try a
      catch {
        case e: Throwable =>
          // the background result is no longer wanted: cancel its jobs
          // (again while it runs, in case it is between jobs) and join
          while (t.isAlive) {
            sc.filterNot(_.isStopped).foreach(_.cancelJobsWithTag(tag))
            t.join(100)
          }
          boxB.get().left.foreach(e.addSuppressed)
          throw e
      }
    t.join()
    boxB.get() match {
      case Right(rb) => (ra, rb)
      case Left(e)   => throw e
    }
  }

  /** One per-JVM parent for every parquet-mode frame, created on first
    * use and removed by a single shutdown hook.
    */
  private lazy val parquetRoot: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat")
    Runtime.getRuntime.addShutdownHook(new Thread(() => Artifact.rmTree(dir.toFile)))
    dir
  }
  private val frames = new java.util.concurrent.atomic.AtomicLong

  private def viaParquet(df: DataFrame): DataFrame = {
    val path = parquetRoot.resolve(s"frame-${frames.incrementAndGet()}").toString
    df.write.parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
