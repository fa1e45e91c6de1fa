package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, TestSpark}

/** The iterative operators' storage contract (guide §5): every greedy /
  * label-propagation round re-materializes a corpus-sized frame, and the
  * superseded round's checkpoint blocks must be UNPERSISTED — not left
  * pinned in the block manager for the session lifetime (at 100 TB that
  * is k corpus-sized RDDs per kCenter call). These tests run the real
  * operators and assert (a) nothing stays pinned after the call beyond
  * the returned frame, and (b) the in-flight peak stays O(1) frames,
  * not O(rounds).
  */
class CheckpointReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `body` while sampling the persisted-RDD count at every job
    * start; returns (result, peak extra persisted RDDs vs the start).
    * Listener delivery is async, so the peak is a close bound, not an
    * exact count — the assertions leave one frame of slack.
    */
  private def withPeak[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    @volatile var peak = 0
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val extra = (sc.getPersistentRDDs.keySet -- before).size
        if (extra > peak) peak = extra
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      Thread.sleep(200) // listener delivery is async; let the bus drain
      (out, peak)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` and returns its result with the RDDs it persisted that
    * are still persisted after it. Every RDD persisted during the call is
    * held strongly from the first job start that sees it: Spark's
    * `getPersistentRDDs` holds RDDs weakly, and `ContextCleaner`
    * unpersists a collected one, so a GC mid-test would otherwise hide a
    * leak. Exact: [[CostGuard.jobsOf]]'s marker job arrives only after
    * every job start of the call has reached this listener too.
    */
  private def leakedAfter[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]
    def hold(): Unit =
      (sc.getPersistentRDDs -- before).foreach { case (id, r) => held.put(id, r) }
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = hold()
    }
    sc.addSparkListener(l)
    val out = try CostGuard.jobsOf(body)._1 finally sc.removeSparkListener(l)
    hold()
    (out, held.asScala.collect {
      case (id, r) if r.getStorageLevel != StorageLevel.NONE => id
    }.toSet)
  }

  test("kCenter releases every superseded round's checkpoint (and the last)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ((centers, peak), leaked) = leakedAfter(withPeak {
      Coreset.kCenter(e, "vec_id", "embedding", k = 8, d = 64)
    })
    assert(centers.size == 8)
    // returns driver-sized state only: NOTHING may stay pinned
    assert(leaked.isEmpty,
      s"kCenter left ${leaked.size} checkpointed RDDs pinned: $leaked")
    // mid-loop: current round + not-yet-released previous, never O(k)
    assert(peak <= 3, s"kCenter pinned $peak frames concurrently (O(1) contract)")
  }

  test("connectedComponents' distributed loop releases edges and superseded labels") {
    // a 64-node chain forced onto the distributed loop (fast path off):
    // needs several two-hop rounds, each its own labels checkpoint
    val nodes = spark.range(0, 64).select($"id")
    val edges = spark.range(0, 63)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val ((labels, peak), leaked) = leakedAfter(withPeak {
      val out = DupClusters.connectedComponents(nodes, edges,
        smallGraphMaxEdges = 0)
      out.count() // consume while still pinned, like a real caller
      out
    })
    assert(labels.select(org.apache.spark.sql.functions.countDistinct("cluster_id"))
      .head().getLong(0) == 1L)
    // only the RETURNED final labels frame may remain pinned
    assert(leaked.size <= 1,
      s"connectedComponents left ${leaked.size} RDDs pinned: $leaked")
    // mid-loop: edges + previous labels + next labels = 3 (+1 slack for
    // async listener sampling), never O(rounds)
    assert(peak <= 4, s"loop pinned $peak frames concurrently (O(1) contract)")
  }

  test("edgesStable skips the loop's own edge checkpoint") {
    val nodes = spark.range(0, 16).select($"id")
    val edges = spark.range(0, 15)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
      .localCheckpoint(true)
    val (labels, leaked) = leakedAfter {
      val out = DupClusters.connectedComponents(nodes, edges,
        smallGraphMaxEdges = 0, edgesStable = true)
      out.count()
      out
    }
    assert(labels.select(org.apache.spark.sql.functions.countDistinct("cluster_id"))
      .head().getLong(0) == 1L)
    assert(leaked.size <= 1,
      s"edgesStable loop left ${leaked.size} RDDs pinned: $leaked")
    edges.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** A bulk co-purchase corpus of overlapping 4-part orders (a chain of
    * cliques) in a fresh directory: every k_core round keeps nodes, and
    * bfs_hops settles a new hop every round. */
  private lazy val graphDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-release").toString
    (0L until 24L).flatMap(o => (o until o + 4).map(p => (o, p)))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_quantity", org.apache.spark.sql.functions.lit(50.0))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("k_core releases every superseded round's active set") {
    val dir = graphDir // written before the pinned-RDD baseline
    val ((core, peak), leaked) = leakedAfter(withPeak {
      val out = graft.queries.CommunityQueries.kCore(spark, dir)
      out.count()
      out
    })
    assert(core.count() > 0)
    // the result reads the edges and the last active set
    assert(leaked.size <= 2, s"k_core left ${leaked.size} RDDs pinned: $leaked")
    // mid-loop: edges + previous + next active set (+1 slack), never O(rounds)
    assert(peak <= 4, s"k_core pinned $peak frames concurrently (O(1) contract)")
  }

  test("bfs_hops releases its edges and every superseded settled set") {
    val dir = graphDir // written before the pinned-RDD baseline
    val ((dist, peak), leaked) = leakedAfter(withPeak {
      val out = graft.queries.CommunityQueries.bfsHops(spark, dir)
      out.count()
      out
    })
    assert(dist.filter($"d" === 4L).count() > 0)
    // the result reads only the last settled set
    assert(leaked.size <= 1, s"bfs_hops left ${leaked.size} RDDs pinned: $leaked")
    assert(peak <= 4, s"bfs_hops pinned $peak frames concurrently (O(1) contract)")
  }
}
