package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DupClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** smallCap=0 forces the distributed min-label loop; the default cap
    * routes graphs this size through the driver union-find fast path.
    * Every behavioral test runs BOTH paths — they must agree exactly.
    */
  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 25,
                 smallCap: Long = 4_000_000L) =
    DupClusters.connectedComponents(
      nodes.toDF("id"), edges.toDF("src", "dst"), maxIter, smallCap)
      .as[(Long, Long)].collect().toMap

  private val paths = Seq("union-find" -> 4_000_000L, "distributed" -> 0L)

  test("chain merges into one component labeled by its minimum id") {
    for ((label, cap) <- paths) {
      val got = cc(Seq(1L, 2L, 3L, 4L), Seq((2L, 1L), (2L, 3L), (3L, 4L)), smallCap = cap)
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L), label)
    }
  }

  test("disconnected components stay separate; isolated nodes are singletons") {
    for ((label, cap) <- paths) {
      val got = cc(Seq(1L, 2L, 3L, 4L, 9L), Seq((1L, 2L), (3L, 4L)), smallCap = cap)
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 9L -> 9L), label)
    }
  }

  test("long path needs multiple propagation rounds and still converges") {
    val n = 12L
    for ((label, cap) <- paths) {
      val got = cc(0L to n, (0L until n).map(i => (i, i + 1)), smallCap = cap)
      assert(got.values.toSet == Set(0L), label)
    }
  }

  test("empty node set returns an empty labeling, not a crash") {
    for ((label, cap) <- paths)
      assert(cc(Seq.empty[Long], Seq.empty[(Long, Long)], smallCap = cap).isEmpty, label)
  }

  test("insufficient iteration budget fails fast instead of mislabeling") {
    val n = 12L
    intercept[IllegalStateException] {
      cc(0L to n, (0L until n).map(i => (i, i + 1)), maxIter = 2, smallCap = 0L)
    }
  }

  test("the small-graph gate counts distinct edges: a graph under the cap stays on the driver however often its edges repeat") {
    val nodes = (1L to 7L).toDF("id")
    val distinct = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L))
    // 12 edge rows, 4 distinct: the raw count is over a cap of 6
    val edges = Seq.fill(3)(distinct).flatten.toDF("src", "dst")
    val driver = DupClusters.connectedComponents(nodes, edges, smallGraphMaxEdges = 6L)
    val loop = DupClusters.connectedComponents(nodes, edges, smallGraphMaxEdges = 0L)
    // the driver path joins the nodes to a local map; the loop's labels
    // are checkpointed RDDs
    assert(graft.CostGuard.rddLeaves(driver).isEmpty)
    assert(graft.CostGuard.rddLeaves(loop).nonEmpty)
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 6L)
    assert(driver.as[(Long, Long)].collect().toMap == expected)
    assert(loop.as[(Long, Long)].collect().toMap == expected)
  }

  private implicit def rangeToSeq(r: scala.collection.immutable.NumericRange[Long]): Seq[Long] = r.toSeq
}
