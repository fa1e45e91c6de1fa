package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The co-purchase graph the nine graph queries run on is defined once
  * per engine, by `graft.operators.Graph`: the Spark per-order pair
  * expansion, the oracles' order self-join, and the degree-ordered
  * orientation of the triangle enumeration are each written once under
  * src/main.
  */
class GraphLayoutSpec extends AnyFunSuite {
  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** (file, count) for every source that contains the pattern. */
  private def where(pattern: String): Seq[(String, Int)] =
    sources.map { case (name, src) => name -> pattern.r.findAllIn(src).size }
      .filter(_._2 > 0).sorted

  test("the per-order pair expansion is only in the graph operator") {
    assert(where("""collect_set\(col\("l_partkey"\)\)\.as\("ps"\)""") == Seq("Graph.scala" -> 1))
  }

  test("the oracles' order self-join is written once") {
    assert(where("""a\.l_orderkey = b\.l_orderkey""") == Seq("Graph.scala" -> 1))
  }

  test("the degree-ordered orientation predicate is written once per engine") {
    assert(where("""col\("da"\) < col\("db"\)""") == Seq("Graph.scala" -> 1))
    assert(where("""da\.d\w* < db\.d""") == Seq("Graph.scala" -> 1))
  }

  test("the hub-salting join is only in Relational.saltedDimJoin") {
    // the fact side's hash(key) % salts lane
    assert(where("""pmod\(hash\(""") == Seq("Relational.scala" -> 1))
    assert(where("""crossJoin\(salt""").isEmpty)
  }
}
