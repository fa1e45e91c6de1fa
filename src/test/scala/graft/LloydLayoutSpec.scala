package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every k-means codebook is trained by one Lloyd round, written once
  * per engine: the Spark trainer (`Similarity.kmeans`) and its SQL
  * mirror (`ScaleQueries.lloydChainSql`). No other source under src/main
  * recomputes centroids by cell, and the mean CTE pair of the SQL chain
  * is spelled out once.
  */
class LloydLayoutSpec extends AnyFunSuite {
  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def occurrences(src: String, literal: String): Seq[Int] =
    Iterator.iterate(src.indexOf(literal))(i => src.indexOf(literal, i + 1))
      .takeWhile(_ >= 0).toSeq

  test("the centroid recompute (exact-decimal mean by c_id and element position) is only in the trainer") {
    // a DecimalType(28, 12) sum whose nearest preceding groupBy keys on
    // both the cell id and a posexploded element position
    val recomputes = for {
      (name, src) <- sources
      i <- occurrences(src, "DecimalType(28, 12)")
      g = src.lastIndexOf("groupBy(", i)
      if g >= 0 && i - g < 400
      keys = src.slice(g, g + 80)
      if keys.contains("c_id") && keys.contains("\"pos\"")
    } yield name
    assert(recomputes == Seq("Similarity.scala"))
  }

  test("the SQL Lloyd chain's mean CTE pair is written once") {
    val scale = sources.collect { case ("ScaleQueries.scala", src) => src }.head
    assert(occurrences(scale, "AS DECIMAL(28,12))) AS DOUBLE) / cast(count(*) AS DOUBLE) AS m").size == 1)
    assert(occurrences(scale, "list(m ORDER BY i) AS cv").size == 1)
  }
}
