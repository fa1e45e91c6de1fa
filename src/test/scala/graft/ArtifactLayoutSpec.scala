package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted artifacts share one lifecycle, owned by
  * `graft.sources.Artifact`: no other source under src/main names the
  * completion marker or the manifest, or keeps a concurrent map of its
  * own (the store's session scan cache; `Dev`'s profile listener is the
  * one other concurrent map).
  */
class ArtifactLayoutSpec extends AnyFunSuite {
  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def filesNaming(literal: String): Seq[String] =
    sources.collect { case (name, src) if src.contains(literal) => name }.sorted

  test("only Artifact.scala names the completion marker and the manifest") {
    assert(filesNaming(graft.sources.Artifact.Marker) == Seq("Artifact.scala"))
    assert(filesNaming("\"manifest.txt\"") == Seq("Artifact.scala"))
  }

  test("ConcurrentHashMap appears only in Artifact.scala and Dev.scala") {
    assert(filesNaming("ConcurrentHashMap") == Seq("Artifact.scala", "Dev.scala"))
  }
}
