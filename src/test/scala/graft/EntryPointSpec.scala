package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are the three mains README "Running"
  * documents; developer probes are `graft.Dev` subcommands, not mains
  * of their own.
  */
class EntryPointSpec extends AnyFunSuite {
  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("the objects under src/main that define main are exactly Bench, Verify and Dev") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = for {
      (path, src) <- sources
      at <- """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map(_.start).toList
    } yield objectDecl.findAllMatchIn(src.take(at)).map(_.group(1)).toList.lastOption
      .getOrElse(fail(s"$path: main outside an object"))
    assert(mains.sorted == Seq("Bench", "Dev", "Verify"))
    val apps = sources.filter { case (_, src) => """\bextends\s+App\b""".r.findFirstIn(src).nonEmpty }
    assert(apps.isEmpty, apps.map(_._1))
  }
}
