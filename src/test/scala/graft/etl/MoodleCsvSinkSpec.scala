package graft.etl

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class MoodleCsvSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writes one UTF-8 CSV file with header and contract column order") {
    val df = MoodleNormalize(
      Seq(("1-1", "José", "Pérez", "a@x.cl"), ("2-2", "Ana", "Muñoz", "b@x.cl"))
        .toDF("rut", "nombres", "apellidos", "email"))
    val out = Files.createTempDirectory("sink").resolve("moodle.csv").toString
    MoodleCsvSink.write(df.orderBy("profile_field_rut"), out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) ==
      "username,password,firstname,lastname,email,profile_field_rut,type1,course1")
    assert(lines.size() == 3)
    assert(lines.get(1).startsWith("joseperez,joseperez2025,José,Pérez,a@x.cl,1-1"))
  }

  private def listing(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.toString).toSeq finally s.close()
  }

  /** Directories under `dir` holding Spark's `_SUCCESS` marker: finished
    * write jobs' output directories, whatever they are named.
    */
  private def sparkOutputs(dir: java.nio.file.Path): Set[String] =
    listing(dir).filter(p => Files.exists(Paths.get(p, "_SUCCESS"))).toSet

  test("leaves only the target file behind, also when the write fails") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val outputsBefore = sparkOutputs(tmpRoot)
    val dir = Files.createTempDirectory("sink")
    val out = dir.resolve("moodle.csv")
    MoodleCsvSink.write(Seq(("a", 1)).toDF("k", "v"), out.toString)
    MoodleCsvSink.write(Seq(("b", 2)).toDF("k", "v"), out.toString) // overwrite in place
    assert(listing(dir) == Seq(out.toString))
    assert(sparkOutputs(tmpRoot) -- outputsBefore == Set.empty)
    assert(Files.readAllLines(out).toArray.toSeq == Seq("k,v", "b,2"))

    val failing = spark.range(1).select(
      org.apache.spark.sql.functions.raise_error(org.apache.spark.sql.functions.lit("boom")))
    intercept[Exception](MoodleCsvSink.write(failing, dir.resolve("other.csv").toString))
    assert(listing(dir) == Seq(out.toString))
  }
}
