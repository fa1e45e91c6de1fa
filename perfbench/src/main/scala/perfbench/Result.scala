package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** What produced a result. Runs whose stamps differ are not compared. */
object Stamp {
  def apply(spark: SparkSession, cores: Int, data: String, seed: Long, source: String): Seq[(String, String)] = {
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "sf" -> java.nio.file.Paths.get(data).getFileName.toString,
      "seed" -> seed.toString,
      "source" -> source,
      "xmx" -> xmx,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
  }
}

object Result {
  def json(workload: String, seed: Long, traced: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)], notes: Seq[(String, Double, String)],
           stamp: Seq[(String, String)], failures: Seq[String], runs: Seq[Main.OpRun]): String = {
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    val st = stamp.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
      s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${obj(metrics)},"notes":${obj(notes)},"stamp":$st,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""ops":${runs.map(op).mkString("[\n", ",\n", "]")}}""" + "\n"
  }

  /** One timed operation, for per-operation analysis of a run. */
  private def op(r: Main.OpRun): String =
    s"""{"id":${Json.str(r.id)},"traced":${r.traced},"construct_s":${r.construct / 1e9},""" +
      s""""plan_s":${r.plan / 1e9},"exec_s":${r.exec / 1e9},"ok":${r.failures.isEmpty}}"""
}

/** The recorded digest of every registered query, by name. */
object Expected {
  def load(p: Path): Map[String, String] = {
    val lines = if (Files.exists(p)) scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toSeq else Nil
    // One query per line: {"query": .., "digest": .., "module": .., "cost_s": .., "stable": ..}
    val Field = """"(query|digest)":\s*"([^"]*)"""".r
    lines.map(l => Field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2)).toMap)
      .collect { case r if r.contains("query") && r.contains("digest") => r("query") -> r("digest") }
      .toMap
  }
}
