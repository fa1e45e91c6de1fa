package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame

/** S4 — the Moodle-import CSV sink (`moodle.to_csv(path, index=False,
  * encoding="utf-8")`, `app.py:273`): ONE file, UTF-8, header row,
  * contractual column order, source row order preserved.
  *
  * Moodle ingests a single file, so the single-partition write is the
  * contract, not a scale bug — rosters are human-sized. The engine-scale
  * path is the plain partitioned `df.write` everywhere else.
  */
object MoodleCsvSink {

  /** Write and return the path of the single CSV file produced. Spark
    * writes into a temporary sibling of the target, so the final move is
    * a same-filesystem rename; the sibling is removed, also on failure.
    */
  def write(df: DataFrame, outPath: String): Path = {
    val target = Paths.get(outPath).toAbsolutePath
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempDirectory(target.getParent, s".${target.getFileName}.")
    try {
      df.coalesce(1)
        .write.option("header", "true").option("encoding", "UTF-8")
        .mode("overwrite").csv(tmp.toString)
      val listing = Files.list(tmp)
      val part = try {
        listing.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".csv")) match {
          case Array(one) => one
          case other => throw new IllegalStateException(
            s"expected exactly one part file, got ${other.length}")
        }
      } finally listing.close()
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      target
    } finally deleteTree(tmp)
  }

  private def deleteTree(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
