package graft.sources

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** The persisted-artifact store's lifecycle on a small standalone
  * artifact: the session scan cache serves an unchanged artifact,
  * compaction version-bumps it, and an artifact missing its manifest
  * is rebuilt rather than read.
  */
class ArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val store = Artifact("graft-artifact-spec", "t", "data", Seq("p" -> 4))

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, i % 4)).toDF("id", "p")

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id")).as[Long].collect().toSet

  test("two reads of an unchanged artifact return the same resolved scan") {
    val root = Files.createTempDirectory("artifact-cache").toFile
    store.write(root, rows(8))()
    val first = store.scan(spark, root)
    assert(store.scan(spark, root) eq first)
    assert(ids(first) == (0L until 8L).toSet)
  }

  test("after compaction the next read is a fresh scan that sees the folded rows") {
    val root = Files.createTempDirectory("artifact-compact").toFile
    store.write(root, rows(8))()
    val before = store.scan(spark, root)
    assert(ids(before) == (0L until 8L).toSet)
    // a committed delta segment, written by the store's stream writer
    val in = Files.createTempDirectory("artifact-in").toString
    rows(4, from = 100).write.mode("overwrite").parquet(in)
    val deltaDir = Files.createTempDirectory("artifact-delta").toString
    val q = store.writer(spark.readStream.schema("id LONG, p INT").parquet(in),
      deltaDir, Files.createTempDirectory("artifact-ck").toString).start()
    try q.processAllAvailable() finally q.stop()
    assert(store.deltaFileCount(deltaDir) >= 1)
    store.compact(spark, root, deltaDir)
    val after = store.scan(spark, root)
    assert(after ne before)
    assert(ids(after) == (0L until 8L).toSet ++ (100L until 104L).toSet)
    assert(store.complete(root) && !new File(deltaDir).exists())
  }

  test("a root with a marker but no manifest is treated as absent and rebuilt") {
    val corpus = Files.createTempDirectory("artifact-corpus").toFile
    rows(4).write.parquet(new File(corpus, "t.parquet").toString)
    val root = store.home(corpus.toString)
    store.write(root, rows(4))()
    assert(store.complete(root))
    new File(root, Artifact.Manifest).delete()
    assert(new File(root, Artifact.Marker).exists() && !store.complete(root))
    var builds = 0
    val ensured = store.ensure(corpus.toString) { r => builds += 1; store.write(r, rows(6))() }
    assert(builds == 1 && ensured == root && store.complete(root))
    assert(ids(store.scan(spark, root)) == (0L until 6L).toSet)
    // complete now: no second build
    store.ensure(corpus.toString)(_ => builds += 1)
    assert(builds == 1)
  }
}
