package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.Similarity
import graft.queries.ScaleQueries

/** Streaming index maintenance contract: a vector that ARRIVES ON THE
  * STREAM after the base index was built becomes searchable, and both
  * its code row and every search score are IDENTICAL to a cold rebuild
  * over the full corpus — because the codebooks are frozen model
  * parameters, coding is deterministic, and the delta segment is just
  * more rows of the same frame.
  *
  * The held-out vector is chosen FROM the cold search's own result
  * neighbors, so "searchable" is load-bearing: if the delta append were
  * lost, the final assertion would fail on a missing neighbor, not
  * vacuously pass.
  */
class StreamingIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streamed vector is searchable with scores identical to a cold rebuild") {
    val dir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = Similarity.prep(raw, "vec_id", "embedding")
    val queries = corpus.filter(col("id") % 50 === 0)
    // frozen model: trained ONCE on the full corpus (the add-after-train
    // contract — appends never retrain)
    val coarse = Similarity.kmeansCentroids(corpus, k = 16, iters = 1)
    val subs = ScaleQueries.ivfPqSubspaces(corpus, coarse)
    val fullCodes = Similarity.ivfPqCodes(corpus, coarse, subs)

    def search(codes: org.apache.spark.sql.DataFrame) =
      Similarity.knnIvfPqOnCodes(queries, corpus, codes,
          k = 5, rerank = 200, nProbe = 12, coarse = coarse, subspaces = subs)
        .select("q_id", "n_id", "cosine", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet

    val cold = search(fullCodes)
    // hold out a vector the cold search actually RETURNS as a neighbor
    val heldOut = cold.map(_._2).min

    val baseDir = Files.createTempDirectory("graft-ann").resolve("base").toString
    Similarity.ivfPqCodes(corpus.filter(col("id") =!= heldOut), coarse, subs)
      .write.partitionBy("c_id").parquet(baseDir)

    // the held-out raw row arrives on a file-source stream and is coded
    // by the stateless maintenance projection into the delta segment
    val streamIn = Files.createTempDirectory("graft-ann-in").resolve("in").toString
    raw.filter(col("vec_id") === heldOut).write.parquet(streamIn)
    val deltaDir = Files.createTempDirectory("graft-ann-delta").toString
    val arriving = spark.readStream.schema(raw.schema).parquet(streamIn)
    val q = ScaleQueries.annIndex.writer(
        StreamingIndexMaintenance.codeStream(arriving, coarse, subs),
        deltaDir, Files.createTempDirectory("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    // base ∪ delta is byte-identical to the cold recode...
    val base = spark.read.schema(fullCodes.schema).parquet(baseDir)
    val delta = ScaleQueries.annIndex.delta(spark, deltaDir, fullCodes)
    assert(delta.count() == 1)
    val combined = base.unionByName(delta)
    // compare by NAME-ordered projection: file sources surface partition
    // columns last regardless of the provided schema's order
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(fullCodes.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toSeq).toSet
    assert(rows(combined) == rows(fullCodes))
    // ...and searching it returns the cold scores, held-out included
    val streamed = search(combined)
    assert(streamed == cold)
    assert(streamed.exists(_._2 == heldOut))

    // --- compaction policy: fold the delta into the base in place ---
    // a standalone index root (the ann_index_build layout) so the fold
    // never touches the registered corpus-cache index
    val root = Files.createTempDirectory("graft-ann-root").toFile
    val codesDir = new java.io.File(root, "codes")
    ScaleQueries.annIndex.write(root, base)()
    val nDelta = ScaleQueries.annIndex.deltaFileCount(deltaDir)
    assert(nDelta >= 1)
    // below the threshold the policy is a no-op; forcing it compacts
    assert(!ScaleQueries.annIndex.maintainBase(spark, root, deltaDir,
      maxDeltaFiles = nDelta))
    assert(ScaleQueries.annIndex.maintainBase(spark, root, deltaDir,
      maxDeltaFiles = nDelta - 1))
    // the folded codes tree is row-identical to the cold full recode
    val folded = spark.read.parquet(codesDir.toString)
    assert(rows(folded) == rows(fullCodes))
    // one parquet file per c_id directory; delta consumed; marker back
    val perDir = codesDir.listFiles().toSeq.filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perDir.nonEmpty && perDir.forall(_ == 1), perDir)
    assert(!new java.io.File(deltaDir).exists())
    assert(ScaleQueries.annIndex.complete(root))
    // searching the folded tree still returns the cold scores
    assert(search(folded) == cold)
  }
}
