package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.ScaleQueries

/** The ledger append lifecycle: keys appended from a stream must be
  * row-identical to a cold batch recode of the same arrivals (frozen
  * deterministic keys — the compaction-by-concatenation argument), and
  * an appended document must be FINDABLE by a subsequent probe through
  * base ∪ delta, which is the whole point: today's admitted arrivals
  * are tomorrow's history without re-signaturing the corpus.
  */
class StreamingLedgerMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("appended arrivals equal a cold recode and are probe-able as history") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val (base, histGrams) = ScaleQueries.ledgerStaticSides(spark, dir)

    // one arrival copying a history doc's text, one brand-new doc
    val histText = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 3 && length(col("text")) > 80)
      .orderBy("doc_id").select("text").head().getString(0)
    val arrivals = Seq((900001L, histText),
      (900002L, "a genuinely novel arrival about zebra calibration routines"))

    val in = Files.createTempDirectory("sledgapp")
    val deltaDir = Files.createTempDirectory("sledgdelta").toString
    val raw = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(in.toString)
    val q = ScaleQueries.ledger.writer(
        StreamingLedgerMaintenance.keyStream(raw), deltaDir,
        Files.createTempDirectory("sledgappck").toString)
      .start()
    try {
      arrivals.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      q.processAllAvailable()
    } finally q.stop()

    val delta = ScaleQueries.ledger.delta(spark, deltaDir, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("key"), col("band").cast("int"), col("kb").cast("long"))
        .as[(Long, String, Int, Long)].collect().toSet
    // cold recode equality: the streamed keys are the batch keys
    val cold = rows(StreamingLedgerMaintenance.keyStream(
      arrivals.toDF("doc_id", "text")))
    assert(rows(delta) == cold && cold.nonEmpty)

    // the appended copy is now probe-able history through base ∪ delta
    val probeDoc = Seq((950001L, histText)).toDF("doc_id", "text")
    val histGrams2 = histGrams.unionByName(
      arrivals.toDF("doc_id", "text")
        .select(col("doc_id").as("hist_id"),
          ScaleQueries.kmGramArray(col("text")).as("h_grams")))
    val hits = StreamingLedgerProbe.score(probeDoc,
        base.unionByName(delta), histGrams2, threshold = 0.5)
      .select("hist_id", "jaccard_sim")
      .as[(Long, Double)].collect().toSet
    assert(hits.contains((900001L, 1.0)), hits) // found via the DELTA segment
  }

  test("compaction policy folds the delta into the base: row-identical to a " +
       "cold recode, one file per directory, manifest refreshed, probe unchanged") {
    import spark.implicits._
    // a standalone base root (same layout dedup_ledger_build writes), so
    // compaction never disturbs the shared corpus-cache ledger
    val root = Files.createTempDirectory("sledgroot").toFile
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "streaming ledger maintenance keeps admission probes bounded over time"),
      (3L, "a third history document with enough distinct tokens to band properly"))
    val histKeys = StreamingLedgerMaintenance.keyStream(history.toDF("doc_id", "text"))
    ScaleQueries.ledger.write(root, histKeys)()

    // stream two arrivals into a delta segment (one copies doc 2's text)
    val arrivals = Seq(
      (11L, "streaming ledger maintenance keeps admission probes bounded over time"),
      (12L, "an unrelated arrival about calibrating festival drum ensembles"))
    val in = Files.createTempDirectory("sledgcin")
    val deltaDir = Files.createTempDirectory("sledgcdelta").toString
    val q = ScaleQueries.ledger.writer(
        StreamingLedgerMaintenance.keyStream(
          spark.readStream.schema("doc_id LONG, text STRING").parquet(in.toString)),
        deltaDir, Files.createTempDirectory("sledgcck").toString).start()
    try {
      arrivals.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("key"), col("band").cast("int"), col("kb").cast("long"))
        .as[(Long, String, Int, Long)].collect().toSet
    val base = spark.read.parquet(new java.io.File(root, "buckets").toString)
    val preUnion = rows(base.unionByName(
      ScaleQueries.ledger.delta(spark, deltaDir, base)))

    // below the threshold the policy is a no-op; forcing it compacts
    val nDelta = ScaleQueries.ledger.deltaFileCount(deltaDir)
    assert(nDelta >= 1)
    assert(!ScaleQueries.ledger.maintainBase(spark, root, deltaDir,
      maxDeltaFiles = nDelta))
    assert(ScaleQueries.ledger.maintainBase(spark, root, deltaDir,
      maxDeltaFiles = nDelta - 1))

    // row-identical to the cold recode of history ∪ arrivals
    val post = spark.read.parquet(new java.io.File(root, "buckets").toString)
    assert(rows(post) == preUnion)
    assert(rows(post) == rows(StreamingLedgerMaintenance.keyStream(
      (history ++ arrivals).toDF("doc_id", "text"))))

    // one parquet file per (band, kb) directory; manifest matches disk
    val buckets = new java.io.File(root, "buckets")
    val perDir = for {
      b <- buckets.listFiles().toSeq if b.isDirectory
      k <- b.listFiles().toSeq if k.isDirectory
    } yield k.listFiles().count(_.getName.endsWith(".parquet"))
    assert(perDir.nonEmpty && perDir.forall(_ == 1), perDir)
    val manifest = Files.readAllLines(
      new java.io.File(root, graft.sources.Artifact.Manifest).toPath)
    assert(manifest.size == perDir.size)

    // delta consumed; completion marker restored; probe result unchanged
    assert(!new java.io.File(deltaDir).exists())
    assert(ScaleQueries.ledger.complete(root))
    val hg = (history ++ arrivals).toDF("doc_id", "text")
      .select(col("doc_id").as("hist_id"),
        ScaleQueries.kmGramArray(col("text")).as("h_grams"))
    val probe = Seq((99L, arrivals.head._2)).toDF("doc_id", "text")
    val hits = StreamingLedgerProbe.score(probe, post, hg, threshold = 0.5)
      .select("hist_id").as[Long].collect().toSet
    assert(hits.contains(2L) && hits.contains(11L), hits)
  }
}
