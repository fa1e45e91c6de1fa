package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The persisted near-dup ledger contract behind the registered
  * `dedup_ledger_build` / `dedup_ledger_probe` queries — the
  * AnnIndexSpec pattern applied to dedup:
  *
  *  1. the probe's ledger scan is parquet PARTITION pruning over the
  *     batch's (band, kb) buckets — directory-level skipping, not
  *     read-then-drop — and reads rows from no other bucket;
  *  2. probing against the on-disk ledger finds exactly the pairs an
  *     in-session signature join over the same split finds (the
  *     persistence layer changes WHERE the history signatures live,
  *     never WHAT collides);
  *  3. every emitted pair crosses the batch/history split in the right
  *     direction and carries a verified Jaccard ≥ 0.5;
  *  4. the store's ensure-if-incomplete path rebuilds a deleted ledger
  *     transparently (exercised by the shared lazy build).
  */
class DedupLedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // build once through the REGISTERED path (also exercises the
  // store's ensure-if-incomplete path ledgerProbeParts relies on)
  private lazy val built: Long = ScaleQueries.dedupLedgerBuild(spark, dir).count()

  test("the probe's ledger scan is partition pruning over the batch's buckets") {
    built
    val (_, bb, pruned) = ScaleQueries.ledgerProbeParts(spark, dir)
    val plan = pruned.queryExecution.executedPlan.toString
    val flat = plan.linesIterator.mkString(" ")
    // the (band, kb) predicate must land ENTIRELY in PartitionFilters
    // (directory-level skip): a NON-EMPTY partition filter and an EMPTY
    // data filter on the ledger scan. (The OR-of-pairs chain is long,
    // so the plan's toString truncates the PartitionFilters list —
    // assert on the filter SLOTS, not the predicate text.)
    assert(flat.contains("PartitionFilters: [("), plan.take(2000))
    assert(flat.contains("DataFilters: []"), plan.take(2000))
    val batchPairs = bb.select(col("band"), col("kb")).distinct()
      .as[(Int, Long)].collect().toSet
    val scanned = pruned.select(col("band").cast("int"), col("kb").cast("long"))
      .distinct().as[(Int, Long)].collect().toSet
    assert(scanned.subsetOf(batchPairs) && scanned.nonEmpty)
  }

  test("probing the persisted ledger equals an in-session signature join") {
    built
    val got = ScaleQueries.dedupLedgerProbe(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    // independent path: no ledger — batch buckets joined directly
    // against history buckets computed fresh in this session
    val (batchGrams, bb, _) = ScaleQueries.ledgerProbeParts(spark, dir)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val histBands = ScaleQueries.kmBandKeys(ScaleQueries.kmGramFrame(
      d.filter(!(col("doc_id") % 10 === 3))))
    val cands = histBands
      .select(col("id").as("a_id"), col("band").as("l_band"), col("key").as("l_key"))
      .join(bb.select(col("id").as("b_id"), col("band").as("r_band"),
          col("key").as("r_key")),
        col("l_band") === col("r_band") && col("l_key") === col("r_key"))
      .select("a_id", "b_id").distinct()
    val candIds = cands.select(col("a_id").as("doc_id")).distinct()
    val histGrams = ScaleQueries.kmGramFrame(
      d.join(candIds, Seq("doc_id"), "left_semi"))
    val expected = graft.operators.Dedup
      .verifyJaccard(cands, histGrams.unionByName(batchGrams), 0.5)
      .select(col("b_id"), col("a_id"), col("jaccard_sim"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("every pair crosses the split and is verified at the threshold") {
    built
    val rows = ScaleQueries.dedupLedgerProbe(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    for ((batchId, histId, j) <- rows) {
      assert(batchId % 10 == 3, s"batch_id $batchId not in the batch slice")
      assert(histId % 10 != 3, s"hist_id $histId not in history")
      assert(j >= 0.5, s"unverified pair ($batchId, $histId, $j)")
    }
  }
}
