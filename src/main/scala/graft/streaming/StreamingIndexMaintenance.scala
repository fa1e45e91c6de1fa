package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.Similarity

/** Streaming maintenance of the persisted IVF+PQ index (the
  * `ann_index_build` layout): vectors arriving on a stream are coded
  * against the FROZEN codebooks — coarse centroids + residual
  * sub-quantizers are model parameters, compiled into the plan as
  * literal banks exactly as in the batch coder — and appended as a
  * DELTA segment next to the base index, where the search side picks
  * them up ([[deltaCodes]] ∪ base feeds
  * `Similarity.knnIvfPqOnCodes`). This is the FAISS add-after-train
  * contract: appends never retrain; codebook refresh is a batch
  * rebuild (`ann_index_build`).
  *
  * Deliberately STATELESS: cell assignment + sub-quantization is a
  * pure row-local projection, so there is no per-key state to manage —
  * `transformWithState` here would buy a shuffle and a state store for
  * nothing. Exactly-once comes from the file sink's commit log (a
  * replayed micro-batch never re-appends), which matters because a
  * duplicated code row would duplicate ADC candidates and could shift
  * the rank cut.
  *
  * Scale shape: the delta segment is `partitionBy("c_id")` like the
  * base, so cell probing prunes BOTH segments' directories; a
  * compaction run folds deltas into the base by re-running the build
  * (or simply concatenating segments — codes are frozen-model outputs,
  * so base ∪ delta is byte-identical to a cold recode, asserted in
  * StreamingIndexSpec).
  *
  * RETRAIN TRIGGER (closing the frozen-codebook lifecycle): appends
  * never retrain, so codebook freshness is monitored by the
  * `ann_index_health` query — per coarse cell, the mean assignment
  * affinity of the arrival slice vs the build-time corpus under the
  * deployed codebook. The contract: compute the n_new-weighted mean
  * drift Σ n_new·drift / Σ n_new over its output (per-cell drift
  * alone is a small-sample diagnostic — measured up to |0.27| at
  * n_new ≤ 4 on i.i.d. arrivals, while the weighted mean sits at
  * |0.005| across SFs); when the weighted drift exceeds 0.05 (≈10×
  * the measured i.i.d. band) for a full compaction window, re-run
  * `ann_index_build` and fold the deltas instead of concatenating.
  */
object StreamingIndexMaintenance {

  /** The coding projection lifted onto a stream: [[Similarity.prep]] +
    * [[Similarity.ivfPqCodes]] are pure selects against literal banks,
    * so they apply to a streaming frame unchanged (no shuffle, no
    * state).
    */
  def codeStream(raw: DataFrame, coarse: DataFrame,
                 subspaces: Seq[(Int, Int, DataFrame)],
                 keep: Seq[String] = Nil): DataFrame =
    Similarity.ivfPqCodes(
      Similarity.prep(raw, "vec_id", "embedding", keep), coarse, subspaces, keep)

  /** Append-only file-sink writer for the delta segment — same
    * partitioning as the base index so probe pruning covers it.
    */
  def writer(codes: DataFrame, deltaDir: String,
             checkpointDir: String): DataStreamWriter[Row] =
    codes.writeStream
      .outputMode("append")
      .partitionBy("c_id")
      .format("parquet")
      .option("path", deltaDir)
      .option("checkpointLocation", checkpointDir)

  /** The delta segment as a batch frame for the search side; an absent
    * or not-yet-committed delta reads as an empty frame of the base's
    * schema, so `base.unionByName(deltaCodes(...))` is always valid.
    */
  def deltaCodes(spark: SparkSession, deltaDir: String,
                 like: DataFrame): DataFrame = {
    val hasData = new java.io.File(deltaDir, "_spark_metadata").exists()
    if (hasData) spark.read.schema(like.schema).parquet(deltaDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], like.schema)
  }

  /** Committed delta parquet-file count — the compaction trigger (see
    * [[StreamingLedgerMaintenance.deltaFileCount]]): appends grow the
    * probed cells' file count with STREAM LIFETIME, and this is the
    * number the policy bounds.
    */
  def deltaFileCount(deltaDir: String): Int =
    SegmentFiles.parquetCount(new java.io.File(deltaDir))

  /** Fold the delta segment into the base index's codes tree —
    * stop-the-stream maintenance, the executable form of the
    * "concatenating segments" contract in this object's scaladoc
    * (codes are frozen-model outputs, so base ∪ delta is byte-identical
    * to a cold recode of corpus ∪ arrivals). base ∪ delta is rewritten
    * one-file-per-c_id-directory into a sibling temp dir and swapped
    * in; the completion marker is refreshed LAST, which version-bumps
    * the session-cached index parts. The delta dir and its sink commit
    * log are consumed — restart the maintenance stream with a fresh
    * checkpoint + delta dir. Codebook sidecars are untouched: folding
    * never retrains (the retrain trigger above governs that).
    */
  def compact(spark: SparkSession, indexRoot: String, deltaDir: String): Unit = {
    val root = new java.io.File(indexRoot)
    val codesDir = new java.io.File(root, "codes")
    val tmp = new java.io.File(root, "codes_compacting")
    val marker = new java.io.File(root, "_GRAFT_INDEX_COMPLETE")
    val base = spark.read.parquet(codesDir.toString)
    val merged = base.unionByName(deltaCodes(spark, deltaDir, base))
    marker.delete() // a crash mid-swap must read as "no index", never half
    // pinned to the coarse cell count, like the ledger
    // writers: a keyless repartition lets AQE coalesce the small
    // post-shuffle stage to one task that writes every c_id directory
    // serially; pinned, each cell directory still gets exactly one
    // writer task (one file per directory preserved)
    merged.repartition(graft.queries.ScaleQueries.IvfPqCells, col("c_id"))
      .write.mode("overwrite").partitionBy("c_id")
      .parquet(tmp.toString)
    SegmentFiles.rmTree(codesDir)
    java.nio.file.Files.move(tmp.toPath, codesDir.toPath)
    java.nio.file.Files.writeString(marker.toPath, "ok")
    SegmentFiles.rmTree(new java.io.File(deltaDir))
  }

  /** The maintenance POLICY: fold when the delta's committed file count
    * exceeds `maxDeltaFiles`, else leave the stream's segment alone.
    * Returns whether a compaction ran. Bounds search-side file opens by
    * the policy constant as the stream ages.
    */
  def maintainBase(spark: SparkSession, indexRoot: String, deltaDir: String,
                   maxDeltaFiles: Int = 64): Boolean = {
    val due = deltaFileCount(deltaDir) > maxDeltaFiles
    if (due) compact(spark, indexRoot, deltaDir)
    due
  }
}
