package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted near-dup ledger (the
  * `dedup_ledger_build` layout) — the [[StreamingIndexMaintenance]]
  * contract applied to dedup: ADMITTED arrivals' banded bucket keys
  * are appended as a DELTA segment next to the base ledger, where the
  * probe side picks them up (`base.unionByName(deltaBuckets(...))`
  * feeds [[StreamingLedgerProbe.score]] or the batch probe), so
  * today's arrivals are tomorrow's history without a full re-signature
  * of the corpus. Key computation is the SAME row-local pipeline the
  * streaming probe uses ([[StreamingLedgerProbe.bandKeys]] — one pass
  * typically serves both: probe first, append the admitted survivors).
  *
  * Stateless like the index maintenance: keys are pure row-local
  * projections; exactly-once comes from the file sink's commit log (a
  * replayed micro-batch never re-appends — a duplicated bucket row
  * would only duplicate candidate rows, which the probe's verify
  * dedups, but the commit log makes it moot). The delta is
  * `partitionBy(band, kb)` like the base, so the batch probe's
  * (band, kb) directory pruning covers BOTH segments; compaction folds
  * deltas into the base by re-running `dedup_ledger_build` (or
  * concatenating segments — keys are deterministic functions of the
  * text, so base ∪ delta is row-identical to a cold rebuild over
  * corpus ∪ arrivals, asserted in StreamingLedgerMaintenanceSpec).
  */
object StreamingLedgerMaintenance {

  /** The ledger bucket-row projection lifted onto a stream:
    * (id, key, band, kb) rows, schema-identical to the base segment.
    */
  def keyStream(raw: DataFrame): DataFrame =
    StreamingLedgerProbe.bandKeys(raw)
      .withColumn("kb", graft.queries.ScaleQueries.ledgerKbCol)
      .select(col("doc_id").as("id"), col("key"), col("band"), col("kb"))

  /** Append-only file-sink writer for the delta segment — same
    * partitioning as the base ledger so probe pruning covers it.
    */
  def writer(keys: DataFrame, deltaDir: String,
             checkpointDir: String): DataStreamWriter[Row] =
    keys.writeStream
      .outputMode("append")
      .partitionBy("band", "kb")
      .format("parquet")
      .option("path", deltaDir)
      .option("checkpointLocation", checkpointDir)

  /** The delta segment as a batch frame for the probe side; an absent
    * or not-yet-committed delta reads as an empty frame of the base's
    * schema, so `base.unionByName(deltaBuckets(...))` is always valid.
    */
  def deltaBuckets(spark: SparkSession, deltaDir: String,
                   like: DataFrame): DataFrame = {
    val hasData = new java.io.File(deltaDir, "_spark_metadata").exists()
    if (hasData) spark.read.schema(like.schema).parquet(deltaDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], like.schema)
  }

  /** Committed delta parquet-file count — the compaction trigger.
    * Every micro-batch appends ≥1 file per touched (band, kb)
    * directory, so without folding, probe-side open cost grows with
    * STREAM LIFETIME, not data: this is the number the policy bounds.
    */
  def deltaFileCount(deltaDir: String): Int =
    SegmentFiles.parquetCount(new java.io.File(deltaDir))

  /** Fold the delta segment into the base ledger — stop-the-stream
    * maintenance (the streaming query writing `deltaDir` MUST be
    * stopped first; the delta directory and its sink commit log are
    * consumed and removed, and the restarted stream gets a fresh
    * checkpoint + delta dir). base ∪ delta is rewritten with the
    * build's one-file-per-(band, kb) compaction into a sibling temp
    * dir, then swapped in; the manifest and completion marker are
    * refreshed LAST, which also version-bumps every session-cached
    * scan of this ledger. Keys are deterministic row-local functions
    * of the text, so the compacted base is row-identical to a cold
    * rebuild over corpus ∪ arrivals (asserted in the spec).
    */
  def compact(spark: SparkSession, baseRoot: String, deltaDir: String): Unit = {
    val root = new java.io.File(baseRoot)
    val buckets = new java.io.File(root, "buckets")
    val tmp = new java.io.File(root, "buckets_compacting")
    val marker = new java.io.File(root, "_GRAFT_LEDGER_COMPLETE")
    val base = spark.read.parquet(buckets.toString)
      .select(col("id"), col("key"), col("band").cast("int").as("band"),
        col("kb").cast("long").as("kb"))
    val merged = base.unionByName(deltaBuckets(spark, deltaDir, base))
    marker.delete() // a crash mid-swap must read as "no ledger", never half
    // partition count pinned to the directory count, like the builder
    // (ScaleQueries.dedupLedgerBuild): keyless, AQE coalesced the
    // small post-shuffle stage to ONE task that wrote every (band, kb)
    // directory serially; pinned, each directory still lands in exactly
    // one task (hash on the full partition key) and writes spread
    merged.repartition(
        graft.queries.ScaleQueries.KmBands * graft.queries.ScaleQueries.LedgerKb,
        col("band"), col("kb"))
      .write.mode("overwrite").partitionBy("band", "kb")
      .parquet(tmp.toString)
    rmTree(buckets)
    java.nio.file.Files.move(tmp.toPath, buckets.toPath)
    graft.queries.ScaleQueries.writeLedgerManifest(root)
    java.nio.file.Files.writeString(marker.toPath, "ok")
    rmTree(new java.io.File(deltaDir))
  }

  /** The maintenance POLICY: fold when the delta's committed file count
    * exceeds `maxDeltaFiles`, else leave the stream's segment alone.
    * Returns whether a compaction ran. With the default 64, a probe
    * never opens more than 64 delta files on top of the base's
    * one-per-directory — files-per-probe stays bounded by the policy
    * constant as history grows, which is the whole point.
    */
  def maintainBase(spark: SparkSession, baseRoot: String, deltaDir: String,
                   maxDeltaFiles: Int = 64): Boolean = {
    val due = deltaFileCount(deltaDir) > maxDeltaFiles
    if (due) compact(spark, baseRoot, deltaDir)
    due
  }

  private def rmTree(f: java.io.File): Unit = SegmentFiles.rmTree(f)
}

/** Shared file plumbing for the streaming segment-compaction policies
  * (ledger and ANN index): committed-file counting and tree removal.
  */
private[streaming] object SegmentFiles {
  def parquetCount(f: java.io.File): Int =
    if (f.isDirectory && f.getName != "_spark_metadata")
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(parquetCount).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmTree)
    f.delete()
    ()
  }
}
