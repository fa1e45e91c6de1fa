package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.Similarity

/** Streaming maintenance of the persisted IVF+PQ index (the
  * `ann_index_build` layout, `ScaleQueries.annIndex`): vectors arriving
  * on a stream are coded against the FROZEN codebooks — coarse
  * centroids + residual sub-quantizers are model parameters, compiled
  * into the plan as literal banks exactly as in the batch coder — and
  * appended through the store's delta `writer` next to the base index,
  * where the search side picks them up (base ∪ `delta` feeds
  * `Similarity.knnIvfPqOnCodes`). This is the FAISS add-after-train
  * contract: appends never retrain; codebook refresh is a batch
  * rebuild (`ann_index_build`).
  *
  * Deliberately STATELESS: cell assignment + sub-quantization is a
  * pure row-local projection, so there is no per-key state to manage —
  * `transformWithState` here would buy a shuffle and a state store for
  * nothing. A duplicated code row would duplicate ADC candidates and
  * could shift the rank cut, which the sink's commit log rules out.
  *
  * Compaction (`annIndex.maintainBase`) folds the delta into the base
  * by concatenating segments: codes are frozen-model outputs, so
  * base ∪ delta is byte-identical to a cold recode of corpus ∪
  * arrivals (asserted in StreamingIndexSpec). Codebook sidecars are
  * untouched: folding never retrains.
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
}

/** Streaming maintenance of the persisted near-dup ledger (the
  * `dedup_ledger_build` layout, `ScaleQueries.ledger`) — the
  * [[StreamingIndexMaintenance]] contract applied to dedup: ADMITTED
  * arrivals' banded bucket keys are appended through the store's delta
  * `writer` next to the base ledger, where the probe side picks them up
  * (base ∪ `delta` feeds [[StreamingLedgerProbe.score]] or the batch
  * probe), so today's arrivals are tomorrow's history without a full
  * re-signature of the corpus. Key computation is the SAME row-local
  * pipeline the streaming probe uses ([[StreamingLedgerProbe.bandKeys]]
  * — one pass typically serves both: probe first, append the admitted
  * survivors).
  *
  * Stateless like the index maintenance: keys are pure row-local
  * projections. A duplicated bucket row would only duplicate candidate
  * rows, which the probe's verify dedups; the sink's commit log makes
  * it moot. Compaction (`ledger.maintainBase`) folds deltas into the
  * base by concatenating segments: keys are deterministic functions of
  * the text, so base ∪ delta is row-identical to a cold rebuild over
  * corpus ∪ arrivals (asserted in StreamingLedgerMaintenanceSpec).
  */
object StreamingLedgerMaintenance {

  /** The ledger bucket-row projection lifted onto a stream:
    * (id, key, band, kb) rows, schema-identical to the base segment.
    */
  def keyStream(raw: DataFrame): DataFrame =
    StreamingLedgerProbe.bandKeys(raw)
      .withColumn("kb", graft.queries.ScaleQueries.ledgerKbCol)
      .select(col("doc_id").as("id"), col("key"), col("band"), col("kb"))
}
