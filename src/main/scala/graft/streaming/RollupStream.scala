package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.sink.{IncrementalRollup, Warehouse}

/** Streaming materialized-rollup maintenance — [[graft.sink.IncrementalRollup]]
  * fed by a stream instead of explicit batch calls: each micro-batch's
  * partial aggregate lands in the rollup table via foreachBatch, so a live
  * dashboard reads O(batches × keys) rollup rows, never the event stream.
  *
  * Exactly-once across replays: foreachBatch can re-deliver a batch after a
  * crash between the warehouse commit and the checkpoint commit, and an
  * additive rollup DOUBLE-COUNTS on re-application (unlike an idempotent
  * merge). [[applyBatch]] therefore lands each batch's partials with its
  * batch id as a consumer mark in the same commit (the stream sink's
  * protocol) and skips an id the rollup already marked. Checkpoint LOSS
  * needs the file-ledger variant (see EventStream.incrementalLoad); a
  * batch-id watermark is the right guard while the checkpoint lives, which
  * is the foreachBatch contract.
  */
object RollupStream {

  /** One micro-batch: maintain unless this (streamId, batchId) already
    * committed. Factored out of the stream wiring so replay semantics are
    * directly testable.
    */
  def applyBatch(wh: Warehouse, table: String, spec: IncrementalRollup.Spec,
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batchId > wh.lastCommittedBatchId(table, streamId))
      IncrementalRollup.maintain(wh, table, batch, spec, wh.batchIdMark(streamId, batchId))
  }

  /** Wire a stream to the rollup table. Caller starts/stops the query. */
  def maintain(stream: DataFrame, wh: Warehouse, table: String,
      spec: IncrementalRollup.Spec, streamId: String, checkpoint: String) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch(wh, table, spec, streamId) _)
}
