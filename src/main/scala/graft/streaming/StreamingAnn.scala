package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sim.SimSearch

/** Streaming maintenance of a persisted hyperplane-ANN index — the
  * dense-retrieval twin of [[StreamingBm25]] (and the third member of
  * the serve-while-ingesting family beside [[StreamingDedup]]): new
  * embedding drops arrive as a stream, the first micro-batch creates
  * the index ([[SimSearch.writeAnnIndex]] — LSH parameters freeze
  * there), every later batch appends under the persisted meta
  * ([[SimSearch.appendToAnnIndex]] validates the column contract), and
  * `annTopKFromIndex(readAnnIndex(...))` serves partition-pruned
  * probes between batches.
  *
  * EXACTLY-ONCE per batch, with no caveat (including the bootstrap):
  * an append is marker-committed — a write-once
  * `vectors_batches/batch=<B>` segment referenced by ONE `_live`
  * marker PUT that also records the stream batch id — so data and the
  * applied fact commit atomically. On an at-least-once foreachBatch
  * replay: a committed batch id skips; a crash between the segment
  * write and the PUT leaves the segment unreferenced (the replayed
  * append's heal clears the orphan and the batch lands once); a crash
  * during bootstrap leaves no marker, and the replayed bootstrap
  * clears the whole tree — idempotent by construction. A duplicated
  * id can therefore never surface twice in a probe.
  *
  * Stream DELETES need no extra state: [[SimSearch.deleteFromAnnIndex]]
  * is committed by one `_live` marker PUT and a replayed delete batch
  * is a no-op (tombstones are a distinct anti-join set).
  *
  * One stream per index lifetime: the applied id is keyed by the
  * checkpoint's batch ids — rebuild the index when retiring a
  * checkpoint (same contract as [[StreamingBm25]]).
  *
  * Scale shape: each batch pays one batch-sized bucketing pass —
  * never a corpus re-index; [[SimSearch.compactAnnIndex]] collapses
  * accumulated segments offline on the removal pipeline's cadence
  * (it carries the applied id forward, so compaction mid-stream is
  * safe).
  */
object StreamingAnn {

  /** Ingest an embedding stream into the index at `indexPath`.
    * `maxSegments > 0` auto-compacts whenever the outstanding
    * append/tombstone segment count exceeds it
    * ([[graft.operators.LiveMarker.compactIfNeeded]]).
    */
  def start(
      stream: DataFrame, indexPath: String, checkpoint: String,
      idCol: String, vecCol: String, planes: Int = 12, dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexPath, idCol, vecCol, planes,
          dim, maxSegments)
      }
      .start()

  /** Tombstone-delete a stream of ids (single column named as the
    * index's id column). Replays are no-ops, see the class doc.
    */
  def startDeletes(
      ids: DataFrame, indexPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          SimSearch.deleteFromAnnIndex(batch, indexPath)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental pipeline without a stream. The
    * bootstrap/replay/append decision is
    * [[graft.operators.LiveMarker.streamStep]].
    */
  def processBatch(
      batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String, vecCol: String, planes: Int = 12,
      dim: Int = 64, maxSegments: Int = 0): Unit = {
    if (batch.isEmpty) return
    SimSearch.annMarker.streamStep(batch.sparkSession, indexPath,
      batchId, maxSegments)(
      bootstrap = SimSearch.writeAnnIndex(batch, indexPath, idCol,
        vecCol, planes, dim, appliedId = batchId),
      append = SimSearch.appendToAnnIndex(batch, indexPath, idCol,
        vecCol, appliedId = batchId),
      compact = SimSearch.compactAnnIndex(batch.sparkSession, indexPath))
  }
}
