package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.text.{Bm25, TextOps}

/** Streaming maintenance of a persisted BM25 inverted index — the
  * serve-while-ingesting half of the retrieval stack ([[StreamingDedup]]
  * is the same wiring for the signed MinHash index): new document drops
  * arrive as a stream, each micro-batch lands in the index via
  * [[Bm25.writeBm25Index]] (first batch bootstraps) or
  * [[Bm25.appendToBm25Index]] (every later batch), and
  * [[Bm25.topKFromIndex]] serves queries between batches — idf and
  * avgdl track the growing corpus automatically because serving derives
  * them from the live postings and summed stats deltas.
  *
  * EXACTLY-ONCE per batch, with no caveat: an append is itself
  * marker-committed (a write-once `postings_batches/batch=<B>` segment
  * plus its stats delta, referenced by ONE `_live` marker PUT), and
  * that same PUT records the stream batch id (`sid`) — so the data and
  * the "this batch was applied" fact commit ATOMICALLY. On an
  * at-least-once foreachBatch replay:
  *   - marker records `sid >= batchId` → the batch committed; skip;
  *   - crash BETWEEN the segment write and the marker PUT → the
  *     segment is unreferenced (invisible to every reader); the
  *     replayed append's heal clears the orphan and the batch lands
  *     exactly once;
  *   - crash during bootstrap → no marker exists yet; the replay
  *     re-runs [[Bm25.writeBm25Index]], which clears the whole tree —
  *     idempotent by construction.
  *
  * Stream DELETES need no extra state: [[Bm25.deleteFromBm25Index]] is
  * committed by one `_live` marker PUT and a replayed delete is a
  * no-op by construction (tombstones are a distinct union; the
  * negative stats delta is computed off live postings that already
  * exclude the ids).
  *
  * One stream per index lifetime: the applied id is keyed by the
  * CHECKPOINT's batch ids, so re-pointing a brand-new stream (fresh
  * checkpoint, batch ids restarting at 0) at an existing index would
  * skip its first batches against the old stream's applied id —
  * rebuild the index (the bootstrap clears the tree) when retiring a
  * checkpoint.
  *
  * Scale shape: each batch pays one batch-sized tokenize + one
  * (doc, term) aggregation — never a corpus rescan; the index grows
  * as write-once append segments resolved through the marker, and
  * [[Bm25.compactBm25Index]] collapses accumulated segments offline
  * on the removal pipeline's cadence (it carries the applied id
  * forward, so compaction mid-stream is safe).
  */
object StreamingBm25 {

  /** Ingest a document stream into the index at `indexPath`.
    * `maxSegments > 0` auto-compacts whenever the outstanding
    * append/tombstone segment count exceeds it
    * ([[graft.operators.LiveMarker.compactIfNeeded]]) — bounded
    * per-read union width over an unbounded stream lifetime.
    */
  def start(
      stream: DataFrame, indexPath: String, checkpoint: String,
      textCol: String, idCol: String, buckets: Int = 64,
      tokenizer: Column => Column = TextOps.tokensSimple,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexPath, textCol, idCol,
          buckets, tokenizer, maxSegments)
      }
      .start()

  /** Tombstone-delete a stream of ids from the index (takedowns /
    * dedup losers arriving as a stream). Replays are no-ops, see
    * the class doc.
    */
  def startDeletes(
      ids: DataFrame, indexPath: String, checkpoint: String,
      idCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Bm25.deleteFromBm25Index(batch, indexPath, idCol)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental pipeline without a stream. The
    * bootstrap/replay/append decision is
    * [[graft.operators.LiveMarker.streamStep]].
    */
  def processBatch(
      batch: DataFrame, batchId: Long, indexPath: String,
      textCol: String, idCol: String, buckets: Int = 64,
      tokenizer: Column => Column = TextOps.tokensSimple,
      maxSegments: Int = 0): Unit = {
    if (batch.isEmpty) return
    Bm25.bm25Marker.streamStep(batch.sparkSession, indexPath, batchId,
      maxSegments)(
      bootstrap = Bm25.writeBm25Index(batch, textCol, idCol, indexPath,
        buckets, tokenizer, appliedId = batchId),
      append = Bm25.appendToBm25Index(batch, textCol, idCol, indexPath,
        tokenizer, appliedId = batchId),
      compact = Bm25.compactBm25Index(batch.sparkSession, indexPath,
        idCol))
  }
}
