package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sim.SimSearch

/** Streaming maintenance of a persisted IVF-PQ index — the compressed
  * tier's member of the serve-while-ingesting family
  * ([[StreamingDedup]] / [[StreamingBm25]] / [[StreamingAnn]] are the
  * signature, sparse and uncompressed-dense twins): the FIRST
  * micro-batch trains the index ([[SimSearch.writePqIndex]] — IVF
  * centroids and PQ codebooks freeze there, the standard
  * train-on-first-drop deployment), every later batch encodes under
  * the frozen model and appends into the live codes generation
  * ([[SimSearch.appendToPqIndex]]), and [[SimSearch.ivfPqTopK]]
  * over [[SimSearch.readPqIndex]] serves partition-pruned ADC probes
  * between batches.
  *
  * Replay safety WITHOUT an applied-batch marker: `appendToPqIndex`
  * anti-joins the batch's ids against the physical live codes before
  * encoding, so an at-least-once foreachBatch replay re-offers ids the
  * index already holds and inserts nothing — idempotent by
  * construction (the one caveat: a delete of the same id BETWEEN the
  * original batch and its replay would let the replay re-insert;
  * sequence deletes behind the ingest stream, the usual discipline).
  *
  * Codebook staleness is the known trade: a corpus that drifts far
  * from the first batch's distribution encodes with growing
  * quantization error — re-train via [[SimSearch.writePqIndex]] on a
  * rebuild cadence and let [[SimSearch.compactPqIndex]] handle space
  * in between ([[SimSearch.recallAtK]] is the drift alarm).
  *
  * Scale shape: each batch pays one batch-sized cell-assign + encode —
  * never a corpus re-fit; appends land inside the marker-resolved live
  * generation, so serving and compaction stay concurrent-safe.
  */
object StreamingPq {

  /** Ingest an embedding stream into the PQ index at `indexPath`.
    * `cellCol` names the IVF cell column the FIRST batch trains with
    * (later batches re-derive cells from the frozen centroids, so
    * they need not carry it).
    */
  def start(
      stream: DataFrame, indexPath: String, checkpoint: String,
      idCol: String, vecCol: String, cellCol: String, m: Int, k: Int,
      iters: Int, dim: Int = 64, bucketWidth: Long = 4096L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, indexPath, idCol, vecCol, cellCol, m, k,
          iters, dim, bucketWidth)
      }
      .start()

  /** Tombstone-delete a stream of ids (single column named as the
    * index's id column). Replays are no-ops (tombstones are a
    * distinct anti-join set).
    */
  def startDeletes(
      ids: DataFrame, indexPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          SimSearch.deleteFromPqIndex(batch, indexPath)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental pipeline without a stream.
    */
  def processBatch(
      batch: DataFrame, indexPath: String, idCol: String,
      vecCol: String, cellCol: String, m: Int, k: Int, iters: Int,
      dim: Int = 64, bucketWidth: Long = 4096L): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val trained = fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexPath/codebooks"))
    if (!trained)
      SimSearch.writePqIndex(batch, indexPath, idCol, vecCol, cellCol,
        m, k, iters, dim, bucketWidth)
    else
      // a batch that still carries the cell column appends under it
      // (the labeled-corpus path); otherwise cells re-derive from the
      // frozen centroids
      SimSearch.appendToPqIndex(batch, indexPath, idCol, vecCol, m,
        dim, cellCol =
          if (batch.columns.contains(cellCol)) Some(cellCol) else None)
  }
}
