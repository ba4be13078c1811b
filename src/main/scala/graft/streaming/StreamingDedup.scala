package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.text.{Dedup, TextOps}

/** Streaming near-dedup against a GROWING signed index — the packaged
  * incremental-corpus-extension pipeline: new document drops arrive as a
  * stream, each micro-batch is near-deduped against everything already
  * accepted (the persisted [[Dedup.writeSignedIndex]] artifact), and the
  * batch's own survivors' signatures are APPENDED to that index so the
  * NEXT batch also dedups against them. This is the `foreachBatch`
  * wiring [[Dedup.dedupNearAgainstIndexBatch]] documents itself as —
  * stream-vs-stream duplicates (doc arrives twice in different batches)
  * are caught because batch N's survivors are in the index before batch
  * N+1 runs.
  *
  * Per micro-batch:
  *   1. optional WITHIN-batch near-dedup ([[Dedup.dedupNear]]) — two
  *      copies arriving in the same batch keep one;
  *   2. anti-join against the signed index (pure equi-join on the
  *      band:bucket key — works at any index size, never a broadcast);
  *   3. append survivors to `outPath` (parquet);
  *   4. sign survivors and append to `indexPath`.
  *
  * A missing/empty `indexPath` bootstraps cleanly: the first batch skips
  * step 2 and its survivors found the index. LSH parameters must match
  * the index's writer for every reader — they are baked into both the
  * signatures and the bucket keys.
  *
  * Delivery semantics: `foreachBatch` is at-least-once; the pipeline
  * is EXACTLY-ONCE end to end. The INDEX side: every append is
  * marker-committed ([[Dedup.appendToSignedIndex]] — a write-once
  * segment plus ONE `_live` marker PUT that also records the stream
  * batch id), so a replayed batch whose commit landed skips entirely,
  * and one whose commit never landed re-runs into a fresh healed
  * segment. The `outPath` corpus side: survivors land in a
  * PER-BATCH directory (`outPath/batch=<id>/`, mode overwrite — the
  * standard idempotent foreachBatch sink), so the one remaining
  * replay window (crash BETWEEN the corpus write and the index
  * commit) re-runs against the unchanged index, computes the same
  * survivor set, and overwrites its own directory — no duplicates,
  * and never a silent LOSS (the reverse order would drop every
  * survivor as a "duplicate" of itself on replay). Read the corpus
  * with `spark.read.parquet(outPath)`; `batch` surfaces as a
  * partition column.
  *
  * TWO PRECONDITIONS the exactly-once claim rests on: (a) the SOURCE
  * must replay a batch id with identical contents (true of the
  * checkpointed file/Kafka sources; not of a source that re-shuffles
  * rows across batch ids on restart) — the crash-window replay only
  * recomputes a byte-identical survivor set from identical input, as
  * [[Dedup.dedupNear]]/[[Dedup.dedupNearAgainstIndexBatch]] are
  * deterministic given their input; and (b) `outPath` uses the
  * per-batch `batch=<id>` layout introduced with this wiring — a
  * corpus written by the older flat-append flavor mixes the two
  * layouts and no longer parses as one table; migrate it into a
  * `batch=<id>` subdir (one rename) before pointing the stream at it.
  *
  * Scale shape: everything per batch is the audited batch machinery —
  * the index side shuffles only (sig, bucket) pairs, the stream side
  * signs its own docs once, and index growth is append-only parquet
  * (compact it offline like any lake table).
  */
object StreamingDedup {

  def start(
      stream: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens,
      dedupWithinBatch: Boolean = true,
      maxIter: Int = 20,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexPath, outPath, textCol,
          idCol, shingleK, bands, rowsPerBand, threshold, tokenizer,
          dedupWithinBatch, maxIter, maxSegments)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental pipeline without a stream. The
    * bootstrap/replay/append decision is
    * [[graft.operators.LiveMarker.streamStep]].
    */
  def processBatch(
      batch: DataFrame, batchId: Long, indexPath: String,
      outPath: String, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens,
      dedupWithinBatch: Boolean = true,
      maxIter: Int = 20, maxSegments: Int = 0): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // the batch's survivors against `index` (none at bootstrap),
    // written to the corpus side first
    def survivors(index: Option[DataFrame]): DataFrame = {
      val withinDeduped =
        if (dedupWithinBatch)
          Dedup.dedupNear(batch, textCol, idCol, shingleK, bands,
            rowsPerBand, threshold, tokenizer, maxIter)
        else batch
      val kept = index.fold(withinDeduped)(
        Dedup.dedupNearAgainstIndexBatch(withinDeduped, _, textCol,
          idCol, shingleK, bands, rowsPerBand, threshold, tokenizer))
      // materialize once: the survivor set feeds BOTH writes, and
      // without the cut the index append would replay the whole
      // anti-join
      val keptC = kept.localCheckpoint()
      // idempotent per-batch sink: a replay overwrites ITS OWN dir
      keptC.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      keptC
    }
    Dedup.signedMarker.streamStep(spark, indexPath, batchId,
      maxSegments)(
      bootstrap = Dedup.writeSignedIndex(survivors(None), indexPath,
        textCol, idCol, shingleK, bands, rowsPerBand, tokenizer,
        appliedId = batchId),
      append = Dedup.appendToSignedIndex(
        survivors(Some(Dedup.readSignedIndex(spark, indexPath))),
        indexPath, textCol, idCol, shingleK, bands, rowsPerBand,
        tokenizer, appliedId = batchId),
      compact = Dedup.compactSignedIndex(spark, indexPath))
  }
}
