package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of [[EventOps.retention]] — EXACTLY incremental,
  * unlike the funnel: retention is a pure function of the distinct
  * `(user, epoch-day)` activity set, which is order-free and
  * idempotent under union. Event drops arrive as a stream; each
  * micro-batch collapses to its distinct user-days and APPENDS only
  * the genuinely new ones (anti-join against the persisted activity
  * table), so the state grows by activity — users × active days —
  * while the raw event history (arbitrarily larger) is never kept or
  * rescanned. The report at any time is the batch retention tail over
  * the state table and equals the batch [[EventOps.retention]] over
  * the full history REGARDLESS of arrival order (late/out-of-order
  * events just add their (user, day) rows; a late EARLIER day
  * correctly re-cohorts the user at report time because cohorts are
  * derived from state, not frozen).
  *
  * State layout: hash-bucketed like [[StreamingFunnel]] — appends land
  * under `_b = pmod(hash(_u), buckets)` partitions, and the per-batch
  * dedup anti-join reads ONLY the buckets the batch touches (partition
  * pruning), so per-batch I/O is O(touched buckets), not O(|state|).
  * `buckets` must stay constant for a state path's lifetime.
  *
  * Delivery: `foreachBatch` is at-least-once; a replayed batch's
  * user-days all anti-join away — append is idempotent.
  *
  * Small files: each append lands one file group per touched bucket,
  * so a long-running stream accumulates file groups with batch count
  * and the report/anti-join listing cost grows with it. [[start]]
  * therefore compacts every `compactEvery` batches (default 64): a
  * crash-safe rewrite into one fresh marker-committed generation
  * ([[MarkerStateStore]]) collapses the accumulated groups, preserving
  * the bucketed layout. Compaction is
  * amortized-O(|state|/N) per batch and purely physical — the
  * activity set is append-only distinct rows, so a rewrite changes
  * layout, never content.
  */
object StreamingRetention {

  def start(
      stream: DataFrame, statePath: String, checkpoint: String,
      userCol: String = "user_id", tsCol: String = "ts",
      buckets: Int = 64, compactEvery: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, statePath, userCol, tsCol, buckets)
        if (compactEvery > 0 && batchId > 0 &&
          batchId % compactEvery == 0)
          compact(batch.sparkSession, statePath, buckets = buckets)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental state without a stream.
    */
  def processBatch(batch: DataFrame, statePath: String,
      userCol: String = "user_id", tsCol: String = "ts",
      buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = batch.sparkSession
    // NOTE (round 15): do NOT persist `act` here — it is a
    // post-shuffle frame (dailyActivity's distinct), and caching a
    // post-shuffle plan pins its full shuffle-partition fan-out (AQE
    // cannot re-coalesce a cached plan's output partitioning), which
    // both materializes every partition AND fans the bucket append
    // into partitions×buckets small state files. Recomputing the
    // cheap distinct twice measures faster at every batch size.
    val act = EventOps.dailyActivity(batch, userCol, tsCol)
      .withColumn("_b", pmod(hash(col("_u")), lit(buckets)))
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    MarkerStateStore.heal(fs, statePath)
    val fresh =
      if (MarkerStateStore.hasState(fs, statePath)) {
        // ≤ `buckets` small ints — bounds the dedup read to the
        // touched partitions via pruning on the partition column
        val touched = act.select(col("_b")).distinct()
          .collect().map(_.getInt(0))
        act.join(
          MarkerStateStore.read(spark, statePath, Some(touched.toSeq))
            .select(col("_u"), col("_day")),
          Seq("_u", "_day"), "left_anti")
      } else act
    MarkerStateStore.appendBuckets(fs, statePath, fresh, Seq.empty)
  }

  /** Collapse the per-batch append file groups into one compact
    * rewrite of the activity state (content-identical — the state is
    * a distinct set), preserving the bucketed layout. Crash-safe:
    * the rewrite lands in a fresh generation that goes live with one
    * marker PUT; an interrupted compaction leaves the previous state
    * ruling, and the next batch's heal deletes its orphan.
    */
  def compact(spark: org.apache.spark.sql.SparkSession,
      statePath: String, targetFilesPerBucket: Int = 1,
      buckets: Int = 64): Unit = {
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    MarkerStateStore.heal(fs, statePath)
    if (!MarkerStateStore.hasState(fs, statePath)) return
    // localCheckpoint pins the CURRENT rows once: the bucket collect
    // and the generation write both read them, and the commit's GC
    // then deletes the superseded generations they came from
    val state = MarkerStateStore.read(spark, statePath)
      .repartition(math.max(targetFilesPerBucket, 1) * buckets,
        col("_b"))
      .localCheckpoint()
    MarkerStateStore.swapBuckets(fs, statePath, state,
      state.select(col("_b")).distinct()
        .collect().map(_.getInt(0)).toSeq)
  }

  /** Retention report off the current activity state — same schema as
    * [[EventOps.retention]]:
    * `(cohort_day, day_offset, n_active, retention)`.
    */
  def report(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val act =
      if (MarkerStateStore.hasState(fs, statePath))
        MarkerStateStore.read(spark, statePath).select(col("_u"), col("_day"))
      else Seq.empty[(Long, Long)].toDF("_u", "_day")
    EventOps.retentionFromActivity(act)
  }
}
