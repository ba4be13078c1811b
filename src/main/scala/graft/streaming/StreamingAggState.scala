package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Incremental

/** Streaming twin of [[graft.operators.Incremental]] — a continuously
  * maintained materialized aggregate: each micro-batch folds to the
  * mergeable per-group state shape (count/sum/min/max + KMV distinct
  * sketch) and merges into a persisted, HASH-BUCKETED state table.
  * Per-batch I/O is bounded by the buckets the batch touches (the
  * [[StreamingFunnel]] state discipline), so a per-user aggregate at
  * 10⁸ users never rewrites the world.
  *
  * Unlike the funnel's `least` merge, count/sum merging is NOT
  * idempotent — an at-least-once replay of a batch would double
  * counts. Exactly-once therefore rides a per-bucket applied-batch
  * watermark (`_applied`, carried on every state row of the bucket):
  * a replayed batch skips buckets whose watermark already covers its
  * batch id. Bucket granularity is correct because
  * [[MarkerStateStore]] replaces the touched buckets atomically at its
  * one commit point, the marker PUT: after a crash either every
  * touched bucket carries the new watermark or none does.
  *
  * Report-side cost: the state IS the report source — reading it
  * never touches event history.
  */
object StreamingAggState {

  def start(
      stream: DataFrame, statePath: String, checkpoint: String,
      groupCol: String, valueInt: Column, distinctCol: Column,
      k: Int = 128, buckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, groupCol, valueInt,
          distinctCol, k, buckets)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental state without a stream.
    */
  def processBatch(
      batch: DataFrame, batchId: Long, statePath: String,
      groupCol: String, valueInt: Column, distinctCol: Column,
      k: Int = 128, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = batch.sparkSession
    val fs = new Path(statePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    MarkerStateStore.heal(fs, statePath)
    val rows = batch.filter(col(groupCol).isNotNull)
    // bounded driver materialization: ≤ `buckets` ints
    val touched = rows
      .select(pmod(hash(col(groupCol)), lit(buckets)).as("_b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    // pruned to the touched bucket directories
    val old: Option[DataFrame] =
      if (MarkerStateStore.hasState(fs, statePath))
        Some(MarkerStateStore.read(spark, statePath, Some(touched.toSeq)))
      else None
    // replay guard: per-bucket applied-batch watermark (≤ |touched|
    // rows collected)
    val applied: Map[Int, Long] = old match {
      case Some(o) => o.groupBy(col("_b"))
        .agg(max(col("_applied")).as("_a"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      case None => Map.empty
    }
    val mergeBuckets = touched.filter(b =>
      applied.get(b).forall(_ < batchId))
    if (mergeBuckets.isEmpty) return // full replay: state already has it
    val bucketIds = mergeBuckets.map(Integer.valueOf).toSeq
    val delta = Incremental.aggState(
      rows.filter(
        pmod(hash(col(groupCol)), lit(buckets)).isin(bucketIds: _*)),
      groupCol, valueInt, distinctCol, k)
    val stateCols = Seq(col(groupCol), col("n_rows"), col("sum_v"),
      col("min_v"), col("max_v"), col("kmv"))
    val states = old match {
      case Some(o) =>
        Seq(o.filter(col("_b").isin(bucketIds: _*)).select(stateCols: _*),
          delta)
      case None => Seq(delta)
    }
    val merged = Incremental.mergeAggState(states, groupCol, k)
      .withColumn("_applied", lit(batchId))
      .withColumn("_b", pmod(hash(col(groupCol)), lit(buckets)))
    MarkerStateStore.swapBuckets(fs, statePath, merged, mergeBuckets)
  }

  /** The report off the persisted state: [[Incremental.stateReport]]
    * over every bucket — event history is never read. Before any batch
    * has written state (path missing, or every batch so far was empty /
    * all-null groups, where [[processBatch]] returns without writing)
    * the report is EMPTY with the report schema, not an
    * `AnalysisException` from a bare read of a missing path. With no
    * state on disk there is no group type to recover, so callers with
    * a non-string group column pass `groupType` — then the first-run
    * (empty) report is schema-identical to every later one and
    * downstream unions / schema-sensitive consumers see one schema
    * before and after the first batch.
    */
  def report(spark: SparkSession, statePath: String, groupCol: String,
      k: Int = 128, groupType: DataType = StringType): DataFrame = {
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val state =
      if (MarkerStateStore.hasState(fs, statePath))
        MarkerStateStore.read(spark, statePath)
          .select(col(groupCol), col("n_rows"), col("sum_v"),
            col("min_v"), col("max_v"), col("kmv"))
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField(groupCol, groupType),
            StructField("n_rows", LongType),
            StructField("sum_v", LongType),
            StructField("min_v", LongType),
            StructField("max_v", LongType),
            StructField("kmv", ArrayType(LongType)))))
    Incremental.stateReport(state, groupCol, k)
  }
}
