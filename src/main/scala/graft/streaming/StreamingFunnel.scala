package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of [[EventOps.funnel]] — the incremental ordered
  * funnel: event drops arrive as a stream, and a persisted per-user
  * state table carries each user's earliest stage-completion chain
  * (`(stage_idx, _u, _t)`), updated per micro-batch. Reading the
  * funnel report at any time is one small aggregation over the state
  * table ([[report]]), not a rescan of event history — the property
  * that matters when the history is 100 TB and the state is
  * users × stages rows.
  *
  * State layout: hash-bucketed — partitioned by
  * `_b = pmod(hash(_u), buckets)` — so a micro-batch reads and
  * rewrites ONLY the buckets containing its users: per-batch I/O is
  * O(|touched buckets| × bucket size), not O(|accumulated users|).
  * A users×stages state at 10⁹ users on a minutes-cadence trigger
  * must not be a rewrite-the-world loop; with `buckets` sized so one
  * bucket holds ~10⁷ rows, a batch touching a subset of buckets pays
  * only for those. `buckets` must stay CONSTANT for the lifetime of a
  * state path (the bucket id is derived from the user hash at write
  * time — changing it orphans rows in stale buckets).
  *
  * Per micro-batch ([[processBatch]]), stages update IN ORDER against
  * the batch-updated previous stage, so a view→click arriving in one
  * batch converts immediately. Each stage keeps the MIN qualifying
  * timestamp (the greedy-earliest chain — exact for unbounded
  * funnels), merged `least`-wise with prior state.
  *
  * Semantics caveat (documented, inherent to forward-only state): the
  * incremental chain is exact when a user's events arrive in
  * event-time order ACROSS batches (within a batch, order is
  * irrelevant). A stage-(i) event that arrived in an EARLIER batch
  * than the stage-(i−1) event that would have qualified it is not
  * revisited — run the batch [[EventOps.funnel]] over the full history
  * for the exact answer (same report schema, direct comparison). With
  * `maxGapMinutes` set the same greedy-earliest undercount as any
  * min-state funnel applies; the batch flavor's any-chain semantics
  * need full history by nature.
  *
  * Delivery: `foreachBatch` is at-least-once; the state merge is
  * idempotent (`least` of mins), so replaying a batch cannot corrupt
  * the chain. Touched buckets are replaced through
  * [[MarkerStateStore]]: each bucket's new rows land in a write-once
  * generation directory and go live with one marker PUT, a crash
  * before that PUT leaves the previous state ruling, and UNTOUCHED
  * bucket files are never opened, let alone rewritten.
  */
object StreamingFunnel {

  def start(
      stream: DataFrame, statePath: String, checkpoint: String,
      stages: Seq[String], userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      maxGapMinutes: Option[Long] = None, buckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, statePath, stages, userCol, typeCol, tsCol,
          maxGapMinutes, buckets)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch jobs (and tests)
    * can drive the same incremental state without a stream.
    */
  def processBatch(
      batch: DataFrame, statePath: String, stages: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", maxGapMinutes: Option[Long] = None,
      buckets: Int = 64): Unit = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(maxGapMinutes.forall(_ > 0), "maxGapMinutes must be positive")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = batch.sparkSession
    val ev = EventOps.normalizeTs(batch, tsCol)
      // null users/timestamps: the batch funnel's countDistinct has
      // always excluded them; without this filter every batch would
      // append fresh unmatched (stage, null, t) rows to the state
      // (full_outer on a null key never joins) and inflate report
      // counts forever
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"), col(typeCol).as("_ty"),
        col(tsCol).cast("long").as("_ts"))
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    MarkerStateStore.heal(fs, statePath)
    // the touched-bucket set: ≤ `buckets` small ints — the one bounded
    // driver materialization this path makes (it prunes both the state
    // READ below and the bucket swap at the end)
    val touched = ev
      .select(pmod(hash(col("_u")), lit(buckets)).as("_b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return // empty/all-null batch: state untouched
    val old: DataFrame =
      if (MarkerStateStore.hasState(fs, statePath))
        // pruned to the touched bucket directories; a user's whole
        // chain lives in its hash bucket, so the merge below is
        // lossless
        MarkerStateStore.read(spark, statePath, Some(touched.toSeq))
          .select(col("stage_idx"), col("_u"), col("_t"))
      else ev.select(lit(0).as("stage_idx"), col("_u"),
        col("_ts").as("_t")).limit(0)
    // ONE per-user merge pass (guide §2.4 — remove shuffles outright):
    // the per-stage chain [candidate groupBy + prev join + full_outer
    // state merge] re-shuffled the batch and the state slice once per
    // stage; instead aggregate the batch ONCE per user (a sorted ts
    // array per stage), pivot the state slice ONCE per user, and
    // compute the greedy-earliest chain — cand_i = earliest stage-i
    // event qualifying against merged_(i-1), merged_i = least of state
    // and candidate — in a single projection over the co-keyed
    // full_outer join. Two exchanges per batch instead of ~3 per
    // stage; the merge algebra is unchanged expression for expression.
    // Memory bound: one user's per-batch events materialize as one
    // aggregation buffer — the same whale-user-caps-at-one-batch bound
    // the sessions twin's per-user window already carries.
    val n = stages.length
    val evAgg = ev.groupBy(col("_u")).agg(
      sort_array(collect_list(when(col("_ty") === stages.head,
        col("_ts")))).as("_a0"),
      stages.tail.zipWithIndex.map { case (st, i) =>
        sort_array(collect_list(when(col("_ty") === st, col("_ts"))))
          .as(s"_a${i + 1}")
      }: _*)
    val oldAgg = old.filter(col("stage_idx") >= 0 && col("stage_idx") < n)
      .groupBy(col("_u")).agg(
        max(when(col("stage_idx") === 0, col("_t"))).as("_o0"),
        (1 until n).map(i =>
          max(when(col("stage_idx") === i, col("_t"))).as(s"_o$i")): _*)
    val joined = evAgg.join(oldAgg, Seq("_u"), "full_outer")
    val mergedCols = new Array[org.apache.spark.sql.Column](n)
    (0 until n).foreach { i =>
      val cand =
        if (i == 0) array_min(col("_a0"))
        else {
          val p = mergedCols(i - 1)
          maxGapMinutes match {
            case Some(m) => array_min(filter(col(s"_a$i"),
              x => x > p && x <= p + lit(m * 60L)))
            case None => array_min(filter(col(s"_a$i"), x => x > p))
          }
        }
      mergedCols(i) = least(
        coalesce(col(s"_o$i"), cand), coalesce(cand, col(s"_o$i")))
    }
    // a (stage, user) row exists iff the state had one or a candidate
    // qualified — i.e. merged_i is non-null; rows with stage_idx
    // outside [0, n) pass through untouched (explode child stays an
    // expression so no pushdown re-derivation, see Dedup's note)
    val stateNew = joined.select(col("_u"), explode(filter(
      array((0 until n).map(i => struct(lit(i).as("stage_idx"),
        mergedCols(i).as("_t"))): _*),
      s => s.getField("_t").isNotNull)).as("_s"))
      .select(col("_s.stage_idx").as("stage_idx"), col("_u"),
        col("_s._t").as("_t"))
    val state = old
      .filter(col("stage_idx") < 0 || col("stage_idx") >= n)
      .select(col("stage_idx"), col("_u"), col("_t"))
      .unionByName(stateNew)
    MarkerStateStore.swapBuckets(fs, statePath,
      state.withColumn("_b", pmod(hash(col("_u")), lit(buckets))),
      touched.toSeq)
  }

  /** Time-to-convert percentiles off the current state — the streaming
    * twin of [[EventOps.funnelLatency]], same schema
    * `(stage_idx, stage, n_converted, m, p50_gap_sec, p90_gap_sec)`:
    * adjacent stage rows self-join on the user (both live in the same
    * hash bucket, so the join is bucket-local on a cell-partitioned
    * lake), gaps feed the same md5-keyed bottom-k sketch tail, so
    * under the twins' event-time-ordered exactness precondition the
    * report equals the batch flavor bit-for-bit (test-pinned). One
    * users×stages-row pass; event history is never rescanned.
    */
  def latencyReport(spark: org.apache.spark.sql.SparkSession,
      statePath: String, stages: Seq[String], k: Int = 256): DataFrame = {
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val st =
      if (MarkerStateStore.hasState(fs, statePath))
        MarkerStateStore.read(spark, statePath)
          .select(col("stage_idx"), col("_u"), col("_t"))
      else Seq.empty[(Int, Long, Long)].toDF("stage_idx", "_u", "_t")
    val prev = st.select((col("stage_idx") + 1).as("stage_idx"),
      col("_u"), col("_t").as("_pt"))
    val gaps = st.join(prev, Seq("stage_idx", "_u"))
      .select(col("stage_idx"), col("_u"),
        (col("_t") - col("_pt")).cast("double").as("_gap"))
    EventOps.latencyFromGaps(spark, gaps, stages, k)
  }

  /** The funnel report off the current state — same schema as
    * [[EventOps.funnel]]: `(stage_idx, stage, n_users, conversion)`,
    * zero-user stages included. One users×stages-row aggregation; the
    * event history is never rescanned.
    */
  def report(spark: org.apache.spark.sql.SparkSession, statePath: String,
      stages: Seq[String]): DataFrame = {
    val hPath = new Path(statePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val counts =
      if (MarkerStateStore.hasState(fs, statePath))
        MarkerStateStore.read(spark, statePath)
          .groupBy(col("stage_idx")).agg(count(lit(1)).as("_n"))
      else Seq.empty[(Int, Long)].toDF("stage_idx", "_n")
    EventOps.funnelReport(spark, counts, stages)
  }
}
