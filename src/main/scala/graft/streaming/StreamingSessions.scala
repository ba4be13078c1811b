package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of [[EventOps.sessionize]] — incremental gap-based
  * sessionization: events arrive as a stream and a persisted per-user
  * session table carries every CLOSED session plus the one still-open
  * session per user; each micro-batch sessionizes only its own events
  * and merges against the single mutable row per user (the open
  * session), so per-batch work is O(batch + touched-bucket state),
  * never a rescan of event history.
  *
  * State layout: the funnel twin's hash-bucketed discipline —
  * `_b = pmod(hash(_u), buckets)` partitions, per-batch I/O touches
  * only the buckets containing the batch's users, `buckets` constant
  * for the lifetime of a state path. Rows:
  * `(_u, session_seq, s_start, s_end, n_events, sum_value, _applied)`
  * with sum_value UNROUNDED in state (rounding happens once in
  * [[report]] — merging already-rounded partials would diverge from
  * the batch flavor).
  *
  * Merge rule per user and batch: the batch's own sessions (computed
  * with the exact batch semantics: new session when
  * `gap > gapMinutes`, ordered by `(ts, event_id)`) renumber onto the
  * state's tail — if the batch's first event follows the user's open
  * session within the gap, they are ONE session (counts/sums add, end
  * extends); otherwise the open session closes and the batch's
  * sessions append with fresh ordinals. Only the open-session row is
  * ever rewritten; closed sessions are immutable.
  *
  * Exactness precondition (the twins' shared contract): batches
  * arrive in event-time order across batches (within a batch, order
  * is irrelevant — the batch sorts itself). Under it the state equals
  * [[EventOps.sessionize]] over the full history row for row, which
  * is what lets q272 replay the state under q24's DuckDB oracle. A
  * late event belonging before an already-closed session boundary is
  * not revisited — run the batch flavor over full history for the
  * exact answer.
  *
  * Delivery: `foreachBatch` is at-least-once, and unlike the funnel's
  * idempotent `least`-merge, session merging ADDS counts — so a
  * replayed batch must not double-apply. The per-bucket applied-batch
  * watermark (`_applied` on every state row — [[StreamingAggState]]'s
  * exactly-once discipline) is the guard: a replay skips buckets
  * whose watermark already covers its batch id. Bucket granularity is
  * correct because [[MarkerStateStore]] replaces the touched buckets
  * atomically at its one commit point, the marker PUT.
  */
object StreamingSessions {

  def start(
      stream: DataFrame, statePath: String, checkpoint: String,
      gapMinutes: Int = 30, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      valueCol: String = "value", buckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, gapMinutes, userCol,
          tsCol, idCol, valueCol, buckets)
      }
      .start()

  /** One micro-batch of [[start]] — public so batch replays (q272)
    * and tests drive the same state without a stream.
    */
  def processBatch(
      batch: DataFrame, batchId: Long, statePath: String,
      gapMinutes: Int = 30, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      valueCol: String = "value", buckets: Int = 64): Unit = {
    require(gapMinutes > 0, "gapMinutes must be positive")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = batch.sparkSession
    val gapSec = gapMinutes * 60L
    val ev = EventOps.normalizeTs(batch, tsCol)
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"), col(tsCol).cast("long").as("_ts"),
        col(idCol).as("_eid"), col(valueCol).cast("double").as("_v"))
    val fs = new Path(statePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    MarkerStateStore.heal(fs, statePath)
    // bounded driver materialization: ≤ `buckets` ints
    val touched = ev
      .select(pmod(hash(col("_u")), lit(buckets)).as("_b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
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
    val evT = ev.filter(
      pmod(hash(col("_u")), lit(buckets)).isin(bucketIds: _*))
    // ONE per-user merge pass (guide §2.4 — remove shuffles outright):
    // the previous shape paid a window + a (u, session) groupBy + a
    // per-user argmax + two joins + an anti-join, each a shuffle; now
    // the batch aggregates ONCE per user (events as one sorted array —
    // a whale user at production scale caps at one batch's events, the
    // same bound the window carried), the batch's own sessions fold
    // out of that array with the exact batch semantics (new session
    // when gap > gapMinutes, order (ts, event_id); sums accumulate
    // UNROUNDED in event order), and the state merge — open-session
    // extension, fresh-ordinal renumbering, null-correct sum add — is
    // one projection over the co-keyed join with the per-user open
    // session. Three exchanges per batch instead of ~seven; the merge
    // algebra is unchanged rule for rule.
    val sessT =
      "struct<bs:bigint,be:bigint,bn:bigint,sv:double,hv:boolean>"
    def newSess(e: Column): Column = struct(
      e.getField("_ts").as("bs"), e.getField("_ts").as("be"),
      lit(1L).as("bn"), coalesce(e.getField("_v"), lit(0.0)).as("sv"),
      e.getField("_v").isNotNull.as("hv"))
    def extSess(c: Column, e: Column): Column = struct(
      c.getField("bs").as("bs"), e.getField("_ts").as("be"),
      (c.getField("bn") + 1L).as("bn"),
      (c.getField("sv") + coalesce(e.getField("_v"), lit(0.0))).as("sv"),
      (c.getField("hv") || e.getField("_v").isNotNull).as("hv"))
    val evAgg = evT.groupBy(col("_u")).agg(
      sort_array(collect_list(struct(col("_ts"), col("_eid"),
        col("_v")))).as("_evs"))
    // fold the sorted events into (closed sessions, current session):
    // `sv` carries the sum over non-null values and `hv` whether any
    // value was non-null, so the session's sum_value = when(hv, sv) —
    // NULL for an all-null session, the batch flavor's SQL-sum rule
    val folded = aggregate(
      col("_evs"),
      struct(array().cast(s"array<$sessT>").as("done"),
        lit(null).cast(sessT).as("cur")),
      (acc, e) => {
        val cur = acc.getField("cur")
        val done = acc.getField("done")
        when(cur.isNull,
          struct(done.as("done"), newSess(e).as("cur")))
          .when(e.getField("_ts") - cur.getField("be") > gapSec,
            struct(concat(done, array(cur)).as("done"),
              newSess(e).as("cur")))
          .otherwise(struct(done.as("done"), extSess(cur, e).as("cur")))
      },
      acc => when(acc.getField("cur").isNull, acc.getField("done"))
        .otherwise(concat(acc.getField("done"),
          array(acc.getField("cur")))))
    val oldRows: DataFrame = old match {
      case Some(o) => o.filter(col("_b").isin(bucketIds: _*))
        .select(col("_u"), col("session_seq"), col("s_start"),
          col("s_end"), col("n_events"), col("sum_value"))
      case None => evT.select(col("_u"), lit(0L).as("session_seq"),
        col("_ts").as("s_start"), col("_ts").as("s_end"),
        lit(0L).as("n_events"), col("_v").as("sum_value")).limit(0)
    }
    // ONE mutable row per user: the open (= highest-seq) session
    val last = oldRows.groupBy(col("_u"))
      .agg(max(struct(col("session_seq"), col("s_end"), col("s_start"),
        col("n_events"), col("sum_value"))).as("_l"))
      .select(col("_u"), col("_l.session_seq").as("_lseq"),
        col("_l.s_end").as("_lend"), col("_l.s_start").as("_lstart"),
        col("_l.n_events").as("_ln"), col("_l.sum_value").as("_lv"))
    // batch users carry their session array; state-only users carry
    // null sessions (they contribute kept rows only) — full_outer so
    // both sides survive, co-keyed on _u with the two aggregations
    val perUser = evAgg.select(col("_u"), folded.as("_sess"))
      .join(last, Seq("_u"), "full_outer")
    val continues = col("_lseq").isNotNull &&
      element_at(col("_sess"), 1).getField("bs") - col("_lend") <= gapSec
    // rewritten-seq floor: old rows below it survive; the open row
    // (seq = _lseq) is rewritten exactly when the batch continues it
    val keepBelow = when(col("_lseq").isNull, lit(null).cast("long"))
      .when(col("_sess").isNull, col("_lseq") + 1L)
      .when(continues, col("_lseq"))
      .otherwise(col("_lseq") + 1L)
    val mr = perUser
      .select(col("_u"), col("_lseq"), col("_lend"), col("_lstart"),
        col("_ln"), col("_lv"), continues.as("_cont"),
        posexplode(col("_sess")).as(Seq("_ls", "_s")))
      .select(col("_u"),
        when(col("_lseq").isNull, col("_ls").cast("long"))
          .when(col("_cont"), col("_lseq") + col("_ls"))
          .otherwise(col("_lseq") + 1 + col("_ls")).as("session_seq"),
        when(col("_cont") && col("_ls") === 0,
          least(col("_lstart"), col("_s.bs")))
          .otherwise(col("_s.bs")).as("s_start"),
        when(col("_cont") && col("_ls") === 0,
          greatest(col("_lend"), col("_s.be")))
          .otherwise(col("_s.be")).as("s_end"),
        when(col("_cont") && col("_ls") === 0,
          col("_ln") + col("_s.bn"))
          .otherwise(col("_s.bn")).as("n_events"),
        when(col("_cont") && col("_ls") === 0,
          // null-correct add: SQL sum() over an all-null session is
          // NULL in the batch flavor, and must stay NULL across merges
          when(col("_lv").isNull && !col("_s.hv"),
            lit(null).cast("double"))
            .otherwise(coalesce(col("_lv"), lit(0.0)) +
              when(col("_s.hv"), col("_s.sv")).otherwise(lit(0.0))))
          .otherwise(when(col("_s.hv"), col("_s.sv"))
            .cast("double")).as("sum_value"))
    // old rows survive unless their (user, seq) was rewritten above —
    // every old user has a keepBelow row (last is total over oldRows),
    // so the join is never null for a surviving old row
    val kept = oldRows
      .join(perUser.select(col("_u"), keepBelow.as("_kb")), Seq("_u"))
      .filter(col("session_seq") < col("_kb"))
      .select(col("_u"), col("session_seq"), col("s_start"),
        col("s_end"), col("n_events"), col("sum_value"))
    val state = kept.unionByName(mr)
      .withColumn("_applied", lit(batchId))
      .withColumn("_b", pmod(hash(col("_u")), lit(buckets)))
    MarkerStateStore.swapBuckets(fs, statePath, state, mergeBuckets.toSeq)
  }

  /** All sessions in the state — the streaming answer to q24's batch
    * report, same schema `(user_id, session_seq, session_start,
    * session_end, n_events, sum_value)` with the 2-decimal rounding
    * applied HERE (state sums are unrounded so merges stay exact).
    */
  def report(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    if (!MarkerStateStore.hasState(fs, statePath))
      return Seq.empty[(Long, Long, Long, Long, Long, Double)]
        .toDF("user_id", "session_seq", "session_start", "session_end",
          "n_events", "sum_value")
    MarkerStateStore.read(spark, statePath)
      .select(col("_u").as("user_id"), col("session_seq"),
        col("s_start").as("session_start"),
        col("s_end").as("session_end"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
  }
}
