package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingSessions

/** The streaming sessionization twin's merge semantics, hand-checked
  * on the object-store-safe marker store: open-session extension
  * across batches, gap-closed renumbering, replay no-op via the
  * applied-batch watermark. (The q272 gate replays the twin under
  * q24's DuckDB oracle at data scale; this spec pins the mechanics.)
  */
class StreamingSessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, Long, Double)]) =
    rows.map { case (eid, u, ts, v) =>
      (eid, new java.sql.Timestamp(ts * 1000L), u, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("open session extends across batches, a gap opens a new " +
    "ordinal, replays are no-ops (marker store)") {
    val root = tmpDir("ssess")
    def batch(id: Long, rows: Seq[(Long, Long, Long, Double)]): Unit =
      StreamingSessions.processBatch(ev(rows), id, root,
        gapMinutes = 30, buckets = 4)
    // batch 0: u1 one session (two events), u2 one event
    batch(0L, Seq((1L, 1L, 0L, 1.0), (2L, 1L, 100L, 2.0),
      (3L, 2L, 50L, 5.0)))
    // batch 1: u1 event at t=1000 — within the 1800s gap of the open
    // session → MERGES; u2 event at t=5000 — gap > 1800 → new session
    batch(1L, Seq((4L, 1L, 1000L, 3.0), (5L, 2L, 5000L, 7.0)))
    // batch 1 REPLAYED verbatim: the watermark must make it a no-op
    batch(1L, Seq((4L, 1L, 1000L, 3.0), (5L, 2L, 5000L, 7.0)))
    // batch 2: u1 at t=10000 — new session ordinal 1
    batch(2L, Seq((6L, 1L, 10000L, 4.0)))
    val got = StreamingSessions.report(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(got.size == 4, got)
    assert(got((1L, 0L)) == ((0L, 1000L, 3L, 6.0)), got)   // merged
    assert(got((1L, 1L)) == ((10000L, 10000L, 1L, 4.0)), got)
    assert(got((2L, 0L)) == ((50L, 50L, 1L, 5.0)), got)
    assert(got((2L, 1L)) == ((5000L, 5000L, 1L, 7.0)), got)
    // and the incremental state equals the batch flavor over the
    // full history, row for row
    val all = ev(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 100L, 2.0),
      (3L, 2L, 50L, 5.0), (4L, 1L, 1000L, 3.0), (5L, 2L, 5000L, 7.0),
      (6L, 1L, 10000L, 4.0)))
    val batchFlavor = graft.streaming.EventOps.sessionize(all,
      gapMinutes = 30)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
    val twin = StreamingSessions.report(spark, root)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
    assert(twin.exceptAll(batchFlavor).isEmpty &&
      batchFlavor.exceptAll(twin).isEmpty,
      "twin diverged from the batch flavor")
  }

  test("a batch touching only SOME buckets leaves the others' " +
    "watermarks alone — later batches still apply there") {
    val root = tmpDir("ssessw")
    // u=0 and u=1 hash to (likely) different buckets of 4; drive one
    // user far ahead in batch ids, then the other must still accept
    // an older-id batch (per-BUCKET watermark, not global)
    StreamingSessions.processBatch(ev(Seq((1L, 0L, 0L, 1.0))), 5L,
      root, gapMinutes = 30, buckets = 4)
    StreamingSessions.processBatch(ev(Seq((2L, 1L, 0L, 2.0))), 3L,
      root, gapMinutes = 30, buckets = 4)
    val got = StreamingSessions.report(spark, root).collect()
    // both users landed iff their buckets differ (hash-dependent but
    // deterministic); assert on what the hash actually gives
    val b0 = ev(Seq((1L, 0L, 0L, 1.0)))
      .select(pmod(hash(col("user_id")), lit(4))).head().getInt(0)
    val b1 = ev(Seq((2L, 1L, 0L, 2.0)))
      .select(pmod(hash(col("user_id")), lit(4))).head().getInt(0)
    if (b0 != b1) assert(got.length == 2, got.mkString(","))
    else assert(got.length == 1, got.mkString(","))
  }
}
