package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Incremental
import graft.streaming.{MarkerStateStore, StreamingAggState}

/** The streaming materialized-aggregate twin (q244): incremental
  * parity with the batch flavor, exactly-once replay via the
  * per-bucket applied watermark, and bounded per-batch I/O
  * (untouched bucket files never rewritten).
  */
class StreamingAggStateSpec extends SparkSpec {
  import spark.implicits._

  private def mkBatch(rows: Seq[(String, Long, Long)]) =
    rows.toDF("g", "v", "d")

  private def canonReport(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("g").collect().map(_.toSeq.toList).toList

  test("N processBatch calls equal one batch aggState — incremental " +
    "parity, including the KMV sketch") {
    val all = (1L to 300L).map(i =>
      (if (i % 2 == 0) "a" else "b", i % 23, i % 97))
    val state = s"${tmpDir("aggstate-parity")}/state"
    all.grouped(80).zipWithIndex.foreach { case (chunk, i) =>
      StreamingAggState.processBatch(mkBatch(chunk.toSeq), i.toLong,
        state, "g", col("v"), col("d"), k = 64, buckets = 8)
    }
    val streamed = canonReport(
      StreamingAggState.report(spark, state, "g", 64))
    val whole = canonReport(Incremental.stateReport(
      Incremental.aggState(mkBatch(all), "g", col("v"), col("d"), 64),
      "g", 64))
    assert(streamed == whole)
  }

  test("report before any batch wrote state is EMPTY with the report " +
    "schema — missing path and empty/all-null batches alike, no " +
    "AnalysisException") {
    val state = s"${tmpDir("aggstate-empty")}/state"
    val r0 = StreamingAggState.report(spark, state, "g", 16)
    assert(r0.count() == 0L)
    assert(r0.columns.toSeq == Seq("g", "n_rows", "sum_v", "min_v",
      "max_v", "mean_micro", "k_actual", "kth", "est_distinct"))
    // an all-null-group batch writes nothing either
    StreamingAggState.processBatch(
      Seq((Option.empty[String], 1L, 1L)).toDF("g", "v", "d"), 0L,
      state, "g", col("v"), col("d"), k = 16, buckets = 4)
    assert(StreamingAggState.report(spark, state, "g", 16).count() == 0L)
  }

  test("non-string group column: the empty (first-run) report is " +
    "schema-identical to the populated one via groupType") {
    import org.apache.spark.sql.types.LongType
    val state = s"${tmpDir("aggstate-gtype")}/state"
    val empty = StreamingAggState.report(spark, state, "g", 16,
      groupType = LongType)
    StreamingAggState.processBatch(
      Seq((42L, 3L, 1L), (7L, 1L, 2L)).toDF("g", "v", "d"), 0L,
      state, "g", col("v"), col("d"), k = 16, buckets = 4)
    val full = StreamingAggState.report(spark, state, "g", 16,
      groupType = LongType)
    assert(empty.schema == full.schema,
      s"${empty.schema} != ${full.schema}")
    // downstream unions work across the first batch boundary
    assert(empty.unionByName(full).count() == 2L)
  }

  test("replaying a batch id is a no-op — the per-bucket applied " +
    "watermark makes count/sum merging exactly-once") {
    val state = s"${tmpDir("aggstate-replay")}/state"
    val b0 = mkBatch(Seq(("a", 5L, 1L), ("b", 7L, 2L)))
    StreamingAggState.processBatch(b0, 0L, state, "g", col("v"),
      col("d"), k = 16, buckets = 4)
    val before = canonReport(
      StreamingAggState.report(spark, state, "g", 16))
    StreamingAggState.processBatch(b0, 0L, state, "g", col("v"),
      col("d"), k = 16, buckets = 4) // at-least-once replay
    val after = canonReport(
      StreamingAggState.report(spark, state, "g", 16))
    assert(after == before)
    // and a NEW batch id still merges
    StreamingAggState.processBatch(b0, 1L, state, "g", col("v"),
      col("d"), k = 16, buckets = 4)
    val merged = StreamingAggState.report(spark, state, "g", 16)
      .filter(col("g") === "a").head()
    assert(merged.getAs[Long]("n_rows") == 2L)
  }

  test("a batch touching one group leaves other buckets' files " +
    "byte-identical — per-batch I/O is bounded by touched buckets") {
    val state = s"${tmpDir("aggstate-touch")}/state"
    // seed both groups (two distinct hash buckets at buckets=64)
    StreamingAggState.processBatch(
      mkBatch(Seq(("alpha", 1L, 1L), ("beta", 2L, 2L))), 0L, state,
      "g", col("v"), col("d"), k = 16, buckets = 64)
    val betaBucket = spark.createDataset(Seq("beta")).toDF("g")
      .select(pmod(hash(col("g")), lit(64)).as("b")).head().getInt(0)
    val alphaBucket = spark.createDataset(Seq("alpha")).toDF("g")
      .select(pmod(hash(col("g")), lit(64)).as("b")).head().getInt(0)
    assert(betaBucket != alphaBucket) // fixture sanity
    // the untouched bucket's live generation directory
    def betaDir() = {
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gen = MarkerStateStore.readMarker(fs, state)
        .buckets(betaBucket).head
      Paths.get(s"$state/gen=$gen/_b=$betaBucket")
    }
    def betaFiles() = Files.list(betaDir())
      .toArray.map(_.toString).sorted.map { p =>
        p -> Files.getLastModifiedTime(Paths.get(p)).toMillis
      }.toList
    val before = betaFiles()
    StreamingAggState.processBatch(
      mkBatch(Seq(("alpha", 9L, 3L))), 1L, state, "g", col("v"),
      col("d"), k = 16, buckets = 64)
    assert(betaFiles() == before, "untouched bucket was rewritten")
  }

  test("start() drives the same state from a real stream") {
    val state = s"${tmpDir("aggstate-stream")}/state"
    val ckpt = tmpDir("aggstate-ckpt")
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    in.addData(("a", 3L, 1L), ("b", 4L, 2L), ("a", 5L, 3L))
    val q = StreamingAggState.start(
      in.toDF().toDF("g", "v", "d"), state, ckpt, "g", col("v"),
      col("d"), k = 16, buckets = 4,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val r = StreamingAggState.report(spark, state, "g", 16)
      .orderBy("g").collect()
    assert(r.map(_.getAs[Long]("n_rows")).toSeq == Seq(2L, 1L))
    assert(r.map(_.getAs[Long]("sum_v")).toSeq == Seq(8L, 4L))
  }
}
