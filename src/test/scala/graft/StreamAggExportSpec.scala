package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Export
import graft.streaming.EventOps

/** Structured-Streaming twin of the tumbling aggregation (watermark +
  * append mode over a MemoryStream) and the CSV export sink round-trip.
  */
class StreamAggExportSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling agg emits closed windows under the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")

    val query = EventOps.tumblingAggStream(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      mem.addData(
        (7L, ts("2024-01-01 10:00:00"), 1.0),
        (7L, ts("2024-01-01 10:30:00"), 2.0),
        (8L, ts("2024-01-01 10:45:00"), 4.0))
      query.processAllAvailable()
      // advance event time far past the watermark so hour 10 closes
      mem.addData((7L, ts("2024-01-01 15:00:00"), 8.0))
      query.processAllAvailable()

      val rows = spark.table("tumbling").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("window_start")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
      val h10 = ts("2024-01-01 10:00:00").getTime / 1000
      assert(rows((7L, h10)) == (2L, 3.0))
      assert(rows((8L, h10)) == (1L, 4.0))
    } finally query.stop()
  }

  test("stateful streaming sessionization closes sessions on gap and timeout") {
    implicit val sq = spark.sqlContext
    import EventOps.SessionEvent
    val mem = MemoryStream[SessionEvent]
    val query = EventOps.sessionizeStream(mem.toDS(), gapMinutes = 30,
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two events 10 min apart (same session), then a 2-hour jump: the
      // jump event both closes the first session via the gap rule and
      // advances the watermark
      mem.addData(
        SessionEvent(7L, ts("2024-01-01 10:00:00"), 1.0),
        SessionEvent(7L, ts("2024-01-01 10:10:00"), 2.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(7L, ts("2024-01-01 12:30:00"), 4.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(8L, ts("2024-01-01 16:00:00"), 8.0))
      query.processAllAvailable()

      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"))
          -> (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
      val s1 = ts("2024-01-01 10:00:00").getTime / 1000
      assert(rows((7L, s1)) == (2L, 3.0)) // closed by the gap
      // the 12:30 session closed by event-time timeout once the
      // watermark (16:00 - 10min) passed its end + gap
      val s2 = ts("2024-01-01 12:30:00").getTime / 1000
      assert(rows((7L, s2)) == (1L, 4.0))
    } finally query.stop()
  }

  test("stream-stream interval join bounds state via watermark + range") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = graft.streaming.EventOps.intervalJoinStream(
      clicks.toDF().toDF("user_id", "ts", "tag"),
      purchases.toDF().toDF("user_id", "ts", "amount"),
      lookback = "1 hour", watermark = "2 hours")
    val query = joined.select("tag", "r_amount")
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    try {
      purchases.addData(
        (7L, ts("2024-01-01 09:30:00"), 100.0), // in lookback of c1
        (7L, ts("2024-01-01 07:00:00"), 50.0),  // too old for c1
        (8L, ts("2024-01-01 09:45:00"), 75.0))  // other user
      clicks.addData((7L, ts("2024-01-01 10:00:00"), "c1"))
      query.processAllAvailable()
      val rows = spark.table("ivjoin").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSet
      assert(rows == Set("c1" -> 100.0))
    } finally query.stop()
  }

  test("streaming dedup drops repeats within the watermark horizon") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = graft.streaming.EventOps.dedupStream(
      mem.toDF().toDF("event_id", "ts", "payload"), Seq("event_id"))
    val query = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "first"),
        (1L, ts("2024-01-01 10:05:00"), "retry"), // duplicate delivery
        (2L, ts("2024-01-01 10:10:00"), "other"))
      query.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:20:00"), "late retry"))
      query.processAllAvailable()
      val rows = spark.table("dedup").collect()
        .map(r => r.getAs[Long]("event_id")).toSeq.sorted
      assert(rows == Seq(1L, 2L)) // each key delivered exactly once
    } finally query.stop()
  }

  test("streaming near-dedup drops docs matching the static reference") {
    implicit val sq = spark.sqlContext
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "an entirely unrelated reference document about engines"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val kept = graft.text.Dedup.dedupNearAgainstStream(
      mem.toDF().toDF("doc_id", "text"), reference, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    val query = kept.writeStream.format("memory").queryName("neardedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"), // dup of 100
        (2L, "completely novel streaming content with fresh words"))
      query.processAllAvailable()
      mem.addData(
        (3L, "the quick brown fox jumps over the lazy dog tonight")) // near dup
      query.processAllAvailable()
      val rows = spark.table("neardedup").collect()
        .map(_.getAs[Long]("doc_id")).toSeq.sorted
      // 1 exact-dups 100; 3 near-dups it (shares most 3-shingles); 2 kept
      assert(rows == Seq(2L))
    } finally query.stop()
  }

  test("streaming bloom decontamination: stateless join-free filter " +
    "drops gram-sharing docs, keeps clean ones") {
    implicit val sq = spark.sqlContext
    val eval = Seq(
      (900L, "the secret benchmark answer is forty two exactly"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val kept = graft.text.Dedup.decontaminateStreamBloom(
      mem.toDF().toDF("doc_id", "text"), eval, "text", "doc_id",
      k = 3, fpp = 0.001, tokenizer = graft.text.TextOps.tokensSimple)
    val query = kept.writeStream.format("memory").queryName("bloomdecon")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "a training doc leaking the secret benchmark answer here"),
        (2L, "a perfectly clean document about unrelated topics"),
        (3L, "short doc"), // fewer tokens than k → no grams → kept
        (4L, null))        // null text → no grams → kept (batch parity)
      query.processAllAvailable()
      val rows = spark.table("bloomdecon").collect()
        .map(_.getAs[Long]("doc_id")).toSeq.sorted
      assert(rows == Seq(2L, 3L, 4L))
    } finally query.stop()
  }

  test("streaming near-dedup reads a persisted signed index (no " +
    "re-shingling) across micro-batches") {
    implicit val sq = spark.sqlContext
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "an entirely unrelated reference document about engines"))
      .toDF("doc_id", "text")
    val path = tmpDir("streamidx") + "/idx"
    graft.text.Dedup.writeSignedIndex(reference, path, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    val idx = graft.text.Dedup.readSignedIndex(spark, path)
    // the static side is (id, sig, buckets) parquet — no text column
    // exists for a micro-batch to re-shingle; each batch pays a scan of
    // the signed rows, not a re-sign of the reference corpus
    assert(!idx.columns.contains("text"))
    val mem = MemoryStream[(Long, String)]
    val kept = graft.text.Dedup.dedupNearAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), idx, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    val query = kept.writeStream.format("memory").queryName("idxdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"), // dup
        (2L, "completely novel streaming content with fresh words"))
      query.processAllAvailable()
      mem.addData( // second micro-batch re-reads the index, not the text
        (3L, "the quick brown fox jumps over the lazy dog tonight"))
      query.processAllAvailable()
      val rows = spark.table("idxdedup").collect()
        .map(_.getAs[Long]("doc_id")).toSeq.sorted
      assert(rows == Seq(2L))
    } finally query.stop()
  }

  test("foreachBatch near-dedup equi-joins a lake-scale index (no " +
    "broadcast required)") {
    implicit val sq = spark.sqlContext
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "an entirely unrelated reference document about engines"))
      .toDF("doc_id", "text")
    val path = tmpDir("batchidx") + "/idx"
    graft.text.Dedup.writeSignedIndex(reference, path, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // broadcast disabled: the dedup must survive as a shuffled equi-join
    // — the shape that works when the index outgrows executor memory
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val query = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val idx = graft.text.Dedup.readSignedIndex(batch.sparkSession, path)
        got ++= graft.text.Dedup.dedupNearAgainstIndexBatch(
          batch, idx, "text", "doc_id",
          tokenizer = graft.text.TextOps.tokensSimple)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"), // dup
        (2L, "completely novel streaming content with fresh words"))
      query.processAllAvailable()
      mem.addData(
        (3L, "the quick brown fox jumps over the lazy dog tonight"))
      query.processAllAvailable()
      assert(got.sorted.toSeq == Seq(2L))
    } finally {
      query.stop()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("StreamingDedup: second micro-batch drops a near-dup of a " +
    "FIRST-batch doc (survivor signatures grow the index)") {
    implicit val sq = spark.sqlContext
    val base = tmpDir("sdedup")
    val idxPath = s"$base/idx"
    val outPath = s"$base/out"
    val ckpt = s"$base/ckpt"
    val mem = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), idxPath, outPath, ckpt,
      "text", "doc_id", tokenizer = graft.text.TextOps.tokensSimple,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // batch 1 bootstraps the index (no prior index exists) and also
      // near-dedups WITHIN the batch: 11 duplicates 10 → one survivor
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "the quick brown fox jumps over the lazy dog today"),
        (12L, "an entirely unrelated document about spark engines"))
      query.processAllAvailable()
      // batch 2: 20 near-dups a FIRST-batch doc (cross-batch — only the
      // index append makes this visible); 21 is novel
      mem.addData(
        (20L, "the quick brown fox jumps over the lazy dog tonight"),
        (21L, "completely novel second-batch content with fresh words"))
      query.processAllAvailable()
      val out = spark.read.parquet(outPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out == Set(10L, 12L, 21L), s"survivors: $out")
      // the index holds exactly the survivors' signatures
      val idx = graft.text.Dedup.readSignedIndex(spark, idxPath)
      assert(idx.select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(10L, 12L, 21L))
      assert(idx.columns.toSet == Set("doc_id", "sig", "buckets"))
    } finally query.stop()
    // CRASH-REPLAY, exactly-once END TO END: run batch 2 standalone,
    // reconstruct the crash window between the corpus write and the
    // index commit (old marker restored, new one deleted — the
    // per-batch outPath dir and the orphan index segment remain),
    // then replay — the corpus must hold each survivor ONCE and the
    // index must match it
    val batch2 = Seq(
      (30L, "a third wave document with brand new vocabulary"))
      .toDF("doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def newestMarker() = fs.listStatus(
      new org.apache.hadoop.fs.Path(idxPath)).map(_.getPath)
      .filter(_.getName.startsWith("_live.")).maxBy(_.getName)
    val rulingBefore = newestMarker()
    val rulingBytes = {
      val in = fs.open(rulingBefore)
      try { val b = new Array[Byte](4096)
        val k = in.read(b); b.take(k) } finally in.close()
    }
    graft.streaming.StreamingDedup.processBatch(batch2, 2L, idxPath,
      outPath, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    assert(fs.delete(newestMarker(), false)) // "the PUT never landed"
    val out2 = fs.create(rulingBefore, false)
    out2.write(rulingBytes); out2.close()
    graft.streaming.StreamingDedup.processBatch(batch2, 2L, idxPath,
      outPath, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple) // replay
    val corpus = spark.read.parquet(outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(corpus.sorted == Seq(10L, 12L, 21L, 30L),
      s"corpus must hold each survivor exactly once: $corpus")
    assert(graft.text.Dedup.readSignedIndex(spark, idxPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 12L, 21L, 30L))
  }

  test("StreamingBm25: micro-batches build an index that serves " +
    "row-identically to the batch-built index; replays are no-ops; " +
    "a streamed delete drops its doc from serving") {
    implicit val sq = spark.sqlContext
    val base = tmpDir("sbm25")
    val idxPath = s"$base/idx"
    val docs = Seq(
      (1L, "spark shuffles data between executors during wide joins"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "window functions rank rows within partitions in spark"),
      (4L, "pasta recipes with garlic and fresh basil leaves"),
      (5L, "broadcast joins avoid the shuffle for small dimensions"))
    val mem = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingBm25.start(
      mem.toDF().toDF("doc_id", "text"), idxPath, s"$base/ckpt",
      "text", "doc_id", buckets = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // three micro-batches: bootstrap, then two appends
      mem.addData(docs(0), docs(1))
      query.processAllAvailable()
      mem.addData(docs(2), docs(3))
      query.processAllAvailable()
      mem.addData(docs(4))
      query.processAllAvailable()
    } finally query.stop()
    val queries = Seq((1L, "spark"), (1L, "joins"), (2L, "the"))
      .toDF("query_id", "term")
    val served = graft.text.Bm25.topKFromIndex(spark, idxPath,
      queries, "query_id", "doc_id")
    // row-identical to the index built in ONE batch over the union
    val batchIdx = s"$base/batchidx"
    graft.text.Bm25.writeBm25Index(docs.toDF("doc_id", "text"),
      "text", "doc_id", batchIdx, buckets = 8)
    val oneShot = graft.text.Bm25.topKFromIndex(spark, batchIdx,
      queries, "query_id", "doc_id").collect().toSet
    assert(served.collect().toSet == oneShot && oneShot.nonEmpty)
    // a replayed micro-batch is a no-op (its id is recorded in the
    // committed marker), so postings/df/stats stay exact
    graft.streaming.StreamingBm25.processBatch(
      Seq(docs(4)).toDF("doc_id", "text"), 2L, idxPath,
      "text", "doc_id", buckets = 8)
    assert(graft.text.Bm25.topKFromIndex(spark, idxPath, queries,
      "query_id", "doc_id").collect().toSet == oneShot)
    assert(graft.text.Bm25.indexStats(spark, idxPath)
      .head().getLong(0) == 5L)
    // a streamed delete tombstones doc 1 out of serving
    val delMem = MemoryStream[Long]
    val delQuery = graft.streaming.StreamingBm25.startDeletes(
      delMem.toDF().toDF("doc_id"), idxPath, s"$base/delckpt",
      "doc_id",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      delMem.addData(1L)
      delQuery.processAllAvailable()
    } finally delQuery.stop()
    val after = graft.text.Bm25.topKFromIndex(spark, idxPath,
      queries, "query_id", "doc_id").collect()
    assert(!after.exists(_.getAs[Long]("doc_id") == 1L))
    val survivors = docs.toDF("doc_id", "text")
      .filter(col("doc_id") =!= 1L)
    val overSurvivors = graft.text.Bm25.search(survivors, "text",
      "doc_id", queries, "query_id").collect().toSet
    assert(after.toSet == overSurvivors)
    // CRASH-REPLAY, the exactly-once case: simulate a crash BETWEEN
    // the append's segment write and its marker PUT by deleting the
    // newest marker (the segment dirs stay as unreferenced orphans),
    // then replay the batch — serving must equal the batch-built
    // index over the same logical corpus, not double the batch's
    // postings (pre-round-13, a replayed plain append did exactly
    // that)
    val extraDoc = Seq((6L, "spark joins the extra shuffled table"))
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def newestMarker() = fs.listStatus(
      new org.apache.hadoop.fs.Path(idxPath)).map(_.getPath)
      .filter(_.getName.startsWith("_live.")).maxBy(_.getName)
    // snapshot the ruling marker, run the append, then delete the new
    // marker and restore the old one — EXACTLY the on-disk state of a
    // crash between the segment write and the marker PUT (the old
    // marker still rules, the segment dirs are unreferenced orphans)
    val rulingBefore = newestMarker()
    val rulingBytes = {
      val in = fs.open(rulingBefore)
      try { val b = new Array[Byte](4096)
        val n = in.read(b); b.take(n) } finally in.close()
    }
    graft.streaming.StreamingBm25.processBatch(
      extraDoc.toDF("doc_id", "text"), 3L, idxPath,
      "text", "doc_id", buckets = 8)
    assert(fs.delete(newestMarker(), false)) // "the PUT never landed"
    val out = fs.create(rulingBefore, false)
    out.write(rulingBytes); out.close()
    graft.streaming.StreamingBm25.processBatch(
      extraDoc.toDF("doc_id", "text"), 3L, idxPath,
      "text", "doc_id", buckets = 8) // replay lands exactly once
    val batchIdx6 = s"$base/batchidx6"
    graft.text.Bm25.writeBm25Index(
      (survivors.collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq ++ extraDoc).toDF("doc_id", "text"),
      "text", "doc_id", batchIdx6, buckets = 8)
    assert(graft.text.Bm25.topKFromIndex(spark, idxPath, queries,
      "query_id", "doc_id").collect().toSet ==
      graft.text.Bm25.topKFromIndex(spark, batchIdx6, queries,
        "query_id", "doc_id").collect().toSet)
    assert(graft.text.Bm25.indexStats(spark, idxPath)
      .head().getLong(0) == 5L) // 5 survivors + 1 new - 0 doubles
  }

  test("auto-compaction (maxSegments) bounds the streamed index's " +
    "outstanding segments; serving stays identical to batch-built " +
    "and replays stay exactly-once across a mid-stream compaction") {
    val base = tmpDir("autocompact")
    val idx = s"$base/idx"
    val docsAll = (1L to 12L).map(i =>
      (i, s"stream doc $i spark words tok$i"))
    def segCount(): Int = {
      val d = new java.io.File(s"$idx/postings_batches")
      if (d.isDirectory)
        d.listFiles().count(_.getName.startsWith("batch=")) else 0
    }
    docsAll.grouped(2).zipWithIndex.foreach { case (g, i) =>
      graft.streaming.StreamingBm25.processBatch(
        g.toDF("doc_id", "text"), i.toLong, idx, "text", "doc_id",
        buckets = 8, maxSegments = 2)
      assert(segCount() <= 2,
        s"segment count ${segCount()} past the bound after batch $i")
    }
    // replay of the last batch AFTER a compaction: still a no-op
    graft.streaming.StreamingBm25.processBatch(
      docsAll.takeRight(2).toDF("doc_id", "text"), 5L, idx, "text",
      "doc_id", buckets = 8, maxSegments = 2)
    // serving = the one-shot index over the union, stats exact
    val queries = Seq((1L, "spark"), (2L, "tok7"))
      .toDF("query_id", "term")
    val batchIdx = s"$base/batchidx"
    graft.text.Bm25.writeBm25Index(docsAll.toDF("doc_id", "text"),
      "text", "doc_id", batchIdx, buckets = 8)
    assert(graft.text.Bm25.topKFromIndex(spark, idx, queries,
      "query_id", "doc_id").collect().toSet ==
      graft.text.Bm25.topKFromIndex(spark, batchIdx, queries,
        "query_id", "doc_id").collect().toSet)
    assert(graft.text.Bm25.indexStats(spark, idx)
      .head().getLong(0) == 12L)
  }

  test("StreamingDocPool: bootstrap + upserts are exactly-once — " +
    "replays skip, a crash between stage and marker PUT lands once") {
    val base = tmpDir("streamdocpool")
    val pool = s"$base/pool"
    // retain=2 keeps the superseded snapshot on disk, so deleting the
    // newest marker below reconstructs the pre-PUT crash state
    // EXACTLY (staged generation unreferenced, previous snapshot's
    // directories intact)
    def drive(batch: Seq[(Long, String)], id: Long): Unit =
      graft.streaming.StreamingDocPool.processBatch(
        batch.toDF("doc_id", "text"), id, pool, "doc_id", buckets = 4,
        retain = 2)
    drive((1L to 4L).map(i => (i, s"v1 $i")), 0L) // bootstrap
    drive(Seq((3L, "v2 3"), (5L, "v1 5")), 1L)    // upsert
    def poolMap(): Map[Long, String] =
      graft.operators.DocPool.read(spark, pool)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(poolMap() == Map(1L -> "v1 1", 2L -> "v1 2", 3L -> "v2 3",
      4L -> "v1 4", 5L -> "v1 5"))
    // replay of a committed batch: the sid in the marker makes it a
    // no-op — exactly-once skip
    drive(Seq((3L, "v2 3"), (5L, "v1 5")), 1L)
    assert(poolMap().size == 5)
    assert(graft.operators.DocPool
      .lastAppliedStreamBatch(spark, pool) == 1L)
    // CRASH WINDOW: batch 2 stages + commits; delete its marker —
    // the on-disk state of a crash before the PUT — then replay
    val fs = new org.apache.hadoop.fs.Path(pool)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def markers() = fs.listStatus(
      new org.apache.hadoop.fs.Path(pool)).map(_.getPath)
      .filter(_.getName.startsWith("_doc_marker.")).sortBy(_.getName)
    drive(Seq((6L, "v1 6"), (1L, "v2 1")), 2L)
    assert(fs.delete(markers().last, false)) // "the PUT never landed"
    assert(graft.operators.DocPool
      .lastAppliedStreamBatch(spark, pool) == 1L) // rolled back
    drive(Seq((6L, "v1 6"), (1L, "v2 1")), 2L) // replay lands ONCE
    assert(poolMap() == Map(1L -> "v2 1", 2L -> "v1 2", 3L -> "v2 3",
      4L -> "v1 4", 5L -> "v1 5", 6L -> "v1 6"))
    assert(graft.operators.DocPool
      .lastAppliedStreamBatch(spark, pool) == 2L)
  }

  test("stream bootstrap guard: a marker-less index tree (legacy or " +
    "foreign layout) throws instead of being silently deleted; a " +
    "crashed bootstrap (intent file present) re-runs idempotently") {
    val base = tmpDir("bootguard")
    val doc = Seq((1L, "spark shuffles data across executors"))
      .toDF("doc_id", "text")
    // LEGACY shape: content at the path but neither a _live marker
    // nor a _bootstrap intent (e.g. an index created before marker
    // commits existed). The old 'generations.isEmpty' bootstrap
    // check read this as "nothing ever landed" and deleted it all.
    val legacy = s"$base/legacy"
    doc.write.parquet(s"$legacy/meta")
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamingBm25.processBatch(doc, 0L, legacy,
        "text", "doc_id", buckets = 8)
    }
    assert(ex.getMessage.contains("legacy or foreign"))
    // nothing was deleted
    assert(spark.read.parquet(s"$legacy/meta").count() == 1L)
    // same guard on the signed-index twin
    val legacySg = s"$base/legacysg"
    doc.write.parquet(s"$legacySg/rows")
    intercept[IllegalStateException] {
      graft.streaming.StreamingDedup.processBatch(doc, 0L, legacySg,
        s"$base/sgout", "text", "doc_id")
    }
    // ...and the ANN twin
    val legacyAnn = s"$base/legacyann"
    doc.write.parquet(s"$legacyAnn/vectors")
    intercept[IllegalStateException] {
      graft.streaming.StreamingAnn.processBatch(
        Seq((1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"), 0L,
        legacyAnn, "vec_id", "embedding", planes = 2, dim = 2)
    }
    // CRASHED BOOTSTRAP: the intent file is on disk (the create
    // writes it before any data and clears it only AFTER the marker
    // PUT), the marker never landed — the replay re-runs the create
    // over the partial tree and the batch lands exactly once
    val crashed = s"$base/crashed"
    val fs = new org.apache.hadoop.fs.Path(crashed)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(crashed))
    fs.create(new org.apache.hadoop.fs.Path(crashed, "_bootstrap"),
      true).close()
    doc.write.parquet(s"$crashed/meta") // partial, no marker
    graft.streaming.StreamingBm25.processBatch(doc, 0L, crashed,
      "text", "doc_id", buckets = 8)
    assert(graft.text.Bm25.bm25Marker.listGenerations(spark, crashed).nonEmpty)
    assert(graft.text.Bm25.bm25IndexIds(spark, crashed, "doc_id")
      .count() == 1L)
    // a completed create clears the intent file
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(crashed, "_bootstrap")))
  }

  test("StreamingAnn: micro-batches build an index that serves " +
    "identically to the one-shot build; replays are no-ops; a " +
    "streamed delete tombstones its vector") {
    import graft.sim.SimSearch
    implicit val sq = spark.sqlContext
    val base = tmpDir("sann")
    val idxPath = s"$base/idx"
    val rnd = new scala.util.Random(41)
    val emb = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val query = graft.streaming.StreamingAnn.start(
      mem.toDF().toDF("vec_id", "embedding"), idxPath, s"$base/ckpt",
      "vec_id", "embedding", planes = 4, dim = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData(emb.take(30): _*)
      query.processAllAvailable()
      mem.addData(emb.drop(30): _*)
      query.processAllAvailable()
    } finally query.stop()
    val all = emb.toDF("vec_id", "embedding").localCheckpoint()
    val queries = all.filter(col("vec_id") < 3)
    def serve(): Set[(Long, Int, Long)] =
      SimSearch.annTopKFromIndex(SimSearch.readAnnIndex(spark, idxPath),
        queries, "vec_id", "embedding", k = 3, planes = 4, dim = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSet
    val inline = SimSearch.annTopK(all, "vec_id", "embedding",
      col("vec_id") < 3, k = 3, planes = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(serve() == inline && inline.nonEmpty)
    // a replayed micro-batch is a no-op (its id is recorded in the
    // committed marker)
    graft.streaming.StreamingAnn.processBatch(
      emb.drop(30).toDF("vec_id", "embedding"), 1L, idxPath,
      "vec_id", "embedding", planes = 4, dim = 8)
    assert(SimSearch.readAnnIndex(spark, idxPath).count() == 60L)
    // a streamed delete tombstones its vector out of serving
    val delMem = MemoryStream[Long]
    val delQuery = graft.streaming.StreamingAnn.startDeletes(
      delMem.toDF().toDF("vec_id"), idxPath, s"$base/delckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      delMem.addData(7L)
      delQuery.processAllAvailable()
    } finally delQuery.stop()
    assert(SimSearch.readAnnIndex(spark, idxPath).count() == 59L)
    assert(!serve().exists(_._3 == 7L))
    // CRASH-REPLAY, the exactly-once case: append a batch, delete its
    // marker ("the PUT never landed" — the segment dir stays as an
    // unreferenced orphan), replay — the batch must land exactly once
    val extra = Seq.tabulate(3)(i =>
      (100L + i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def newestMarker() = fs.listStatus(
      new org.apache.hadoop.fs.Path(idxPath)).map(_.getPath)
      .filter(_.getName.startsWith("_live.")).maxBy(_.getName)
    // reconstruct the exact crash window: old marker still ruling,
    // the appended segment dirs unreferenced orphans (see the
    // StreamingBm25 case above)
    val rulingBefore = newestMarker()
    val rulingBytes = {
      val in = fs.open(rulingBefore)
      try { val b = new Array[Byte](4096)
        val n = in.read(b); b.take(n) } finally in.close()
    }
    graft.streaming.StreamingAnn.processBatch(
      extra.toDF("vec_id", "embedding"), 2L, idxPath,
      "vec_id", "embedding", planes = 4, dim = 8)
    assert(fs.delete(newestMarker(), false)) // "the PUT never landed"
    val out = fs.create(rulingBefore, false)
    out.write(rulingBytes); out.close()
    assert(SimSearch.readAnnIndex(spark, idxPath).count() == 59L,
      "unreferenced orphan segment must be invisible to readers")
    graft.streaming.StreamingAnn.processBatch(
      extra.toDF("vec_id", "embedding"), 2L, idxPath,
      "vec_id", "embedding", planes = 4, dim = 8)
    assert(SimSearch.readAnnIndex(spark, idxPath).count() == 62L,
      "crash-replayed batch must land exactly once, not twice")
  }

  test("StreamingPq: first batch trains, later batches append under " +
    "the frozen model identically to batch appends; replays are " +
    "no-ops via the id dedupe; a streamed delete tombstones") {
    import graft.sim.SimSearch
    implicit val sq = spark.sqlContext
    val base = tmpDir("spq")
    val idxPath = s"$base/idx"
    val rnd = new scala.util.Random(53)
    val emb = Seq.tabulate(60)(i => (i.toLong,
      Seq.fill(8)(rnd.nextFloat() * 2 - 1), (i % 3).toLong))
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val query = graft.streaming.StreamingPq.start(
      mem.toDF().toDF("vec_id", "embedding", "cell"), idxPath,
      s"$base/ckpt", "vec_id", "embedding", "cell", m = 2, k = 4,
      iters = 2, dim = 8, bucketWidth = 128L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData(emb.take(30): _*)
      query.processAllAvailable()
      mem.addData(emb.drop(30): _*)
      query.processAllAvailable()
    } finally query.stop()
    // the twin built with the SAME batch split through the batch API
    val all = emb.toDF("vec_id", "embedding", "cell").localCheckpoint()
    val twinPath = s"$base/twin"
    SimSearch.writePqIndex(all.filter(col("vec_id") < 30), twinPath,
      "vec_id", "embedding", "cell", m = 2, k = 4, iters = 2, dim = 8,
      bucketWidth = 128L)
    SimSearch.appendToPqIndex(all.filter(col("vec_id") >= 30),
      twinPath, "vec_id", "embedding", m = 2, dim = 8,
      cellCol = Some("cell"))
    val queries = all.filter(col("vec_id") < 3)
    def serve(path: String): Set[(Long, Long)] = {
      val idx = SimSearch.readPqIndex(spark, path)
      SimSearch.rerankExact(SimSearch.ivfPqTopK(idx.codes, idx.codebooks,
        idx.centroids, queries, "vec_id", "embedding", "vec_id", m = 2,
        k = 20, nprobe = 2, dim = 8, frame = idx.frame), queries, all,
        "vec_id", "embedding", "vec_id", k = 5)
        .select("qid", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val streamed = serve(idxPath)
    assert(streamed == serve(twinPath) && streamed.nonEmpty)
    // replaying a batch is a no-op: the id dedupe rejects it
    graft.streaming.StreamingPq.processBatch(
      emb.drop(30).toDF("vec_id", "embedding", "cell"), idxPath,
      "vec_id", "embedding", "cell", m = 2, k = 4, iters = 2, dim = 8,
      bucketWidth = 128L)
    assert(serve(idxPath) == streamed)
    // a streamed delete tombstones its vector out of serving
    val delMem = MemoryStream[Long]
    val delQuery = graft.streaming.StreamingPq.startDeletes(
      delMem.toDF().toDF("vec_id"), idxPath, s"$base/delckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val victim = streamed.find(_._2 >= 3L).get._2
      delMem.addData(victim)
      delQuery.processAllAvailable()
      assert(!serve(idxPath).exists(_._2 == victim))
    } finally delQuery.stop()
  }

  test("StreamingFunnel: incremental state matches the batch funnel " +
    "when events arrive in order; replays are idempotent") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val statePath = s"${tmpDir("sfunnel")}/state"
    val stages = Seq("view", "click", "purchase")
    // batch 1: u1 view+click (IN-batch conversion), u2 view only
    val b1 = Seq(
      (1L, t(1), 1L, "view", 0.0, "{}"),
      (2L, t(2), 1L, "click", 0.0, "{}"),
      (3L, t(5), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 2: u1 purchases (CROSS-batch conversion off persisted
    // state), u2 clicks, u3 clicks without ever viewing
    val b2 = Seq(
      (4L, t(10), 1L, "purchase", 0.0, "{}"),
      (5L, t(11), 2L, "click", 0.0, "{}"),
      (6L, t(12), 3L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamingFunnel.processBatch(b1, statePath, stages)
    graft.streaming.StreamingFunnel.processBatch(b2, statePath, stages)
    def rep() = graft.streaming.StreamingFunnel
      .report(spark, statePath, stages)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val streaming = rep()
    // the batch funnel over the union is the ground truth here (events
    // arrived in event-time order across batches)
    val batchTruth = graft.streaming.EventOps
      .funnel(b1.unionByName(b2), stages)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(streaming == batchTruth, s"$streaming != $batchTruth")
    assert(streaming.map(x => (x._1, x._3)) ==
      Seq((0, 2L), (1, 2L), (2, 1L)))
    // at-least-once replay of batch 2: least-of-mins is idempotent
    graft.streaming.StreamingFunnel.processBatch(b2, statePath, stages)
    assert(rep() == streaming)
  }

  test("StreamingFunnel drops null users from state and heals an " +
    "interrupted state swap") {
    import java.sql.Timestamp
    val base = tmpDir("sfunnel3")
    val statePath = s"$base/state"
    val b = Seq(
      (1L, new Timestamp(1000L), Some(1L), "view", 0.0, "{}"),
      (2L, new Timestamp(2000L), None: Option[Long], "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamingFunnel.processBatch(b, statePath,
      Seq("view"))
    graft.streaming.StreamingFunnel.processBatch(b, statePath,
      Seq("view")) // replay — null rows must not accumulate either
    assert(graft.streaming.MarkerStateStore.read(spark, statePath)
      .count() == 1) // u1 only
    def users() = graft.streaming.StreamingFunnel
      .report(spark, statePath, Seq("view"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(users() == Map(0 -> 1L))
    // crash between the generation write and its marker PUT: an
    // orphan `gen=` dir the ruling marker does not name
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val next = graft.streaming.MarkerStateStore
      .readMarker(fs, statePath).gen + 1
    val orphan = new java.io.File(s"$statePath/gen=$next")
    Seq((0, 7L, 1L)).toDF("stage_idx", "_u", "_t")
      .withColumn("_b", lit(0))
      .write.partitionBy("_b").parquet(orphan.getPath)
    assert(users() == Map(0 -> 1L)) // the report ignores it ...
    assert(orphan.exists) // ... and deletes nothing
    graft.streaming.StreamingFunnel.processBatch(b.limit(0), statePath,
      Seq("view"))
    assert(!orphan.exists) // the next batch's heal deletes it
    assert(users() == Map(0 -> 1L))
  }

  test("StreamingFunnel.start drives the same state through " +
    "foreachBatch micro-batches") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val base = tmpDir("sfunnel2")
    val statePath = s"$base/state"
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF()
      .toDF("event_id", "secs", "user_id", "event_type")
      .select(col("event_id"),
        (col("secs") * 1000L).cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    val query = graft.streaming.StreamingFunnel.start(
      stream, statePath, s"$base/ckpt", Seq("view", "click"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData((1L, 1L, 1L, "view"))
      query.processAllAvailable()
      mem.addData((2L, 2L, 1L, "click"), (3L, 3L, 2L, "view"))
      query.processAllAvailable()
      val got = graft.streaming.StreamingFunnel
        .report(spark, statePath, Seq("view", "click"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(got == Map(0 -> 2L, 1 -> 1L))
    } finally query.stop()
  }

  test("StreamingRetention: incremental activity state reproduces the " +
    "batch report even for OUT-OF-ORDER drops; replays are idempotent") {
    import java.sql.Timestamp
    def t(day: Long, h: Int) =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    val statePath = s"${tmpDir("sret")}/state"
    // batch 1: u1 day 1, u2 day 0; batch 2 arrives LATE with u1 day 0
    // (re-cohorts u1 from day 1 to day 0) plus a same-day repeat
    val b1 = Seq(
      (1L, t(1, 2), 1L, "view", 0.0, "{}"),
      (2L, t(0, 3), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b2 = Seq(
      (3L, t(0, 5), 1L, "view", 0.0, "{}"),
      (4L, t(0, 7), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamingRetention.processBatch(b1, statePath)
    graft.streaming.StreamingRetention.processBatch(b2, statePath)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val streaming = canon(graft.streaming.StreamingRetention
      .report(spark, statePath))
    val batchTruth = canon(graft.streaming.EventOps
      .retention(b1.unionByName(b2)))
    assert(streaming == batchTruth, s"$streaming != $batchTruth")
    // both users cohort at day 0; u1 also active day 1
    assert(streaming == Seq((0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5)))
    // replay batch 2: every (user, day) anti-joins away
    graft.streaming.StreamingRetention.processBatch(b2, statePath)
    assert(canon(graft.streaming.StreamingRetention
      .report(spark, statePath)) == streaming)
    // state holds the distinct activity grain only (3 user-days)
    assert(graft.streaming.MarkerStateStore.read(spark, statePath)
      .count() == 3)
  }

  test("StreamingFunnel gap flavor is greedy-min BY DESIGN: the " +
    "documented undercount vs the batch any-chain semantics") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // view@1, view@65, click@70, gap 1min: min-state keeps view@1
    // only, so click@70 (69s later) misses the window; the batch
    // any-chain flavor converts via view@65. This pins the caveat the
    // scaladoc documents — if the semantics silently change, so must
    // the docs.
    val ev = Seq(
      (1L, t(1), 1L, "view", 0.0, "{}"),
      (2L, t(65), 1L, "view", 0.0, "{}"),
      (3L, t(70), 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val statePath = s"${tmpDir("gapfun")}/state"
    graft.streaming.StreamingFunnel.processBatch(ev, statePath,
      Seq("view", "click"), maxGapMinutes = Some(1L))
    val streamed = graft.streaming.StreamingFunnel
      .report(spark, statePath, Seq("view", "click"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(streamed == Map(0 -> 1L, 1 -> 0L)) // greedy-min misses
    val batch = graft.streaming.EventOps
      .funnel(ev, Seq("view", "click"), maxGapMinutes = Some(1L))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(batch == Map(0 -> 1L, 1 -> 1L)) // any-chain converts
  }

  test("StreamingFunnel bucketed state: a batch updating ONE user " +
    "rewrites only that user's hash bucket — every untouched bucket " +
    "file survives byte-identical (path, size, mtime, content)") {
    def t(s: Long) = new Timestamp(s * 1000L)
    val statePath = s"${tmpDir("bfunnel")}/state"
    val stages = Seq("view", "click")
    val buckets = 8
    val b1 = (1L to 40L).map(u => (u, t(u), u, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamingFunnel.processBatch(b1, statePath, stages,
      buckets = buckets)
    val root = new java.io.File(statePath)
    // every live bucket file: gen=*/_b=*/part-*.parquet
    def snapshot() = root.listFiles
      .filter(_.getName.startsWith("gen=")).flatMap(_.listFiles)
      .filter(_.getName.startsWith("_b=")).flatMap { d =>
        d.listFiles.filter(_.getName.endsWith(".parquet")).map(f =>
          f.getPath -> ((f.length, f.lastModified,
            java.nio.file.Files.readAllBytes(f.toPath).toSeq)))
      }.toMap
    val before = snapshot()
    assert(before.nonEmpty)
    val target = 5L
    val tb = spark.range(1)
      .select(pmod(hash(lit(target)), lit(buckets)).as("b"))
      .head.getInt(0)
    assert(before.keys.exists(_.contains(s"_b=$tb/")))
    val b2 = Seq((100L, t(100), target, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamingFunnel.processBatch(b2, statePath, stages,
      buckets = buckets)
    val after = snapshot()
    def untouched(m: Map[String, (Long, Long, Seq[Byte])]) =
      m.view.filterKeys(!_.contains(s"_b=$tb/")).toMap
    assert(untouched(after) == untouched(before),
      "untouched bucket files were rewritten")
    // the touched bucket WAS replaced (fresh part files)
    assert(after.keys.filter(_.contains(s"_b=$tb/")).toSet !=
      before.keys.filter(_.contains(s"_b=$tb/")).toSet)
    // and the report reflects the conversion
    val rep = graft.streaming.StreamingFunnel
      .report(spark, statePath, stages)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rep == Map(0 -> 40L, 1 -> 1L))
  }

  test("StreamingRetention.compact collapses append file groups " +
    "without changing the report; batches keep landing afterwards") {
    def t(day: Long, h: Int) =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    val statePath = s"${tmpDir("retcompact")}/state"
    def batch(ids: Seq[Long], day: Long) =
      ids.map(u => (u, t(day, 1), u, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
    (0L to 4L).foreach { d =>
      graft.streaming.StreamingRetention.processBatch(
        batch(1L to 10L, d), statePath, buckets = 4)
    }
    def parquetFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(statePath))
        .filter(_.getName.endsWith(".parquet"))
    }
    def canon() = graft.streaming.StreamingRetention
      .report(spark, statePath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val nBefore = parquetFiles().size
    val repBefore = canon()
    graft.streaming.StreamingRetention.compact(spark, statePath,
      targetFilesPerBucket = 1, buckets = 4)
    assert(parquetFiles().size < nBefore)
    assert(parquetFiles().size <= 4) // ~one file per bucket
    assert(canon() == repBefore, "compaction changed the report")
    // appends continue against the compacted state, and a one-user
    // batch adds files ONLY under that user's hash bucket
    val beforeAppend = parquetFiles().map(_.getPath).toSet
    graft.streaming.StreamingRetention.processBatch(
      batch(Seq(99L), 0L), statePath, buckets = 4)
    val tb = spark.range(1)
      .select(pmod(hash(lit(99L)), lit(4)).as("b")).head.getInt(0)
    val added = parquetFiles().map(_.getPath).toSet -- beforeAppend
    assert(added.nonEmpty && added.forall(_.contains(s"_b=$tb/")),
      s"append leaked outside bucket $tb: $added")
    assert(canon().head == (0L, 0L, 11L, 1.0))
  }

  test("randomized parity: StreamingRetention equals batch retention " +
    "under ARBITRARY batch order; StreamingFunnel equals batch funnel " +
    "under event-time-ordered batches") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(23)
    val types = Seq("view", "click", "purchase")
    val events = (1L to 300L).map { i =>
      (i, new Timestamp((1L + rnd.nextInt(500000)) * 1000L),
        rnd.nextInt(25).toLong, types(rnd.nextInt(3)), 0.0, "{}")
    }
    def toDf(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
    val all = toDf(events)
    // retention: shuffle, split into 4 arbitrary batches — the
    // activity state is order-free, so parity must be EXACT
    val retPath = s"${tmpDir("randret")}/state"
    rnd.shuffle(events).grouped(75).foreach { b =>
      graft.streaming.StreamingRetention.processBatch(toDf(b), retPath)
    }
    def canonRet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    assert(canonRet(graft.streaming.StreamingRetention
      .report(spark, retPath)) ==
      canonRet(graft.streaming.EventOps.retention(all)))
    // funnel: event-time-ordered batches (the documented exactness
    // precondition) — greedy-min incremental state must match batch
    val funPath = s"${tmpDir("randfun")}/state"
    events.sortBy(_._2.getTime).grouped(75).foreach { b =>
      graft.streaming.StreamingFunnel.processBatch(toDf(b), funPath,
        types)
    }
    val streamed = graft.streaming.StreamingFunnel
      .report(spark, funPath, types)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val batch = graft.streaming.EventOps.funnel(all, types)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(streamed == batch, s"$streamed != $batch")
  }

  test("funnelLatency: gap percentiles over the greedy-earliest " +
    "chain; zero-converter stages report 0 with NULL estimates") {
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(1), 1L, "view", 0.0, "{}"),
      (2L, t(11), 1L, "click", 0.0, "{}"),   // u1 gap view->click 10
      (3L, t(61), 1L, "purchase", 0.0, "{}"), // u1 gap click->purchase 50
      (4L, t(5), 2L, "view", 0.0, "{}"),
      (5L, t(10), 2L, "click", 0.0, "{}"),   // u2 gap 5, no purchase
      (6L, t(100), 3L, "click", 0.0, "{}"))  // u3 click w/o view: no row
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.EventOps
      .funnelLatency(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.get(4), r.get(5))).sortBy(_._1).toSeq
    // m=2 sample [5,10]: p50 = idx floor(.5*1)+1 = 1 -> 5.0, p90 same
    assert(got == Seq(
      (1, "click", 2L, 2, 5.0, 5.0),
      (2, "purchase", 1L, 1, 50.0, 50.0)), got.toString)
    // a funnel nobody converts through: counts 0, estimates NULL
    val none = graft.streaming.EventOps
      .funnelLatency(ev, Seq("view", "signup"))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getInt(3),
        r.isNullAt(4), r.isNullAt(5))).toSeq
    assert(none == Seq((1, 0L, 0, true, true)), none.toString)
  }

  test("funnel latency parity: StreamingFunnel.latencyReport equals " +
    "batch funnelLatency bit-for-bit under event-time-ordered batches") {
    val rnd = new scala.util.Random(41)
    val types = Seq("view", "click", "purchase")
    val events = (1L to 400L).map { i =>
      (i, new Timestamp((1L + rnd.nextInt(500000)) * 1000L),
        rnd.nextInt(30).toLong, types(rnd.nextInt(3)), 0.0, "{}")
    }
    def toDf(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
    val funPath = s"${tmpDir("latfun")}/state"
    events.sortBy(_._2.getTime).grouped(100).foreach { b =>
      graft.streaming.StreamingFunnel.processBatch(toDf(b), funPath,
        types)
    }
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.get(4), r.get(5))).sortBy(_._1).toSeq
    val streamed = canon(graft.streaming.StreamingFunnel
      .latencyReport(spark, funPath, types))
    val batch = canon(graft.streaming.EventOps
      .funnelLatency(toDf(events), types))
    assert(streamed == batch, s"$streamed != $batch")
    assert(streamed.head._3 > 0, "degenerate parity: nobody converted")
  }

  test("stream interval join agrees with the batch range join twin") {
    implicit val sq = spark.sqlContext
    // same data both ways: points 0..29 at 5-min spacing, windows
    // [purchase, purchase+1h] expressed as the stream lookback
    val clicks = (0 until 30).map(i =>
      (i.toLong, 7L + i % 2, ts("2024-01-01 08:00:00").getTime +
        i * 300000L))
    val purchases = (0 until 6).map(i =>
      (100L + i, 7L + i % 2, ts("2024-01-01 08:10:00").getTime +
        i * 1800000L))
    def t(ms: Long) = new Timestamp(ms)
    val cDf = clicks.map { case (e, u, m) => (e, u, t(m)) }
      .toDF("event_id", "user_id", "ts")
    val pDf = purchases.map { case (e, u, m) => (e, u, t(m)) }
      .toDF("p_id", "user_id", "ts")
    // batch: clicks in [p_ts, p_ts + 1h] — same as stream lookback 1h
    // seen from the click side
    val batch = graft.operators.Relational.rangeJoin(
      cDf, pDf.select(col("user_id"), col("p_id"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("hi")),
      Seq("user_id"), "ts", "lo", "hi", binWidth = 3600)
      .select("event_id", "p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cs = MemoryStream[(Long, Long, Timestamp)]
    val ps = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.streaming.EventOps.intervalJoinStream(
      cs.toDF().toDF("event_id", "user_id", "ts"),
      ps.toDF().toDF("p_id", "user_id", "ts"),
      lookback = "1 hour", watermark = "4 hours")
    val query = joined.select("event_id", "r_p_id")
      .writeStream.format("memory").queryName("ivj_agree")
      .outputMode("append").start()
    try {
      ps.addData(purchases.map { case (e, u, m) => (e, u, t(m)) }: _*)
      cs.addData(clicks.map { case (e, u, m) => (e, u, t(m)) }: _*)
      query.processAllAvailable()
      val streamed = spark.table("ivj_agree").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally query.stop()
  }

  test("JSONL export round-trip preserves rows and types") {
    val out = tmpDir("jsonl")
    val df = Seq((1L, "a b c", 0), (2L, "d e", 1))
      .toDF("doc_id", "chunk_text", "chunk_id")
    Export.jsonl(df, out, shards = 1)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(files.length == 1)
    val back = spark.read.json(out)
    assert(back.count() == 2)
    val row = back.filter(col("doc_id") === 1L).head()
    assert(row.getAs[String]("chunk_text") == "a b c")
  }

  test("JSONL ingest round-trips what jsonl export wrote") {
    val out = tmpDir("jsonl_rt")
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    Export.jsonl(docs, out)
    val back = graft.operators.Ingest.loadJsonl(spark, out)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text")).toMap
    assert(back == Map(1L -> "alpha beta", 2L -> "gamma delta"))
  }

  test("CSV export round-trip: canonical sort, single header file") {
    val out = tmpDir("export")
    val df = SyntheticTracking.df(spark, games = 1, plays = 1, frames = 5)
    Export.csvSingle(df, out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // coalesced single shard
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 5L * 23)
    assert(back.columns.contains("gameId"))
  }

  test("streaming KMV cardinality: exact under k, dedups across " +
    "batches, state stays bounded past k") {
    import graft.streaming.StreamingSketch
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Seq[String])]
    val query = StreamingSketch.cardinalityStream(mem.toDS(), k = 128)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    def latest(): Map[String, (Long, Int, Double)] =
      spark.table("kmv_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getInt(2),
          r.getDouble(3))))
        .groupBy(_._1).map { case (k2, v) => k2 -> v.maxBy(_._2._1)._2 }
    try {
      // batch 1: 40 distinct grams for key a → exact running count
      mem.addData((0 until 40).map(i => ("a", Seq(s"g$i"))): _*)
      query.processAllAvailable()
      assert(latest()("a") == ((1L, 40, 40.0)))
      // batch 2: 20 repeats + 30 new → 70 exact (cross-batch dedup)
      mem.addData(
        (20 until 70).map(i => ("a", Seq(s"g$i"))): _*)
      query.processAllAvailable()
      assert(latest()("a") == ((2L, 70, 70.0)))
      // batch 3: key b floods 1000 distinct → sketch capped at k=128,
      // estimate in range; key a untouched this batch
      mem.addData((0 until 1000).map(i => ("b", Seq(s"h$i"))): _*)
      query.processAllAvailable()
      val (bBatches, bK, bEst) = latest()("b")
      assert(bBatches == 1L && bK == 128)
      assert(math.abs(bEst - 1000.0) / 1000.0 < 0.4,
        s"estimate $bEst implausibly far from 1000")
      assert(latest()("a") == ((2L, 70, 70.0)))
    } finally query.stop()
  }

  test("streaming HLL: registers idempotent under replayed batches, " +
    "stream estimate equals the batch kernel's on the union") {
    import graft.streaming.StreamingSketch
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Seq[String])]
    val query = StreamingSketch.hllStream(mem.toDS(), p = 6)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("update").start()
    def latest(): Map[String, (Long, Int, Double)] =
      spark.table("hll_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getInt(2),
          r.getDouble(3))))
        .groupBy(_._1).map { case (k2, v) => k2 -> v.maxBy(_._2._1)._2 }
    try {
      mem.addData((0 until 500).map(i => ("a", Seq(s"g$i"))): _*)
      query.processAllAvailable()
      val first = latest()("a")
      // replay the identical batch: max-merge is idempotent — nothing
      // but the batch counter may move
      mem.addData((0 until 500).map(i => ("a", Seq(s"g$i"))): _*)
      query.processAllAvailable()
      val second = latest()("a")
      assert(second == ((2L, first._2, first._3)), (first, second))
      // batch flavor over the same accumulated grams agrees exactly
      val batch = Seq(("a", (0 until 500).map(i => s"g$i")))
        .toDF("k", "g")
        .groupBy(col("k"))
        .agg(graft.text.TextOps.hllSketch(col("g"), 6).as("_regs"))
        .selectExpr(
          "CAST(size(filter(_regs, r -> r = 0)) AS INT) AS nz",
          "aggregate(_regs, CAST(0 AS BIGINT), " +
            "(a, r) -> a + CAST(pow(2, 27 - r) AS BIGINT)) AS z")
        .first()
      assert(batch.getInt(0) == second._2, (batch, second))
      val est = BigDecimal(0.709 * 64 * 64 * 134217728.0 /
        batch.getLong(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(est == second._3, (est, second._3))
    } finally query.stop()
  }

  test("tarShards: WebDataset layout round-trips, entries are name-" +
    "ordered per shard, and GNU tar can list the archives") {
    import graft.operators.{Export, TarFormat}
    val dir = java.nio.file.Files.createTempDirectory("tarsh").toString
    val df = Seq(
      (0L, "doc_b", "beta text"),
      (0L, "doc_a", "alpha text"),
      (1L, "doc_c", "gamma " * 200)) // > 512 bytes → multi-block
      .toDF("shard", "name", "text")
    Export.tarShards(df, dir, "shard", "name", "text")
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq ==
      Seq("shard-00000.tar", "shard-00001.tar"))
    // every tar size is a multiple of 512 (header+payload+end blocks)
    files.foreach(f => assert(f.length % 512 == 0, f.getName))
    val s0 = TarFormat.read(new java.io.FileInputStream(files(0)))
    assert(s0.map(_._1) == Seq("doc_a.txt", "doc_b.txt")) // name order
    assert(new String(s0.head._2, "UTF-8") == "alpha text")
    val s1 = TarFormat.read(new java.io.FileInputStream(files(1)))
    assert(s1.map(_._1) == Seq("doc_c.txt"))
    assert(s1.head._2.length == "gamma ".length * 200)
    // interop: system tar lists the same entries (skip if absent)
    if (new java.io.File("/usr/bin/tar").exists ||
      new java.io.File("/bin/tar").exists) {
      import scala.sys.process._
      val listed = Seq("tar", "-tf", files(0).getPath).!!.trim
        .split("\n").toSeq
      assert(listed == Seq("doc_a.txt", "doc_b.txt"),
        s"system tar disagrees: $listed")
      // !! appends a trailing newline to the captured stdout
      val body = Seq("tar", "-xOf", files(0).getPath, "doc_a.txt").!!
      assert(body.stripLineEnd == "alpha text")
    }
    // determinism: a re-run produces byte-identical archives
    val dir2 = java.nio.file.Files.createTempDirectory("tarsh2").toString
    Export.tarShards(df, dir2, "shard", "name", "text")
    val a = java.nio.file.Files.readAllBytes(files(0).toPath)
    val b = java.nio.file.Files.readAllBytes(
      new java.io.File(dir2, "shard-00000.tar").toPath)
    assert(java.util.Arrays.equals(a, b))
    // and the distributed reader ingests the shards back losslessly
    val back = Export.readTarShards(spark, s"$dir/*.tar")
      .collect()
      .map(r => r.getString(1) ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(back.keySet == Set("doc_a.txt", "doc_b.txt", "doc_c.txt"))
    assert(back("doc_a.txt") == "alpha text")
    assert(back("doc_c.txt") == "gamma " * 200)
  }

  test("tarShards writes through the Hadoop FS API: a qualified file: " +
    "URI lands byte-identical archives and no checksum sidecars") {
    import graft.operators.Export
    val df = Seq((0L, "doc_a", "alpha text"), (0L, "doc_b", "beta"))
      .toDF("shard", "name", "text")
    val plain = java.nio.file.Files.createTempDirectory("taru1").toString
    Export.tarShards(df, plain, "shard", "name", "text")
    val qualified = java.nio.file.Files.createTempDirectory("taru2")
    Export.tarShards(df, s"file:$qualified", "shard", "name", "text")
    val a = java.nio.file.Files.readAllBytes(
      new java.io.File(plain, "shard-00000.tar").toPath)
    val b = java.nio.file.Files.readAllBytes(
      new java.io.File(qualified.toFile, "shard-00000.tar").toPath)
    assert(java.util.Arrays.equals(a, b),
      "file: URI output differs from plain-path output")
    // ChecksumFileSystem must not leave .shard-*.tar.crc companions
    val extras = qualified.toFile.listFiles()
      .filterNot(_.getName.endsWith(".tar"))
    assert(extras.isEmpty, s"unexpected sidecars: ${extras.mkString(",")}")
  }

  test("streaming quantiles: exact under k, bounded past k, and the " +
    "batch bottom-k sample reproduces the stream's estimates") {
    import graft.streaming.StreamingSketch
    import graft.operators.Relational
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val query = StreamingSketch.quantileStream(mem.toDS(), k = 32)
      .writeStream.format("memory").queryName("q_stream")
      .outputMode("update").start()
    def latest(): Map[String, (Long, Int, Double, Double, Double)] =
      spark.table("q_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getInt(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .groupBy(_._1).map { case (k2, v) => k2 -> v.maxBy(_._2._1)._2 }
    try {
      // batch 1: 9 values for key a — under k, so the sample IS the
      // data and p50 is the true median
      mem.addData((1L to 9L).map(i => ("a", i, i * 10.0)): _*)
      query.processAllAvailable()
      val a1 = latest()("a")
      assert(a1._1 == 1L && a1._2 == 9 && a1._3 == 50.0)
      // batch 2: key b floods 500 rows — state capped at k=32
      mem.addData((1L to 500L).map(i => ("b", 1000L + i, i * 1.0)): _*)
      query.processAllAvailable()
      val b1 = latest()("b")
      assert(b1._1 == 1L && b1._2 == 32)
      // the batch aggregate over the SAME accumulated rows reproduces
      // the stream's estimates exactly (shared hash domain + rank rule)
      val batchRows = (1L to 500L).map(i => (1000L + i, i * 1.0))
        .toDF("id", "v")
      val replay = batchRows.agg(Relational.bottomKSample(
          graft.text.TextOps.hash32(col("id").cast("string")),
          col("v"), 32).as("sk"))
        .select(
          Relational.sampleQuantile(col("sk"), 0.5).as("p50"),
          Relational.sampleQuantile(col("sk"), 0.9).as("p90"),
          Relational.sampleQuantile(col("sk"), 0.99).as("p99"))
        .head()
      assert((replay.getDouble(0), replay.getDouble(1),
        replay.getDouble(2)) == ((b1._3, b1._4, b1._5)))
    } finally query.stop()
  }
}
