package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Incremental
import graft.streaming.{MarkerStateStore, StreamingAggState,
  StreamingFunnel, StreamingRetention}

/** The object-store-safe commit-marker state store: twin parity under
  * the marker protocol, and every crash window of a protocol that may
  * NOT rely on atomic rename (gen dir without marker, torn marker,
  * lingering garbage) healing without losing a committed batch.
  */
class MarkerStateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("funnel twin under the marker store matches the batch funnel; " +
    "replays are idempotent; no rename ever happens (write-once names)") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val statePath = s"${tmpDir("mfunnel")}/state"
    val stages = Seq("view", "click", "purchase")
    val b1 = Seq(
      (1L, t(1), 1L, "view", 0.0, "{}"),
      (2L, t(2), 1L, "click", 0.0, "{}"),
      (3L, t(5), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b2 = Seq(
      (4L, t(10), 1L, "purchase", 0.0, "{}"),
      (5L, t(11), 2L, "click", 0.0, "{}"),
      (6L, t(12), 3L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingFunnel.processBatch(b1, statePath, stages)
    StreamingFunnel.processBatch(b2, statePath, stages)
    def rep() = StreamingFunnel
      .report(spark, statePath, stages)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val streaming = rep()
    val truth = graft.streaming.EventOps.funnel(b1.unionByName(b2), stages)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(streaming == truth, s"$streaming != $truth")
    StreamingFunnel.processBatch(b2, statePath, stages) // at-least-once replay
    assert(rep() == streaming)
    // layout sanity: only write-once gen dirs + one live marker
    val files = Files.list(Paths.get(statePath)).toArray
      .map(p => Paths.get(p.toString).getFileName.toString)
      .filterNot(_.startsWith(".")) // local-FS .crc sidecars
    assert(files.exists(_.startsWith("gen=")))
    assert(files.count(_.startsWith("_marker.")) == 1, files.toSeq)
  }

  test("agg twin under the marker store: exactly-once replay via the " +
    "watermark, report parity with the batch recompute") {
    val statePath = s"${tmpDir("magg")}/state"
    val all = (1L to 200L).map(i =>
      (if (i % 2 == 0) "a" else "b", i % 23, i % 97))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect().map(_.toSeq.toList).toList
    all.grouped(60).zipWithIndex.foreach { case (chunk, i) =>
      StreamingAggState.processBatch(chunk.toSeq.toDF("g", "v", "d"),
        i.toLong, statePath, "g", col("v"), col("d"), k = 32,
        buckets = 8)
    }
    // at-least-once replay of the LAST batch is a no-op
    StreamingAggState.processBatch(
      all.grouped(60).toSeq.last.toDF("g", "v", "d"),
      (all.grouped(60).size - 1).toLong, statePath, "g", col("v"),
      col("d"), k = 32, buckets = 8)
    val got = canon(StreamingAggState.report(spark, statePath, "g", 32))
    val want = canon(Incremental.stateReport(
      Incremental.aggState(all.toDF("g", "v", "d"), "g", col("v"),
        col("d"), 32), "g", 32))
    assert(got == want)
  }

  test("retention twin under the marker store: append generations " +
    "accumulate per bucket, compaction collapses them, report parity") {
    import java.sql.Timestamp
    def t(day: Long, h: Int) =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    val statePath = s"${tmpDir("mret")}/state"
    val b1 = Seq(
      (1L, t(1, 2), 1L, "view", 0.0, "{}"),
      (2L, t(0, 3), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b2 = Seq(
      (3L, t(0, 5), 1L, "view", 0.0, "{}"),
      (4L, t(0, 7), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingRetention.processBatch(b1, statePath)
    StreamingRetention.processBatch(b2, statePath)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val streaming = canon(StreamingRetention.report(spark, statePath))
    val truth = canon(graft.streaming.EventOps
      .retention(b1.unionByName(b2)))
    assert(streaming == truth)
    // appends accumulate multiple generations for a re-touched bucket
    val fs = fsOf(statePath)
    val before = MarkerStateStore.readMarker(fs, statePath)
    assert(before.buckets.values.exists(_.size > 1),
      s"expected multi-gen buckets before compaction: $before")
    StreamingRetention.compact(spark, statePath, buckets = 4)
    val after = MarkerStateStore.readMarker(fs, statePath)
    assert(after.buckets.values.forall(_.size == 1), after.toString)
    assert(canon(StreamingRetention.report(spark, statePath)) == truth)
  }

  test("crash BEFORE the marker PUT: an unreferenced generation is " +
    "invisible to readers and healed away; the committed state rules") {
    val statePath = s"${tmpDir("mcrash1")}/state"
    val fs = fsOf(statePath)
    val s1 = Seq(("a", 1L, 5L, 5L, 5L, Seq(1L), 0L))
      .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv", "_applied")
      .withColumn("_b", lit(0))
    MarkerStateStore.swapBuckets(fs, statePath, s1, Seq(0))
    // simulate the crash: a newer generation directory lands WITHOUT
    // its marker (the window between the parquet write and the PUT)
    val s2 = s1.withColumn("sum_v", lit(999L))
    s2.write.partitionBy("_b").parquet(s"$statePath/gen=2")
    // readers resolve through the ruling marker — the torn write is
    // invisible
    val got = MarkerStateStore.read(spark, statePath)
      .select("sum_v").head().getLong(0)
    assert(got == 5L, s"uncommitted generation leaked: $got")
    MarkerStateStore.heal(fs, statePath)
    assert(!fs.exists(new Path(s"$statePath/gen=2")),
      "heal left the unreferenced generation")
    assert(MarkerStateStore.read(spark, statePath)
      .select("sum_v").head().getLong(0) == 5L)
  }

  test("a torn marker (no footer — non-atomic visibility simulated) " +
    "is ignored and deleted; the previous complete marker rules") {
    val statePath = s"${tmpDir("mcrash2")}/state"
    val fs = fsOf(statePath)
    val s1 = Seq(("a", 1L, 7L, 7L, 7L, Seq(1L), 0L))
      .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv", "_applied")
      .withColumn("_b", lit(0))
    MarkerStateStore.swapBuckets(fs, statePath, s1, Seq(0))
    // a half-written newer marker: readable but incomplete (no footer)
    val torn = fs.create(
      new Path(statePath, f"_marker.${2L}%019d"), false)
    torn.write("0:99\n".getBytes("UTF-8")) // no `end` footer
    torn.close()
    assert(MarkerStateStore.readMarker(fs, statePath).gen == 1L)
    assert(MarkerStateStore.read(spark, statePath)
      .select("sum_v").head().getLong(0) == 7L)
    MarkerStateStore.heal(fs, statePath)
    val markers = fs.listStatus(new Path(statePath))
      .map(_.getPath.getName).filter(_.startsWith("_marker."))
    assert(markers.length == 1 && markers.head.endsWith("1"),
      markers.toSeq.toString)
  }

  test("randomized crash sweep: any interleaving of committed batches " +
    "with orphan generations and torn markers reads back exactly the " +
    "committed state and keeps accepting batches") {
    import graft.streaming.MarkerStateStore
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val statePath = s"${tmpDir(s"mfuzz$seed")}/state"
      val fs = fsOf(statePath)
      var expected: List[List[Any]] = Nil
      def report() = StreamingAggState
        .report(spark, statePath, "g", 16)
        .orderBy("g").collect().map(_.toSeq.toList).toList
      (0 until 6).foreach { batchId =>
        val rows = (0 until 1 + rnd.nextInt(5)).map(_ =>
          (s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong,
            rnd.nextInt(50).toLong))
        StreamingAggState.processBatch(rows.toDF("g", "v", "d"),
          batchId.toLong, statePath, "g", col("v"), col("d"), k = 16,
          buckets = 4)
        expected = report() // committed truth after this batch
        // inject a crash artifact the next heal must neutralize
        rnd.nextInt(3) match {
          case 0 => // orphan generation (crash before its marker PUT)
            val gen = MarkerStateStore.readMarker(fs, statePath).gen +
              1 + rnd.nextInt(3)
            Seq(("zz", 1L, 999L, 0L, 0L, Seq(1L), 99L))
              .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv",
                "_applied")
              .withColumn("_b", lit(rnd.nextInt(4)))
              .write.partitionBy("_b").parquet(s"$statePath/gen=$gen")
          case 1 => // torn marker (no footer)
            val gen = MarkerStateStore.readMarker(fs, statePath).gen +
              1 + rnd.nextInt(3)
            val out = fs.create(
              new Path(statePath, f"_marker.$gen%019d"), false)
            out.write(s"0:$gen\n".getBytes("UTF-8"))
            out.close()
          case _ => () // clean handoff
        }
        assert(report() == expected,
          s"seed=$seed batch=$batchId: crash artifact leaked")
      }
    }
  }

  test("reader-side healForRead NEVER deletes an in-flight generation: " +
    "a report running between a writer's parquet write and its marker " +
    "PUT must not GC the data the marker is about to commit") {
    val statePath = s"${tmpDir("mrace")}/state"
    val fs = fsOf(statePath)
    // batch 0 commits normally (gen=1)
    StreamingAggState.processBatch(
      Seq(("a", 5L, 1L)).toDF("g", "v", "d"), 0L, statePath, "g",
      col("v"), col("d"), k = 16, buckets = 4)
    // writer mid-commit: gen=2 parquet landed, marker PUT not yet
    Seq(("b", 1L, 7L, 7L, 7L, Seq(1L), 1L))
      .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv", "_applied")
      .withColumn("_b", lit(0))
      .write.partitionBy("_b").parquet(s"$statePath/gen=2")
    // a concurrent reader: sees only committed state AND leaves the
    // in-flight generation alone (this is the advice-item race — the
    // old reader-side heal GC'd gen=2 here, then the writer's marker
    // committed pointing at deleted directories)
    val rep = StreamingAggState.report(spark, statePath, "g", 16).collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("a"))
    assert(fs.exists(new Path(s"$statePath/gen=2")),
      "reader-side heal deleted the writer's in-flight generation")
    // the writer finishes: marker PUT commits gen=2 for bucket 0 —
    // the data it references must still be there
    val out = fs.create(new Path(statePath, f"_marker.${2L}%019d"), false)
    out.write("0:2\nend\n".getBytes("UTF-8"))
    out.close()
    val got = MarkerStateStore.read(spark, statePath)
      .select("g", "sum_v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("b" -> 7L),
      s"committed-after-race state corrupted: $got")
  }

  test("merge contract: a touched bucket whose new state writes no " +
    "rows keeps its PREVIOUS content (merges never drop rows)") {
    val statePath = s"${tmpDir("mempty")}/state"
    val fs = fsOf(statePath)
    def row(g: String, b: Int, v: Long) =
      Seq((g, 1L, v, v, v, Seq(1L), 0L))
        .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv",
          "_applied")
        .withColumn("_b", lit(b))
    MarkerStateStore.swapBuckets(fs, statePath,
      row("a", 0, 1L).unionByName(row("b", 1, 2L)), Seq(0, 1))
    // swap claims to touch BOTH buckets but writes rows only for 0:
    // bucket 1 keeps its gen=1 content — it is NOT emptied
    MarkerStateStore.swapBuckets(fs, statePath, row("a", 0, 10L),
      Seq(0, 1))
    val got = MarkerStateStore.read(spark, statePath)
      .select("g", "sum_v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 10L, "b" -> 2L), got.toString)
    val m = MarkerStateStore.readMarker(fs, statePath)
    assert(m.buckets(1) == Seq(1L),
      s"empty-write bucket lost its previous generation: $m")
  }

  test("swap GC: superseded generations and markers delete; buckets " +
    "not touched by the newest swap keep their older generation") {
    val statePath = s"${tmpDir("mgc")}/state"
    val fs = fsOf(statePath)
    def row(g: String, b: Int, v: Long) =
      Seq((g, 1L, v, v, v, Seq(1L), 0L))
        .toDF("g", "n_rows", "sum_v", "min_v", "max_v", "kmv",
          "_applied")
        .withColumn("_b", lit(b))
    MarkerStateStore.swapBuckets(fs, statePath,
      row("a", 0, 1L).unionByName(row("b", 1, 2L)), Seq(0, 1))
    // second swap touches bucket 0 only
    MarkerStateStore.swapBuckets(fs, statePath, row("a", 0, 10L), Seq(0))
    val m = MarkerStateStore.readMarker(fs, statePath)
    assert(m.gen == 2L)
    assert(m.buckets(0) == Seq(2L) && m.buckets(1) == Seq(1L), m)
    // gen=1 survives ONLY as bucket 1's home; its bucket-0 dir is GC'd
    assert(fs.exists(new Path(s"$statePath/gen=1/_b=1")))
    assert(!fs.exists(new Path(s"$statePath/gen=1/_b=0")))
    val got = MarkerStateStore.read(spark, statePath)
      .select("g", "sum_v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 10L, "b" -> 2L))
  }

  test("a state root in the rename layout (`_b=` buckets or a " +
    "`__swap` sibling, no marker) is refused loudly, never read as " +
    "empty") {
    import java.sql.Timestamp
    val ev = Seq((1L, new Timestamp(1000L), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = Seq((0, 1L, 1L)).toDF("stage_idx", "_u", "_t")
      .withColumn("_b", lit(0))
    def refused(statePath: String): Unit = {
      val fs = fsOf(statePath)
      Seq[() => Any](
        () => StreamingFunnel.processBatch(ev, statePath, Seq("view")),
        () => StreamingFunnel.report(spark, statePath, Seq("view")),
        () => MarkerStateStore.heal(fs, statePath),
        () => MarkerStateStore.hasState(fs, statePath)).foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(statePath) &&
          e.getMessage.contains("fresh state path"), e.getMessage)
      }
    }
    // the rename store's live layout: `_b=K` directly under the root
    val live = s"${tmpDir("mlegacy1")}/state"
    rows.write.partitionBy("_b").parquet(live)
    refused(live)
    assert(fsOf(live).exists(new Path(s"$live/_b=0")), "state touched")
    // a crash mid-swap of the first batch: only the `__swap` sibling
    val swapOnly = s"${tmpDir("mlegacy2")}/state"
    rows.write.partitionBy("_b").parquet(swapOnly + "__swap")
    refused(swapOnly)
  }

  test("index lifecycle crash windows, per LiveMarker family (BM25, " +
    "ANN, signed): an orphan tombstone batch and a torn marker are " +
    "invisible and healed by the next delete; an append with no rows " +
    "commits only the applied id") {
    import graft.operators.LiveMarker
    import graft.sim.SimSearch
    import graft.text.{Bm25, Dedup}
    val docs = (1L to 6L).map(i => (i, s"lifecycle document $i words"))
      .toDF("doc_id", "text")
    val emb = (1L to 6L).map(i => (i, Seq(i.toFloat, -i.toFloat / 2)))
      .toDF("vec_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    // (name, marker, id column, append-segment root, create, live ids,
    //  delete one id, append an empty batch with an applied id)
    case class Family(name: String, marker: LiveMarker, idCol: String,
        segRoot: String, create: String => Unit, live: String => Set[Long],
        delete: (String, Long) => Unit, appendEmpty: (String, Long) => Unit)
    val families = Seq(
      Family("bm25", Bm25.bm25Marker, "doc_id", "postings_batches",
        Bm25.writeBm25Index(docs, "text", "doc_id", _, buckets = 4),
        p => ids(Bm25.bm25IndexIds(spark, p, "doc_id")),
        (p, id) => Bm25.deleteFromBm25Index(Seq(id).toDF("doc_id"), p,
          "doc_id"),
        (p, sid) => Bm25.appendToBm25Index(docs.filter(lit(false)),
          "text", "doc_id", p, appliedId = sid)),
      Family("ann", SimSearch.annMarker, "vec_id", "vectors_batches",
        SimSearch.writeAnnIndex(emb, _, "vec_id", "embedding",
          planes = 2, dim = 2),
        p => ids(SimSearch.readAnnIndex(spark, p).select("vec_id")),
        (p, id) => SimSearch.deleteFromAnnIndex(Seq(id).toDF("vec_id"), p),
        (p, sid) => SimSearch.appendToAnnIndex(emb.filter(lit(false)), p,
          "vec_id", "embedding", appliedId = sid)),
      Family("signed", Dedup.signedMarker, "doc_id", "rows_batches",
        Dedup.writeSignedIndex(docs, _, "text", "doc_id"),
        p => ids(Dedup.readSignedIndex(spark, p).select("doc_id")),
        (p, id) => Dedup.deleteFromSignedIndex(Seq(id).toDF("doc_id"), p,
          "doc_id"),
        (p, sid) => Dedup.appendToSignedIndex(docs.filter(lit(false)), p,
          "text", "doc_id", appliedId = sid)))
    families.foreach { f =>
      val dir = s"${tmpDir(s"mlife-${f.name}")}/idx"
      val fs = fsOf(dir)
      f.create(dir)
      assert(f.live(dir) == (1L to 6L).toSet, f.name)
      // crash between the tombstone batch write and the marker PUT:
      // the batch is unreferenced — the delete did not happen
      Seq(1L).toDF(f.idCol).write.parquet(s"$dir/tombstones/batch=2")
      assert(f.live(dir) == (1L to 6L).toSet,
        s"${f.name}: orphan tombstone batch leaked into reads")
      // a torn marker (no footer) is skipped by readers
      val tornPath = new Path(dir, f"_live.${9L}%019d")
      val torn = fs.create(tornPath, false)
      torn.write("tomb:1\n".getBytes("UTF-8"))
      torn.close()
      assert(f.marker.read(spark, dir).gen == 1L, f.name)
      assert(f.live(dir) == (1L to 6L).toSet, s"${f.name}: torn ruled")
      // the next delete heals both artifacts and commits batch 2
      f.delete(dir, 5L)
      assert(f.live(dir) == Set(1L, 2L, 3L, 4L, 6L), f.name)
      assert(!fs.exists(tornPath), s"${f.name}: torn marker not healed")
      assert(f.marker.listGenerations(spark, dir) == Seq(2L), f.name)
      // an append with no rows writes no segment and commits only the
      // applied stream batch id
      f.appendEmpty(dir, 7L)
      val after = f.marker.read(spark, dir)
      assert(after.gen == 3L && after.applied == 7L &&
        after.appends.isEmpty && after.batches == Seq(2L),
        s"${f.name}: $after")
      assert(!fs.exists(new Path(s"$dir/${f.segRoot}")),
        s"${f.name}: empty append wrote a segment")
      assert(f.live(dir) == Set(1L, 2L, 3L, 4L, 6L), f.name)
      // an older applied id commits nothing
      f.appendEmpty(dir, 3L)
      assert(f.marker.read(spark, dir) == after, f.name)
    }
  }

  test("marker bytes: LiveMarker, MarkerPool and MarkerStateStore " +
    "write the exact text their readers parse") {
    import graft.operators.{LiveMarker, LiveState, PoolCommit}
    def text(path: String) = new String(
      Files.readAllBytes(Paths.get(path)), "UTF-8")
    // LiveMarker: one `field:dir` line per family, then the batches,
    // the applied stream id and the retention window
    val idx = tmpDir("mbytes-live")
    val fs = fsOf(idx)
    val lm = new LiveMarker(Seq(("postings", "postings", "postings_gen="),
      ("stats", "stats", "stats_gen=")), Seq("tombstones"))
    lm.put(fs, idx, LiveState(1L,
      Map("postings" -> "postings", "stats" -> "stats"), Seq.empty))
    lm.put(fs, idx, LiveState(2L,
      Map("postings" -> "postings_gen=2", "stats" -> "stats"),
      Seq(2L, 5L), Seq(3L), 7L, 2), retain = 1)
    assert(text(s"$idx/_live.0000000000000000001") ==
      "postings:postings\nstats:stats\ntomb:\nappd:\nsid:-1\n" +
        "ret:1\nend\n")
    assert(text(s"$idx/_live.0000000000000000002") ==
      "postings:postings_gen=2\nstats:stats\ntomb:2,5\nappd:3\n" +
        "sid:7\nret:2\nend\n")
    assert(lm.read(fs, idx) == LiveState(2L,
      Map("postings" -> "postings_gen=2", "stats" -> "stats"),
      Seq(2L, 5L), Seq(3L), 7L, 2))
    // MarkerPool (the tracking pool): `#` meta lines, then one
    // `<partition>:<gen>` line per live partition
    val pool = s"${tmpDir("mbytes-pool")}/pool"
    def game(id: Long) = Seq((id, 1, 1, 1.0f)).toDF("gameId", "playId",
      "frameId", "x")
    PoolCommit.write(game(2023090700L).unionByName(game(2023090701L)),
      pool, retain = 2)
    PoolCommit.write(game(2023090701L), pool)
    assert(text(s"$pool/_pool_marker.0000000000000000002") ==
      "#ret:2\n#sid:-1\n" +
        "season=2023/gameId=2023090700:1\n" +
        "season=2023/gameId=2023090701:2\nend\n")
    // MarkerStateStore: one `bucket:gen,gen` line per live bucket
    val state = s"${tmpDir("mbytes-state")}/state"
    def row(g: String, b: Int) = Seq((g, 1L)).toDF("g", "n_rows")
      .withColumn("_b", lit(b))
    MarkerStateStore.swapBuckets(fs, state,
      row("a", 0).unionByName(row("b", 1)), Seq(0, 1))
    MarkerStateStore.appendBuckets(fs, state, row("c", 1), Seq.empty)
    MarkerStateStore.swapBuckets(fs, state, row("d", 0), Seq(0))
    assert(text(s"$state/_marker.0000000000000000003") ==
      "0:3\n1:1,2\nend\n")
  }
}
