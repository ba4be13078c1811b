package graft

import org.apache.spark.sql.functions._
import graft.operators.Diagnose
import graft.text.{Bm25, Dedup, TextOps}

/** BM25 retrieval, FIM splitting, group-similarity, key-skew and
  * per-group boilerplate — the round-7 retrieval/observability family.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the rust memory safety borrow checker"),
    (2L, "the spark shuffle join optimizer spark spark"),
    (3L, "the spark streaming watermark"),
    (4L, "the the the the the the the the the the spark"),
    (5L, "the cooking pasta with garlic and oil")).toDF("doc_id", "text")

  test("bm25: tf raises, rarity raises, and length normalizes scores") {
    val queries = Seq((1L, "spark")).toDF("query_id", "term")
    val hits = Bm25.search(corpus, "text", "doc_id", queries, "query_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("rank"), r.getAs[Long]("score_pico"))).toMap
    // docs 2,3,4 match; 2 has tf=3 in 6 tokens -> top; 4 has tf=1 in
    // 11 tokens -> the length penalty puts it below 3 (tf=1, 3 tokens)
    assert(hits.keySet == Set(2L, 3L, 4L))
    assert(hits(2L)._1 == 1 && hits(3L)._1 == 2 && hits(4L)._1 == 3)
    assert(hits(2L)._2 > hits(3L)._2 && hits(3L)._2 > hits(4L)._2)
  }

  test("bm25: rare terms outscore stopword-common terms; absent query " +
    "terms are ignored; k caps the result") {
    val queries = Seq(
      (1L, "borrow"), (1L, "the"),   // rare + common
      (2L, "zzz_absent")).toDF("query_id", "term")
    val out = Bm25.search(corpus, "text", "doc_id", queries, "query_id")
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    // q2's only term misses the vocabulary entirely -> no rows
    assert(!byQ.contains(2L))
    // rare 'borrow' (doc 1) must outrank the 'the'-matching docs
    val q1 = byQ(1L).sortBy(_.getAs[Int]("rank"))
    assert(q1.head.getAs[Long]("doc_id") == 1L)
    val capped = Bm25.search(corpus, "text", "doc_id",
      Seq((9L, "spark")).toDF("query_id", "term"), "query_id", k = 2)
    assert(capped.count() == 2)
  }

  test("bm25: a persisted index serves identically to one-shot search") {
    val dir = tmpDir("bm25-ix")
    Bm25.buildIndex(corpus, "text", "doc_id").write
      .mode("overwrite").parquet(dir)
    val queries = Seq((1L, "spark"), (1L, "pasta"))
      .toDF("query_id", "term")
    val fromIndex = Bm25.topK(spark.read.parquet(dir), queries,
      "query_id", "doc_id").collect().toSet
    val oneShot = Bm25.search(corpus, "text", "doc_id", queries,
      "query_id").collect().toSet
    assert(fromIndex == oneShot && fromIndex.nonEmpty)
  }

  test("bm25 index lifecycle: write+append serves identically to " +
    "one-shot over the union; reads prune to the query buckets") {
    val dir = s"${tmpDir("bm25-life")}/idx"
    Bm25.writeBm25Index(corpus.filter(col("doc_id") <= 2), "text",
      "doc_id", dir, buckets = 8)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") > 2), "text",
      "doc_id", dir)
    val queries = Seq((1L, "spark"), (1L, "pasta"), (2L, "borrow"))
      .toDF("query_id", "term")
    val served = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id")
    val oneShot = Bm25.search(corpus, "text", "doc_id", queries,
      "query_id").collect().toSet
    assert(served.collect().toSet == oneShot && oneShot.nonEmpty)
    // the postings scan carries the bucket partition filter — a
    // 3-term query reads its buckets, not the index
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan.take(2000))
    // appends froze the fan-out: meta still says 8
    assert(graft.operators.MetaFile.read(
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      s"$dir/meta")("buckets").toInt == 8)
    // the append landed as a marker-committed segment: the live stats
    // dir keeps the creation row, the append's delta is its own
    // write-once batch, and they sum to the corpus
    assert(spark.read.parquet(s"$dir/stats").count() == 1L)
    assert(spark.read.parquet(s"$dir/stats_deltas/batch=2")
      .head().getLong(0) == 3L)
    assert(new java.io.File(s"$dir/postings_batches/batch=2")
      .isDirectory)
    assert(Bm25.indexStats(spark, dir).head().getLong(0) == 5L)
    // creation committed snapshot gen 1, the append gen 2; with the
    // default retain=1 only the ruling snapshot stays readable
    assert(Bm25.bm25Marker.listGenerations(spark, dir) == Seq(2L))
    // time travel: append with retain=2 keeps the pre-append snapshot
    // addressable — serving atGen replays the OLD corpus exactly
    val dir2 = s"${tmpDir("bm25-tt")}/idx"
    Bm25.writeBm25Index(corpus.filter(col("doc_id") <= 2), "text",
      "doc_id", dir2, buckets = 8)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") > 2), "text",
      "doc_id", dir2, retain = 2)
    assert(Bm25.bm25Marker.listGenerations(spark, dir2) == Seq(1L, 2L))
    val atOld = Bm25.topKFromIndex(spark, dir2, queries, "query_id",
      "doc_id", atGen = Some(1L)).collect().toSet
    val overOld = Bm25.search(corpus.filter(col("doc_id") <= 2),
      "text", "doc_id", queries, "query_id").collect().toSet
    assert(atOld == overOld && atOld != oneShot)
  }

  test("retention policy persists in the marker: create with " +
    "retain=3, later DEFAULT-retain lifecycle calls keep the window") {
    val dir = s"${tmpDir("bm25-ret")}/idx"
    Bm25.writeBm25Index(corpus.filter(col("doc_id") <= 2), "text",
      "doc_id", dir, buckets = 8, retain = 3)
    // two appends and a delete, all with the DEFAULT retain — the old
    // per-call minimum semantics would have collapsed the window to 1
    // at the first call
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") === 3), "text",
      "doc_id", dir)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") > 3), "text",
      "doc_id", dir)
    assert(Bm25.bm25Marker.listGenerations(spark, dir) == Seq(1L, 2L, 3L))
    // the create-time snapshot still serves
    val queries = Seq((1L, "spark"), (2L, "the"))
      .toDF("query_id", "term")
    val atCreate = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id", atGen = Some(1L)).collect().toSet
    val overFirstTwo = Bm25.search(
      corpus.filter(col("doc_id") <= 2), "text", "doc_id", queries,
      "query_id").collect().toSet
    assert(atCreate == overFirstTwo && atCreate.nonEmpty)
    Bm25.deleteFromBm25Index(Seq(3L).toDF("doc_id"), dir, "doc_id")
    assert(Bm25.bm25Marker.listGenerations(spark, dir) == Seq(2L, 3L, 4L))
    // compaction carries the persisted window forward too
    Bm25.compactBm25Index(spark, dir, "doc_id")
    assert(Bm25.bm25Marker.listGenerations(spark, dir).size == 3)
    // and a lifecycle call may RAISE the window for later callers
    Bm25.deleteFromBm25Index(Seq(4L).toDF("doc_id"), dir, "doc_id",
      retain = 4)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") === 3), "text",
      "doc_id", dir)
    assert(Bm25.bm25Marker.listGenerations(spark, dir).size == 4)
  }

  test("bm25 append of a token-empty batch writes NO segment, still " +
    "records the applied stream batch id, and never bricks the index") {
    val dir = s"${tmpDir("bm25-empty")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", dir, buckets = 8)
    // non-empty doc frame whose texts tokenize to zero terms (null
    // text: explode drops the row) — the StreamingBm25 batch.isEmpty
    // guard does NOT catch this shape
    val blank = Seq((99L, Option.empty[String]),
      (100L, Option.empty[String])).toDF("doc_id", "text")
    Bm25.appendToBm25Index(blank, "text", "doc_id", dir,
      appliedId = 7L)
    // no part-less postings_batches/batch dir was committed
    val bdir = new java.io.File(s"$dir/postings_batches")
    assert(!bdir.exists || bdir.listFiles().isEmpty)
    // the applied fact committed atomically (exactly-once holds)
    assert(Bm25.bm25Marker.read(spark, dir).applied == 7L)
    // every read path still works — the old zero-row segment write
    // made all of these throw "unable to infer schema"
    assert(Bm25.bm25IndexIds(spark, dir, "doc_id").count() == 5L)
    val queries = Seq((1L, "spark")).toDF("query_id", "term")
    assert(Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id").count() > 0)
    assert(Bm25.indexStats(spark, dir).head().getLong(0) == 5L)
    // a NON-stream empty append (appliedId = -1) is a pure no-op:
    // no new marker generation at all
    val gensBefore = Bm25.bm25Marker.listGenerations(spark, dir)
    Bm25.appendToBm25Index(blank, "text", "doc_id", dir)
    assert(Bm25.bm25Marker.listGenerations(spark, dir) == gensBefore)
  }

  test("bm25 index deletes: tombstoned docs never surface, idf/avgdl " +
    "track survivors, double-delete is a stats no-op, compaction " +
    "serves identically and reclaims the tree") {
    val dir = s"${tmpDir("bm25-del")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", dir, buckets = 8)
    val queries = Seq((1L, "spark"), (2L, "the")).toDF("query_id", "term")
    val dead = Seq(2L, 4L).toDF("doc_id")
    Bm25.deleteFromBm25Index(dead, dir, "doc_id")
    val served = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id").collect()
    assert(!served.exists(r => Set(2L, 4L)(r.getAs[Long]("doc_id"))))
    // scores equal in-memory BM25 over the SURVIVING corpus (idf and
    // avgdl must shift with the deletes, not just the candidate set)
    val survivors = corpus.filter(!col("doc_id").isin(2L, 4L))
    val oneShot = Bm25.search(survivors, "text", "doc_id", queries,
      "query_id").collect().toSet
    assert(served.toSet == oneShot && oneShot.nonEmpty)
    // deleting the same ids again adds a ZERO delta (live postings
    // already exclude them) — stats stay correct
    Bm25.deleteFromBm25Index(dead, dir, "doc_id")
    val st = Bm25.indexStats(spark, dir)
    assert(st.head().getLong(0) == 3L, // 5 − 2
      st.collect().mkString(";"))
    // compaction: identical serving, single re-based stats row in a
    // fresh marker-committed generation, no batch state left behind
    Bm25.compactBm25Index(spark, dir, "doc_id")
    val after = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id").collect().toSet
    assert(after == oneShot)
    assert(Bm25.indexStats(spark, dir).head().getLong(0) == 3L)
    // gens: create=1, delete=2, no-op delete=3, compact=4
    assert(spark.read.parquet(s"$dir/postings_gen=4").count() > 0L)
    assert(spark.read.parquet(s"$dir/stats_gen=4").count() == 1L)
    assert(!new java.io.File(s"$dir/postings").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(!new java.io.File(s"$dir/stats_deltas").exists())
  }

  test("bm25 index rebuild at a tombstoned path starts clean: no " +
    "stale lifecycle state survives writeBm25Index") {
    val dir = s"${tmpDir("bm25-rebuild")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", dir, buckets = 8)
    Bm25.deleteFromBm25Index(Seq(1L).toDF("doc_id"), dir, "doc_id")
    // the rebuild overwrites the WHOLE tree — a surviving tombstone
    // batch or _live marker would silently anti-join doc 1 out of
    // the fresh index (the round-12 ADVICE regression)
    Bm25.writeBm25Index(corpus, "text", "doc_id", dir, buckets = 8)
    val queries = Seq((1L, "spark")).toDF("query_id", "term")
    val served = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id")
    val oneShot = Bm25.search(corpus, "text", "doc_id", queries,
      "query_id").collect().toSet
    assert(served.collect().toSet == oneShot && oneShot.nonEmpty)
    assert(Bm25.indexStats(spark, dir).head().getLong(0) == 5L)
  }

  private lazy val emb = (0L until 12L).map(i => (i, Array.tabulate(8)(d =>
    (((i * 7 + d * 3) % 11).toFloat - 5.0f) / 3.0f)))
    .toDF("vec_id", "embedding")

  test("persisted hybrid: RRF over the BM25 + ANN index artifacts is " +
    "row-identical to the same legs computed in memory") {
    import graft.sim.SimSearch
    val bmDir = s"${tmpDir("hyb-bm")}/idx"
    val annDir = s"${tmpDir("hyb-ann")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", bmDir, buckets = 8)
    SimSearch.writeAnnIndex(emb, annDir, "vec_id", "embedding",
      planes = 4, dim = 8)
    // query vectors 6 and 10 share their sign buckets (at planes = 4)
    // with vectors 4 and 5, which the BM25 queries of the same qids
    // also hit: both legs are non-empty and overlap
    val queries = Seq((6L, "spark"), (10L, "pasta"))
      .toDF("query_id", "term")
    def fuse(bm: org.apache.spark.sql.DataFrame,
        cos: org.apache.spark.sql.DataFrame) =
      SimSearch.rrfFuse(Seq(
        bm.select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank")),
        cos.select(col("qid"), col("neighbor").as("id"),
          (col("rank") + 1).as("rank"))), k = 10)
        .collect().toSet
    val qEmb = emb.filter(col("vec_id").isin(6L, 10L))
    val bmLeg =
      Bm25.topKFromIndex(spark, bmDir, queries, "query_id", "doc_id")
    val annLeg = SimSearch.annTopKFromIndex(
      SimSearch.readAnnIndex(spark, annDir), qEmb, "vec_id", "embedding",
      k = 10, planes = 4, dim = 8)
    def pairs(df: org.apache.spark.sql.DataFrame, q: String, id: String) =
      df.select(q, id).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    val bmPairs = pairs(bmLeg, "query_id", "doc_id")
    val annPairs = pairs(annLeg, "qid", "neighbor")
    assert(bmPairs.nonEmpty && annPairs.nonEmpty, (bmPairs, annPairs))
    assert(bmPairs.intersect(annPairs).nonEmpty, (bmPairs, annPairs))
    val persisted = fuse(bmLeg, annLeg)
    val inMemory = fuse(
      Bm25.search(corpus, "text", "doc_id", queries, "query_id"),
      SimSearch.annTopK(emb, "vec_id", "embedding",
        col("vec_id").isin(6L, 10L), k = 10, planes = 4, dim = 8))
    assert(persisted == inMemory)
    assert(persisted.map(r => (r.getLong(0), r.getLong(1)))
      .intersect(bmPairs.intersect(annPairs)).nonEmpty)
  }

  /** BM25 + ANN indexes with one append and one delete batch pending:
    * BM25 holds docs 1-5 minus 2, ANN vectors 0-11 minus 3.
    */
  private def indexesWithDebt(): (String, String) = {
    import graft.sim.SimSearch
    val bmDir = s"${tmpDir("debt-bm")}/idx"
    val annDir = s"${tmpDir("debt-ann")}/idx"
    Bm25.writeBm25Index(corpus.filter(col("doc_id") <= 3), "text",
      "doc_id", bmDir, buckets = 8)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") > 3), "text",
      "doc_id", bmDir)
    Bm25.deleteFromBm25Index(Seq(2L).toDF("doc_id"), bmDir, "doc_id")
    SimSearch.writeAnnIndex(emb.filter(col("vec_id") < 8), annDir,
      "vec_id", "embedding", planes = 4, dim = 8)
    SimSearch.appendToAnnIndex(emb.filter(col("vec_id") >= 8), annDir,
      "vec_id", "embedding")
    SimSearch.deleteFromAnnIndex(Seq(3L).toDF("vec_id"), annDir)
    (bmDir, annDir)
  }

  private val debtQueries = Seq((1L, "spark"), (1L, "pasta"),
    (2L, "the")).toDF("query_id", "term")

  private def overLive(docs: org.apache.spark.sql.DataFrame) =
    Bm25.topK(Bm25.buildIndex(docs, "text", "doc_id"), debtQueries,
      "query_id", "doc_id").collect().toSet

  test("index snapshot resolution runs on the driver: topKFromIndex + " +
    "readAnnIndex start at most one job and infer no schema") {
    import graft.sim.SimSearch
    val (bmDir, annDir) = indexesWithDebt()
    val ((bm, ann), eager) = jobsOf {
      (Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
        "doc_id"), SimSearch.readAnnIndex(spark, annDir))
    }
    val names = eager.flatten
    assert(eager.length <= 1, names.mkString("; "))
    assert(!names.exists(_.startsWith("parquet at")), names.mkString("; "))
    // the rows are those of in-memory search over the live corpus
    val served = bm.collect().toSet
    assert(served == overLive(corpus.filter(col("doc_id") =!= 2L)) &&
      served.nonEmpty)
    assert(ann.select("vec_id").collect().map(_.getLong(0)).toSet ==
      ((0L until 12L).toSet - 3L))
  }

  test("indexes whose meta has no schema key (written before it " +
    "existed) serve identical rows through every lifecycle call") {
    import graft.sim.SimSearch
    val (bmDir, annDir) = indexesWithDebt()
    def serveBoth() = (
      Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
        "doc_id").collect().toSet,
      SimSearch.readAnnIndex(spark, annDir).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2))).toSet)
    val before = serveBoth()
    val annSchema = SimSearch.readAnnIndex(spark, annDir).schema
    for (dir <- Seq(bmDir, annDir)) {
      val meta = java.nio.file.Paths.get(s"$dir/meta")
      val lines = java.nio.file.Files.readAllLines(meta)
      assert(lines.removeIf(_.startsWith("schema=")))
      java.nio.file.Files.write(meta, lines)
      // the checksum sidecar of the local file system would no longer
      // match the edited file
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/.meta.crc"))
    }
    assert(serveBoth() == before && before._1.nonEmpty)
    assert(SimSearch.readAnnIndex(spark, annDir).schema == annSchema)
    // deletes infer the id type for their cast; compaction rewrites
    Bm25.deleteFromBm25Index(Seq(4).toDF("doc_id"), bmDir, "doc_id")
    SimSearch.deleteFromAnnIndex(Seq(4).toDF("vec_id"), annDir)
    Bm25.compactBm25Index(spark, bmDir, "doc_id")
    SimSearch.compactAnnIndex(spark, annDir)
    assert(Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
      "doc_id").collect().toSet ==
      overLive(corpus.filter(!col("doc_id").isin(2L, 4L))))
    assert(SimSearch.readAnnIndex(spark, annDir).count() == 10L)
  }

  test("IntegerType delete ids remove docs from LongType indexes of " +
    "both families; tombstones carry the index id type") {
    import graft.sim.SimSearch
    import org.apache.spark.sql.types.LongType
    val bmDir = s"${tmpDir("int-del-bm")}/idx"
    val annDir = s"${tmpDir("int-del-ann")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", bmDir, buckets = 8)
    SimSearch.writeAnnIndex(emb, annDir, "vec_id", "embedding",
      planes = 4, dim = 8)
    Bm25.deleteFromBm25Index(Seq(2, 4).toDF("doc_id"), bmDir, "doc_id")
    SimSearch.deleteFromAnnIndex(Seq(1, 5).toDF("vec_id"), annDir)
    assert(spark.read.parquet(s"$bmDir/tombstones/batch=2")
      .schema("doc_id").dataType == LongType)
    assert(spark.read.parquet(s"$annDir/tombstones/batch=2")
      .schema("vec_id").dataType == LongType)
    assert(Bm25.bm25IndexIds(spark, bmDir, "doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
      "doc_id").collect().toSet ==
      overLive(corpus.filter(!col("doc_id").isin(2L, 4L))))
    assert(SimSearch.readAnnIndex(spark, annDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet ==
      ((0L until 12L).toSet -- Set(1L, 5L)))
  }

  test("deleting every doc serves zero rows from both families") {
    import graft.sim.SimSearch
    val bmDir = s"${tmpDir("all-del-bm")}/idx"
    val annDir = s"${tmpDir("all-del-ann")}/idx"
    Bm25.writeBm25Index(corpus, "text", "doc_id", bmDir, buckets = 8)
    SimSearch.writeAnnIndex(emb, annDir, "vec_id", "embedding",
      planes = 4, dim = 8)
    Bm25.deleteFromBm25Index(corpus.select("doc_id"), bmDir, "doc_id")
    SimSearch.deleteFromAnnIndex(emb.select("vec_id"), annDir)
    assert(Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
      "doc_id").count() == 0L)
    assert(Bm25.indexStats(spark, bmDir).head().getLong(0) == 0L)
    assert(SimSearch.annTopKFromIndex(SimSearch.readAnnIndex(spark,
      annDir), emb, "vec_id", "embedding", k = 3, planes = 4, dim = 8)
      .count() == 0L)
  }

  private lazy val embVec =
    emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  /** Executes `df` and returns its final adaptive plan's shuffle
    * exchanges (reused ones not counted) and file scans.
    */
  private def executed(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    (rows, helper.collect(plan) { case e: ShuffleExchangeLike => e }.size,
      helper.collect(plan) { case s: FileSourceScanExec => s })
  }

  test("a fused BM25 + ANN serve over an append and a delete batch " +
    "runs at most 7 shuffle exchanges") {
    import graft.sim.SimSearch
    val (bmDir, annDir) = indexesWithDebt()
    // the BM25 queries' ids, with the vectors of indexed docs 5 and 6:
    // each probe finds at least that doc, so neither leg is empty (an
    // empty leg lets adaptive execution drop the fusion's join)
    val qv = Seq(1L -> embVec(5L), 2L -> embVec(6L))
      .toDF("vec_id", "embedding")
    val bm = Bm25.topKFromIndex(spark, bmDir, debtQueries, "query_id",
      "doc_id")
    val ann = SimSearch.annTopKFromIndex(SimSearch.readAnnIndex(spark,
      annDir), qv, "vec_id", "embedding", k = 10, planes = 4, dim = 8)
    val fused = SimSearch.rrfFuse(Seq(
      bm.select(col("query_id").as("qid"), col("doc_id").as("id"),
        col("rank")),
      ann.select(col("qid"), col("neighbor").as("id"),
        (col("rank") + 1).as("rank"))), k = 10)
    val (rows, shuffles, _) = executed(fused)
    assert(Seq(bm, ann).forall(!_.isEmpty))
    assert(rows.nonEmpty)
    // this plan runs 5; one that dedupes tombstones and query terms
    // inside the plan and fuses by full-outer joins runs 12
    assert(shuffles <= 7, s"$shuffles shuffle exchanges\n" +
      fused.queryExecution.executedPlan)
  }

  test("topKFromIndex matches in-memory topK for a query batch with " +
    "repeated (qid, term) rows, a null term and an absent term") {
    val dir = s"${tmpDir("bm25-qbatch")}/idx"
    Bm25.writeBm25Index(corpus.filter(col("doc_id") <= 3), "text",
      "doc_id", dir, buckets = 8)
    Bm25.appendToBm25Index(corpus.filter(col("doc_id") > 3), "text",
      "doc_id", dir)
    Bm25.deleteFromBm25Index(Seq(3L).toDF("doc_id"), dir, "doc_id")
    val queries = Seq[(Long, Option[String])]((1L, Some("spark")),
      (1L, Some("spark")), (1L, None), (1L, Some("the")),
      (2L, Some("pasta")), (2L, Some("zzz_absent")), (2L, Some("pasta")),
      (3L, None), (4L, Some("zzz_absent"))).toDF("query_id", "term")
    val served = Bm25.topKFromIndex(spark, dir, queries, "query_id",
      "doc_id")
    val want = Bm25.topK(Bm25.buildIndex(corpus.filter(col("doc_id") =!=
      3L), "text", "doc_id"), queries, "query_id", "doc_id")
    // dtypes match (the declared index read is all-nullable)
    assert(served.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val got = served.collect().toSet
    assert(got == want.collect().toSet)
    assert(got.map(_.getLong(0)) == Set(1L, 2L))
  }

  test("annTopKFromIndex scans only the probed bucket directories of " +
    "every live segment") {
    import graft.sim.SimSearch
    val (_, annDir) = indexesWithDebt()
    val qv = Seq(1L, 6L).map(i => i -> embVec(i)).toDF("vec_id", "embedding")
    val probeBits = 1
    val probed = qv.select(SimSearch.simhashBucket(col("embedding"), 4, 8))
      .collect().map(_.getLong(0))
      .flatMap(b => Seq(b, b ^ 1L)).toSet
    def bucketDirs(dir: String): Set[Long] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toLong)
        .toSet
    val segments = Seq(s"$annDir/vectors", s"$annDir/vectors_batches/batch=2")
    val all = segments.map(d => bucketDirs(d).size).sum
    val want = segments.map(d => (bucketDirs(d) & probed).size).sum
    assert(want < all, s"every bucket is probed: $probed")
    val index = SimSearch.readAnnIndex(spark, annDir)
    val served = SimSearch.annTopKFromIndex(index, qv, "vec_id",
      "embedding", k = 5, planes = 4, dim = 8, probeBits = probeBits)
    val (rows, _, scans) = executed(served)
    val vectorScans = scans.filter(s =>
      s.relation.location.rootPaths.exists(p =>
        p.toString.contains("/vectors")))
    assert(vectorScans.size == segments.size)
    val read = vectorScans.map(_.metrics("numPartitions").value).sum
    assert(read == want, s"read $read bucket dirs, probed $want of $all")
    // the rows are those of the unpruned bucket join
    val unpruned = SimSearch.annTopK(emb.filter(col("vec_id") =!= 3L),
      "vec_id", "embedding", col("vec_id").isin(1L, 6L), k = 5,
      planes = 4, dim = 8, probeBits = probeBits)
    assert(rows.toSet == unpruned.collect().toSet && rows.nonEmpty)
  }

  test("fimSplit: prefix+middle+suffix reassemble every doc; cuts are " +
    "deterministic per seed and move with it") {
    val out = TextOps.fimSplit(corpus, "text", "doc_id", seed = 17L)
    // empty prefix/middle/suffix parts add stray separators, so
    // compare empty-filtered token arrays rather than raw strings
    val bad = out.join(corpus, Seq("doc_id"))
      .filter(filter(split(concat_ws(" ", col("prefix"), col("middle"),
          col("suffix")), " "), t => t =!= "") =!=
        split(col("text"), " "))
      .count()
    assert(bad == 0)
    val again = TextOps.fimSplit(corpus, "text", "doc_id", seed = 17L)
    assert(out.collect().toSet == again.collect().toSet)
    val other = TextOps.fimSplit(corpus, "text", "doc_id", seed = 18L)
    assert(out.select("doc_id", "n_prefix", "n_middle").collect().toSet !=
      other.select("doc_id", "n_prefix", "n_middle").collect().toSet)
    // bounds: 0 <= n_prefix, n_prefix + n_middle <= n_tokens
    assert(out.filter(col("n_prefix") < 0 ||
      col("n_prefix") + col("n_middle") > col("n_tokens")).count() == 0)
  }

  test("groupSimilarity: identical groups read 1.0, disjoint ~0") {
    val g = Seq(
      ("a", "one two three four five six seven"),
      ("a", "alpha beta gamma delta epsilon zeta"),
      ("b", "one two three four five six seven"),
      ("b", "alpha beta gamma delta epsilon zeta"),
      ("c", "red orange yellow green blue indigo violet"))
      .toDF("src", "text")
    val sim = Dedup.groupSimilarity(g, "text", "src")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("est_jaccard")).toMap
    assert(sim(("a", "b")) == 1.0)
    assert(sim(("a", "c")) < 0.2 && sim(("b", "c")) < 0.2)
  }

  test("keySkew: ordered heavy hitters with exact shares, ties by key") {
    val df = (Seq.fill(6)("w") ++ Seq.fill(2)("x") ++ Seq.fill(2)("m") ++
      Seq("z")).toDF("k")
    val rows = Diagnose.keySkew(df, "k", topK = 3).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("w", "m", "x"))
    assert(rows.map(_.getAs[Long]("n_rows")).toSeq == Seq(6L, 2L, 2L))
    assert(math.abs(rows.head.getAs[Double]("share") - 0.545455) < 1e-9)
    assert(rows.forall(_.getAs[Long]("total_rows") == 11L))
  }

  test("dedupLinesPerGroup: a line hot in one source survives in " +
    "another where it is rare") {
    val df = Seq(
      (1L, "s1", "promo | body one"),
      (2L, "s1", "promo | body two"),
      (3L, "s2", "promo | body three"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.dedupLinesPerGroup(df, "text", "doc_id", "source",
      delimiter = " | ", maxDocs = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("clean_text")).toMap
    // 'promo' repeats across docs 1,2 (same source) -> dropped there;
    // source s2 saw it once -> doc 3 keeps it
    assert(out(1L) == "body one" && out(2L) == "body two")
    assert(out(3L) == "promo | body three")
    // corpus-global dedup would have dropped it everywhere
    val global = Dedup.dedupLines(df, "text", "doc_id",
      delimiter = " | ", maxDocs = 2)
    assert(global.filter(col("doc_id") === 3L)
      .head().getAs[String]("clean_text") == "body three")
  }

  test("topTerms: rare terms outrank stopwords, ties break by term, " +
    "k caps per doc") {
    val df = Seq(
      (1L, "the the the rust borrow"),
      (2L, "the spark"),
      (3L, "the spark")).toDF("doc_id", "text")
    val got = TextOps.topTerms(df, "text", "doc_id", k = 2,
      TextOps.tokensSimple)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
      .toMap
    // doc 1: 'rust'/'borrow' are df=1 → tfidf 2.0 each; 'the' is df=3
    // at tf=3 → 3·4/4 = 3.0 — the raw-tf flavor keeps 'the' first,
    // then the df=1 pair ties and breaks alphabetically
    assert(got((1L, 0)) == "the")
    assert(got((1L, 1)) == "borrow")
    // docs 2/3: spark (df=2 → 4/3) outranks the (df=3 → 1.0)
    assert(got((2L, 0)) == "spark" && got((2L, 1)) == "the")
    // k caps: exactly 2 rows per doc
    assert(got.size == 6)
  }

  test("phraseSearch: consecutive-only matches, overlap counting, and " +
    "n-term chains") {
    val df = Seq(
      (1L, "a b c a b c"),       // "a b c" twice, "b c" twice
      (2L, "a c b"),             // has a,b,c but never the phrase
      (3L, "x a b y"),           // "a b" once at pos 2
      (4L, "a a a a")).toDF("doc_id", "text") // "a a" overlaps 3x
    val idx = Bm25.positionalIndex(df, "text", "doc_id")
    def got(phrase: Seq[String]) =
      Bm25.phraseSearch(idx, phrase, "doc_id").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_matches"), r.getAs[Int]("first_pos"))).toMap
    assert(got(Seq("a", "b")) ==
      Map(1L -> (2L, 1), 3L -> (1L, 2)))
    assert(got(Seq("a", "b", "c")) == Map(1L -> (2L, 1)))
    // postings semantics: every starting position counts, overlaps too
    assert(got(Seq("a", "a")) == Map(4L -> (3L, 1)))
    // single-term phrase degenerates to the postings themselves
    assert(got(Seq("c")) == Map(1L -> (2L, 3), 2L -> (1L, 2)))
    // absent phrase: empty result, not an error
    assert(got(Seq("b", "x")).isEmpty)
  }
}
