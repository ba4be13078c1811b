package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{LiveRead, MetaFile}

/** BM25 ranked retrieval over a document corpus — the standard Okapi
  * scoring function in its Lucene flavor (`idf = ln(1 + (N−df+0.5)/
  * (df+0.5))`, always positive), built as a plain inverted-index
  * pipeline on relational primitives. This is the retrieval step a
  * training-data platform needs beyond [[TextOps.tfidf]]'s ranking
  * weights: "which documents answer this query" — for eval-set
  * curation, targeted corpus audits ("show me the docs about X"), and
  * RAG-style context mining over the lake.
  *
  * Cross-engine exactness (the [[Dsir]] micro-nat discipline): the two
  * transcendental/division-bearing factors are each snapped to integer
  * micro-units ONCE — `idf_micro` per TERM (a vocabulary-sized table),
  * `tfn_micro` per (doc, term) POSTING (one fixed IEEE chain both
  * engines replay identically) — and the per-(query, doc) score is then
  * pure BIGINT arithmetic (`Σ idf_micro · tfn_micro`, reported in
  * pico-units), so ranking replays bit-exactly in a SQL oracle and
  * never depends on float summation order.
  *
  * Scale shape (100 TB corpus, 1000 executors): [[buildIndex]] is one
  * explode + one (doc, term) hash aggregation — the only corpus-sized
  * shuffle, done ONCE and persisted (write-once-query-many, like the
  * signature/ANN index family). [[idfTable]] folds the index to
  * vocabulary size. Serving ([[topK]]) joins the query terms against
  * the tiny idf slice, BROADCASTS that slice, probes the inverted
  * index map-side (a term-keyed index is partition-prunable on term),
  * and aggregates candidates per (query, doc); the final top-k window
  * partitions by query over candidate sets only — never the corpus.
  */
object Bm25 {

  /** Inverted index: one posting row per (doc, term) —
    * `(idCol, term, tf, dl)` with `tf` the in-doc term count and `dl`
    * the document token length (carried on every posting so scoring
    * never joins back to the corpus). Build once, persist, serve many.
    */
  def buildIndex(df: DataFrame, textCol: String, idCol: String,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame =
    df.select(col(idCol), tokenizer(col(textCol)).as("_toks"))
      .select(col(idCol), greatest(size(col("_toks")), lit(0)).as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** Corpus stats the scorer needs: one row `(_n, _avgdl)` — document
    * count and average token length. Derived from the index's per-doc
    * lengths, so a persisted index is self-sufficient. (Documents with
    * zero tokens carry no postings and thus drop from N — they can
    * never match a query anyway.)
    */
  def corpusStats(index: DataFrame, idCol: String): DataFrame =
    statsDelta(index, idCol)
      .select(col("n_docs").as("_n"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("_avgdl"))

  /** Per-term idf in integer micro-nats:
    * `round(ln(1 + (N−df+0.5)/(df+0.5)) · 10⁶)`. Vocabulary-sized;
    * compute alongside the index and persist with it.
    */
  def idfTable(index: DataFrame, idCol: String): DataFrame =
    index.groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(corpusStats(index, idCol)))
      .select(col("term"), idfMicroExpr(col("_n")).as("idf_micro"))

  /** idf of every term in `postings` against a literal N. */
  private def idfOf(postings: DataFrame, n: Column): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .select(col("term"), idfMicroExpr(n).as("idf_micro"))

  /** The Lucene-flavor idf chain, shared by the in-memory and
    * persisted-index paths so both serve bit-identical scores.
    */
  private def idfMicroExpr(n: Column): Column =
    round(log(((n - col("_df")).cast("double") + 0.5) /
      (col("_df").cast("double") + 0.5) + 1.0) * 1000000.0)
      .cast("long")

  /** `(N, avgdl)` literals off `(n_docs, sum_dl)` rows: Spark `sum`
    * null semantics (nulls skipped, all-null = null), then the
    * [[corpusStats]] division — null for a null sum or a zero count.
    */
  private def statLits(rows: Array[Row]): (Column, Column) = {
    def total(i: Int): java.lang.Long = {
      val v = rows.filterNot(_.isNullAt(i)).map(_.getLong(i))
      if (v.isEmpty) null else v.sum
    }
    val (n, sumDl) = (total(0), total(1))
    val avgdl =
      if (n == null || sumDl == null || n == 0L) null
      else java.lang.Double.valueOf(sumDl.toDouble / n.toDouble)
    (lit(n).cast("long"), lit(avgdl).cast("double"))
  }

  /** Top-k BM25 retrieval of `queries` (exploded `(queryIdCol, term)`
    * rows — term multiplicity is ignored, the standard bag-of-terms
    * query model) against a prebuilt `index`. Returns
    * `(queryIdCol, idCol, rank, score_pico)` with rank 1..k per query,
    * ties broken by ascending id; `score_pico` is the exact BIGINT
    * `Σ idf_micro · tfn_micro` (1e-12 score units).
    */
  def topK(index: DataFrame, queries: DataFrame, queryIdCol: String,
      idCol: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    // the 1-row stats fold runs once, on the driver: the idf fold and
    // the scorer take N and avgdl as literals
    val (n, avgdl) = statLits(statsDelta(index, idCol).collect())
    val qterms = queries.select(col(queryIdCol), col("term")).distinct()
      .join(idfOf(index, n), Seq("term"))
    scoreTopK(index, qterms, avgdl, queryIdCol, idCol, k, k1, b)
  }

  /** The scoring tail [[topK]] and [[topKFromIndex]] share — one code
    * path, so persisted-index serving is row-identical to in-memory
    * search by construction: broadcast query-term idf slice, map-side
    * posting probe, one fixed IEEE chain for the length-normalized tf
    * (against the literal `avgdl`) snapped to micro-units per posting,
    * exact BIGINT score fold, per-query top-k window over candidates
    * only.
    */
  private def scoreTopK(index: DataFrame, qterms: DataFrame,
      avgdl: Column, queryIdCol: String, idCol: String, k: Int,
      k1: Double, b: Double): DataFrame = {
    val tfD = col("tf").cast("double")
    val tfn = (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) +
        lit(b) * (col("dl").cast("double") / avgdl)))
    val scored = index
      .join(broadcast(qterms), Seq("term"))
      .select(col(queryIdCol), col(idCol),
        (col("idf_micro") * round(tfn * 1000000.0).cast("long"))
          .as("_s"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("_s")).as("score_pico"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("score_pico").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"),
        col("score_pico"))
  }

  /** One-shot convenience: index + retrieve in a single call (the
    * ad-hoc-audit path; production builds the index once).
    */
  def search(docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, queryIdCol: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame =
    topK(buildIndex(docs, textCol, idCol, tokenizer), queries,
      queryIdCol, idCol, k, k1, b)

  /** Positional inverted index: one row per token OCCURRENCE —
    * `(idCol, term, pos)`, pos 1-based. The phrase-query twin of
    * [[buildIndex]] (which keeps only per-doc counts): positions are
    * what turn an inverted index from "docs containing these words"
    * into "docs containing this exact phrase". Build once, persist
    * (ideally partitioned/bucketed by term so a phrase probe prunes to
    * its terms' partitions), serve many.
    */
  def positionalIndex(df: DataFrame, textCol: String, idCol: String,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame =
    df.select(col(idCol),
        posexplode(tokenizer(col(textCol))).as(Seq("_p", "term")))
      .select(col(idCol), col("term"),
        (col("_p") + 1).cast("int").as("pos"))

  /** Exact phrase search against a positional index: documents where
    * `phrase`'s terms occur CONSECUTIVELY, with the match count and the
    * first match position per doc. The plan is a chain of equi-joins on
    * `(id, pos)` between per-term index slices — anchor postings for
    * term 0, then each term i probes `(id, anchor_pos + i)` — so the
    * corpus is never rescanned (the regex alternative at 100 TB) and
    * every intermediate is candidate-sized: the chain narrows
    * monotonically, bounded by the scarcest PREFIX term's postings.
    * (Starting from the globally rarest term would bound by the rarest
    * term at the cost of a stats lookup; anchor order is semantically
    * irrelevant, so callers with a persisted [[idfTable]] can simply
    * rotate the phrase's anchor themselves.) Term filters push into the
    * index scan — on a term-partitioned persisted index they prune
    * files, not just rows.
    *
    * Overlapping self-matches follow postings semantics: every position
    * where the phrase starts counts ("a a a" matches "a a" twice).
    */
  def phraseSearch(index: DataFrame, phrase: Seq[String],
      idCol: String): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val anchor = index.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matches = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (term, i)) =>
        acc.join(
          index.filter(col("term") === term)
            .select(col(idCol), (col("pos") - i).cast("int").as("pos")),
          Seq(idCol, "pos"))
    }
    matches.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  /** One-shot phrase search over a corpus (index + probe in one call). */
  def phraseSearchDocs(docs: DataFrame, textCol: String, idCol: String,
      phrase: Seq[String],
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame =
    phraseSearch(positionalIndex(docs, textCol, idCol, tokenizer),
      phrase, idCol)

  // ── persisted inverted-index lifecycle ────────────────────────────
  // The sparse-retrieval sibling of the persisted ANN/PQ index family
  // (sim/SimSearch.scala): build the corpus-sized index ONCE, lay the
  // postings out so a query touches only its terms' partitions, and
  // let incremental drops append without touching history.
  //
  // Layout under <path>/ (the `_live` marker-generation commit
  // protocol, [[graft.operators.LiveMarker]] — every mutation is
  // write-once dirs + ONE marker PUT, object-store safe):
  //   meta            driver-written [[graft.operators.MetaFile]],
  //                   frozen at creation: `buckets` (the term-hash
  //                   fan-out; appends must agree or probes miss) and
  //                   `schema` (the postings read schema as DDL,
  //                   declared by every read — [[graft.operators
  //                   .LiveRead]]; an index written before the key
  //                   existed infers it once per read from the live
  //                   generation and reuses it for every segment)
  //   postings/ or postings_gen=<G>/
  //                   the LIVE postings generation: (idCol, term, tf,
  //                   dl) partitioned by bucket = pmod(xxhash64(term),
  //                   buckets) — a query's terms map to a FIXED
  //                   bucket set, so serving reads only those
  //                   partitions (partition pruning, the scale
  //                   feature)
  //   stats/ or stats_gen=<G>/
  //                   the LIVE generation's (n_docs, sum_dl) stats
  //                   rows; readers SUM them with the batch deltas
  //   postings_batches/batch=<B>/  write-once APPEND segments, same
  //                   bucket layout as the live generation — an
  //                   append never touches existing directories
  //   tombstones/batch=<B>/     write-once deleted-id batches,
  //                   cast to the index's id type
  //   stats_deltas/batch=<B>/   the matching stats delta (positive
  //                   for an append batch, NEGATIVE for a delete
  //                   batch) — committed TOGETHER with its batch by
  //                   the batch's one marker PUT, so a torn append
  //                   or delete can never leave stats and postings
  //                   disagreeing
  //   _live.<gen>     the ruling-state marker (see [[LiveMarker]])
  //
  // idf is NOT persisted: df(term) lives entirely inside the term's
  // bucket (hash-complete), so serving derives it from the pruned
  // read — which keeps appends cheap AND keeps idf automatically
  // current as N grows (a frozen idf table would go stale per append).

  private val bm25Marker = new graft.operators.LiveMarker(
    Seq(("postings", "postings", "postings_gen="),
      ("stats", "stats", "stats_gen=")),
    Seq("tombstones", "stats_deltas", "postings_batches"))

  /** Create the persisted index. Overwrites the ENTIRE `path` tree
    * first — including any tombstones, stats-delta batches, append
    * segments, gen directories, and `_live` markers from a previous
    * index at the same path — so a rebuild can never inherit a stale
    * lifecycle state (a surviving tombstone set would silently
    * anti-join fresh ids out of the new index). Commits the pristine
    * layout as snapshot gen 1 (one marker PUT), so the creation
    * state stays [[readAtGen]]-addressable and a stream bootstrap can
    * record its applied batch id atomically with the data
    * (`appliedId`; -1 = not a stream batch).
    */
  def writeBm25Index(docs: DataFrame, textCol: String, idCol: String,
      path: String, buckets: Int = 64,
      tokenizer: Column => Column = TextOps.tokensSimple,
      appliedId: Long = -1L, retain: Int = 1): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    val fs = LiveRead.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(
        s"bm25 index rebuild failed to clear $path")
    // intent file: a crash mid-create reads as "bootstrap in
    // progress" to assertStreamBootstrapSafe, not as a legacy layout
    bm25Marker.markBootstrap(fs, path)
    val idx = buildIndex(docs, textCol, idCol, tokenizer)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .persist() // postings write + the stats delta
    // frozen creation parameters as a driver-written file — a 1-row
    // parquet meta dir costs a Spark job per write and per read
    MetaFile.write(fs, s"$path/meta", Seq(
      "buckets" -> buckets.toString,
      "schema" -> LiveRead.schemaDdl(idx.schema)))
    // cluster by bucket before the write: one size-bounded file set
    // per bucket instead of tasks×buckets small files (WriteLayout)
    graft.operators.WriteLayout.clusterBy(idx, "bucket")
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/postings")
    statsDelta(idx, idCol).write.mode("overwrite")
      .parquet(s"$path/stats")
    idx.unpersist()
    bm25Marker.put(fs, path, graft.operators.LiveState(1L,
      Map("postings" -> "postings", "stats" -> "stats"),
      Seq.empty, Seq.empty, appliedId), retain)
    bm25Marker.clearBootstrap(fs, path)
  }

  /** Guard a STREAM's bootstrap decision ([[graft.streaming
    * .StreamingBm25]]): throws instead of letting the stream
    * re-bootstrap over an index tree this protocol never committed
    * (legacy pre-marker layout, foreign directory) — see
    * [[graft.operators.LiveMarker.assertBootstrapSafe]].
    */
  def assertStreamBootstrapSafe(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    bm25Marker.assertBootstrapSafe(LiveRead.fs(spark, path), path, "bm25")

  /** Append NEW documents (caller contract: ids must not already be
    * in the index — a re-ingested id would double its postings and
    * overcount df; dedupe upstream, the q13 family). MARKER-COMMITTED
    * (the delete-batch discipline applied to appends): the batch's
    * postings land as a write-once `postings_batches/batch=<B>`
    * segment in the frozen bucket layout, its stats delta as
    * `stats_deltas/batch=<B>`, and the commit is ONE `_live` marker
    * PUT referencing both — a crash before the PUT leaves both
    * halves unreferenced (the append did not happen; the next
    * writer's heal clears the orphans and a retry lands once), so
    * postings and stats can never disagree and a replayed streaming
    * batch can never double-append. Nothing existing is rewritten;
    * [[compactBm25Index]] folds accumulated segments later.
    *
    * `retain` = committed snapshots kept readable (see
    * [[compactBm25Index]]); `appliedId` = stream batch id recorded
    * atomically with the commit (-1 = not a stream batch).
    */
  def appendToBm25Index(docs: DataFrame, textCol: String, idCol: String,
      path: String,
      tokenizer: Column => Column = TextOps.tokensSimple,
      retain: Int = 1, appliedId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    val fs = LiveRead.fs(spark, path)
    val buckets = MetaFile.read(fs, s"$path/meta")("buckets").toInt
    bm25Marker.heal(fs, path, retain) // clear crashed-writer orphans
    val live = bm25Marker.read(fs, path)
    val b = live.gen + 1L
    val idx = buildIndex(docs, textCol, idCol, tokenizer)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .persist()
    if (idx.isEmpty) {
      // token-empty batch (non-empty docs whose texts tokenize to
      // zero terms): a zero-row partitionBy write creates a part-less
      // batch directory, and a marker referencing it bricks every
      // later read ("unable to infer schema"). Write nothing; commit
      // ONLY the applied stream batch id so exactly-once still holds
      // (a replay sees sid >= batchId and skips).
      idx.unpersist()
      if (appliedId > live.applied)
        bm25Marker.put(fs, path,
          live.copy(gen = b, applied = appliedId), retain)
    } else {
      graft.operators.WriteLayout.clusterBy(idx, "bucket")
        .write.partitionBy("bucket").mode("errorifexists")
        .parquet(s"$path/postings_batches/batch=$b")
      statsDelta(idx, idCol).write.mode("errorifexists")
        .parquet(s"$path/stats_deltas/batch=$b")
      idx.unpersist()
      bm25Marker.put(fs, path, live.copy(gen = b,
        appends = live.appends :+ b,
        applied = math.max(live.applied, appliedId)), retain)
    }
    bm25Marker.heal(fs, path, retain)
  }

  /** One (n_docs, sum_dl) delta row off the index's per-doc lengths —
    * the summands [[corpusStats]] folds, so summed deltas reproduce
    * its `(_n, _avgdl)` exactly.
    */
  private def statsDelta(idx: DataFrame, idCol: String): DataFrame =
    idx.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** All live stats delta rows, read with their fixed schema: the
    * live stats dir's rows plus the marker-referenced batches' deltas
    * (positive for appends, negative for deletes).
    */
  private def statsRows(spark: org.apache.spark.sql.SparkSession,
      path: String, live: graft.operators.LiveState): DataFrame =
    spark.read.schema("n_docs BIGINT, sum_dl BIGINT").parquet(
      s"$path/${live.dir("stats")}" +:
        (live.batches ++ live.appends)
          .map(b => s"$path/stats_deltas/batch=$b"): _*)

  /** The index's summed corpus stats `(n_docs, sum_dl)` — one row,
    * reflecting every committed append and delete.
    */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    statsRows(spark, path,
      bm25Marker.read(LiveRead.fs(spark, path), path))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_dl")).as("sum_dl"))

  /** Serve top-k from the persisted index — row-identical to [[topK]]
    * over the same logical corpus (shared [[scoreTopK]] tail), but the
    * postings READ is pruned to the query terms' buckets: the query
    * batch (a query set, not a corpus — bounded by contract) is
    * collected ONCE and resolved on the driver. There its
    * `(queryIdCol, term)` pairs and its non-null terms are
    * deduplicated, and the terms map to bucket ids through the write
    * path's `pmod(xxhash64(term), buckets)` (evaluated over a local
    * frame, so no job); `bucket IN (ids)` then prunes the partitions
    * of every directory read, so a 3-term query over a billion-doc
    * index reads 3 buckets, not the lake. The df pass counts the
    * pruned postings directly, and the join with a local frame of the
    * distinct pairs keeps only the query terms' idf — no distinct or
    * term join over the query frame runs inside the plan. The scan
    * gets no `term IN` test: the pair join drops the other terms
    * anyway, and on the `hybrid_index` benchmark such a test nearly
    * doubled the bytes read per serve with no gain in serve latency.
    * Snapshot resolution is driver-side too: file reads and ONE
    * collect of the stats rows into the literal `(N, avgdl)`.
    */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryIdCol: String,
      idCol: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, atGen: Option[Long] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.StructType
    val fs = LiveRead.fs(spark, path)
    val meta = LiveRead.meta(spark, path)
    val buckets = meta("buckets").toLong
    val live = atGen.map(bm25Marker.readAt(fs, path, _))
      .getOrElse(bm25Marker.read(fs, path))
    val pairFrame = queries.select(col(queryIdCol), col("term"))
    val pairs = pairFrame.collect().distinct.toSeq
    val terms = pairs.map(_.get(1)).filter(_ != null).distinct
    val termSchema = StructType(Seq(pairFrame.schema("term")))
    val bucketIds = spark.createDataFrame(terms.map(Row(_)).asJava,
        termSchema)
      .select(pmod(xxhash64(col("term")), lit(buckets)))
      .collect().map(_.getLong(0)).distinct.toSeq
    val postings = LiveRead.rows(spark, path, live, "postings",
      "postings_batches", meta, idCol,
      Some(col("bucket").isin(bucketIds: _*)))
    val (n, avgdl) = statLits(statsRows(spark, path, live).collect())
    val qterms = spark.createDataFrame(pairs.asJava, pairFrame.schema)
    // df(term) off the pruned LIVE read — hash-complete per term,
    // tombstoned docs already excluded so idf shifts with deletes;
    // the pair join keeps the query terms' rows
    val qi = qterms.join(broadcast(idfOf(postings, n)), Seq("term"))
    scoreTopK(postings, qi, avgdl, queryIdCol, idCol, k, k1, b)
  }

  /** Delete documents from the persisted index: the batch's ids land
    * as a write-once `tombstones/batch=<B>` dir, the matching
    * NEGATIVE stats delta (computed from ONE postings scan over the
    * deleted ids — per delete batch, not per query) as
    * `stats_deltas/batch=<B>`, and the commit is the next `_live`
    * marker PUT referencing both — so `(_n, _avgdl)` and serve-time
    * idf reflect the removal exactly when the tombstones do, and a
    * crash before the PUT leaves both halves unreferenced (the
    * delete simply did not happen — retry). Nothing is rewritten;
    * [[compactBm25Index]] reclaims the space later. Ids deleted
    * twice or never present contribute nothing.
    */
  def deleteFromBm25Index(ids: DataFrame, path: String,
      idCol: String, retain: Int = 1): Unit = {
    val spark = ids.sparkSession
    val fs = LiveRead.fs(spark, path)
    // clear any orphan of a crashed writer
    bm25Marker.heal(fs, path, retain)
    val live = bm25Marker.read(fs, path)
    val b = live.gen + 1L
    val postings = LiveRead.rows(spark, path, live, "postings",
      "postings_batches", LiveRead.meta(spark, path), idCol)
    // ids in the index's id type, so the declared tombstone read
    // matches the file (an id the type cannot hold becomes null)
    val idSet = ids.select(col(idCol)
      .try_cast(postings.schema(idCol).dataType).as(idCol))
      .distinct().persist()
    // negative delta off the CURRENT live postings
    val gone = postings.join(broadcast(idSet), Seq(idCol), "left_semi")
    statsDelta(gone, idCol)
      .select((-col("n_docs")).as("n_docs"),
        (-col("sum_dl")).as("sum_dl"))
      .write.mode("errorifexists")
      .parquet(s"$path/stats_deltas/batch=$b")
    idSet.write.mode("errorifexists")
      .parquet(s"$path/tombstones/batch=$b")
    idSet.unpersist()
    bm25Marker.put(fs, path,
      live.copy(gen = b, batches = live.batches :+ b), retain)
    bm25Marker.heal(fs, path, retain) // GC outside the window
  }

  /** Generation compaction: rewrite the live postings (generation
    * plus append segments) MINUS the accumulated tombstones into a
    * fresh write-once `postings_gen=<G>` dir, re-base the summed
    * stats deltas to ONE row in `stats_gen=<G>`, and commit both
    * (with empty batch lists) via one marker PUT; state outside the
    * retention window GCs afterwards. Readers see either the old
    * generation + batch overlay or the new compacted generation —
    * never an intermediate — so compaction is atomic under
    * concurrent readers on any PUT-consistent store, and a reader
    * STILL MID-SCAN on a superseded snapshot survives as long as
    * `retain` covers the longest expected scan (the
    * [[graft.operators.PoolCommit]] retention contract — with the
    * default `retain = 1` only the ruling snapshot's files stay on
    * disk). Serving before and after is row-identical (the lifecycle
    * gate q291 `require`s it). Also collapses the small files of
    * accumulated appends, so it doubles as the index's periodic
    * file-compaction pass.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, retain: Int = 1): Unit = {
    val fs = LiveRead.fs(spark, path)
    bm25Marker.heal(fs, path, retain)
    val live = bm25Marker.read(fs, path)
    val gen = live.gen + 1L
    val kept = LiveRead.rows(spark, path, live, "postings",
      "postings_batches", LiveRead.meta(spark, path), idCol)
      .persist() // rewrite + re-based stats
    graft.operators.WriteLayout.clusterBy(kept, "bucket")
      .write.partitionBy("bucket").mode("errorifexists")
      .parquet(s"$path/postings_gen=$gen")
    statsDelta(kept, idCol).coalesce(1).write.mode("errorifexists")
      .parquet(s"$path/stats_gen=$gen")
    kept.unpersist()
    bm25Marker.put(fs, path, graft.operators.LiveState(gen,
      Map("postings" -> s"postings_gen=$gen",
        "stats" -> s"stats_gen=$gen"),
      Seq.empty, Seq.empty, live.applied, live.retain), retain)
    bm25Marker.heal(fs, path, retain) // GC outside the window
  }

  /** Compaction POLICY: compact when the marker's outstanding
    * append + tombstone batch count exceeds `maxSegments` — serving
    * unions every outstanding segment per read, so an unbounded
    * stream lifetime means unbounded per-read union width unless
    * something schedules the compaction that already exists. The
    * streaming twins call this per batch (their `maxSegments` knob);
    * batch deployments can call it on the removal pipeline's cadence.
    * Returns true when a compaction ran. Safe mid-stream: the
    * compacted marker carries the applied batch id forward.
    */
  def compactBm25IndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, maxSegments: Int,
      retain: Int = 1): Boolean = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val live = bm25Marker.read(LiveRead.fs(spark, path), path)
    val n = live.batches.size + live.appends.size
    if (n > maxSegments) {
      compactBm25Index(spark, path, idCol, retain); true
    } else false
  }

  /** The distinct LIVE document ids of a persisted index — the
    * membership probe the takedown/audit pipeline reads before and
    * after a removal ([[graft.operators.Takedown]]). One pruned-read
    * aggregation over the live postings; tombstoned ids never
    * surface.
    */
  def bm25IndexIds(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame = {
    val live = bm25Marker.read(LiveRead.fs(spark, path), path)
    LiveRead.rows(spark, path, live, "postings", "postings_batches",
      LiveRead.meta(spark, path), idCol).select(col(idCol)).distinct()
  }

  /** The committed snapshot generations still readable (oldest
    * first) — [[topKFromIndex]]'s `atGen` accepts any of them until
    * a lifecycle writer's GC ages it out of its `retain` window.
    */
  def bm25Generations(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    bm25Marker.listGenerations(LiveRead.fs(spark, path), path)

  /** The highest stream batch id committed into this index's marker
    * chain (-1 = none) — [[graft.streaming.StreamingBm25]]'s
    * exactly-once replay guard.
    */
  def lastAppliedStreamBatch(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    bm25Marker.read(LiveRead.fs(spark, path), path).applied
}
