package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.operators.{LiveRead, MetaFile}

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a SimHash
  * (random-hyperplane) bucketed variant as the 100 TB scale path.
  *
  * Scale shape: brute force is a broadcast nested-loop of the (small)
  * query set against the corpus — the corpus never shuffles, and top-k is
  * taken with a two-phase per-partition/global aggregation instead of a
  * window, so no single reducer ever sees more than (partitions × k) rows
  * per query. The ANN path buckets both sides by hyperplane sign bits and
  * joins on the bucket id: candidate generation is an equi-join, never a
  * cross product.
  */
object SimSearch {

  /** Sequential-fold dot product in double precision. `aggregate` folds
    * left-to-right from 0.0, so the operation chain (and hence the IEEE
    * result) is identical in any engine that folds the same way.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native fused kernel ([[graft.functions.CosineSimXX]]): one pass over
    * the arrays for dot + both norms instead of three HOF folds.
    * Bit-identical to [[cosine]] for `array<float>` inputs (same IEEE
    * accumulation order), so it is safe on oracle-gated paths.
    */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.CosineSimXX(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact top-k per key without a window: per-shuffle-partition top-k,
    * then global top-k. Both phases are hash aggregations with map-side
    * partials; the sorted-array slice bounds state to k entries per group.
    * Deterministic: rank is (value, id) so ties never depend on
    * partitioning.
    */
  def topKPerKey(
      pairs: DataFrame, keyCol: String, rankCol: Column, idCol: Column,
      k: Int): DataFrame = {
    val phase1 = pairs
      .groupBy(col(keyCol), spark_partition_id().as("_part"))
      .agg(slice(sort_array(collect_list(struct(rankCol.as("r"),
        idCol.as("i")))), 1, k).as("top"))
    phase1
      .select(col(keyCol), explode(col("top")).as("t"))
      .groupBy(col(keyCol))
      .agg(slice(sort_array(collect_list(col("t"))), 1, k).as("top"))
      .select(col(keyCol), posexplode(col("top")).as(Seq("rank", "t")))
      .select(col(keyCol), col("rank"),
        col("t.i").as("neighbor"), col("t.r").as("rankval"))
  }

  /** Shared candidate-scoring step: exact cosine at 6 decimals over
    * (qv, cv) pair rows.
    */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs.withColumn("cos_sim", round(cosineFast(col("qv"), col("cv")), 6))

  /** Shared ranking tail for every similarity searcher: malformed
    * candidates (NULL cosine from ragged/null-element vectors) are
    * dropped BEFORE ranking — `sort_array` orders a null rank field
    * FIRST, so one bad vector would displace every real neighbor, while
    * the oracle's `row_number` ranks nulls last — then windowless
    * top-k, 0-based by (cos desc, id asc).
    */
  private def rankScored(scored: DataFrame, k: Int): DataFrame =
    topKPerKey(scored.filter(col("cos_sim").isNotNull),
      "qid", -col("cos_sim"), col("cid"), k)
      .select(col("qid"), col("rank"), col("neighbor"),
        (-col("rankval")).as("cos_sim"))

  /** Brute-force cosine top-k: every query row (queryPred) against the
    * whole corpus. Output: (qid, rank, neighbor, cos_sim), rank 0-based by
    * (cos desc, neighbor asc). Cosines rounded to 6 decimals before
    * ranking so rank order is reproducible across engines.
    */
  def bruteForceTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    rankScored(scorePairs(c.join(broadcast(q), col("qid") =!= col("cid"))), k)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim) in
    * [-1, 1] — generated from the portable md5-based hash so the planes
    * are reproducible anywhere (no RNG state).
    */
  def planeWeight(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"plane:$plane:$dim".getBytes("UTF-8"))
    val h = d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    (h % 2001L - 1000L) / 1000.0
  }

  /** Sign-bit bucket id of a vector under `planes` fixed hyperplanes.
    * Vectors in the same bucket agree on every sign bit — cosine-similar
    * vectors collide with high probability (random-hyperplane LSH).
    */
  def simhashBucket(vec: Column, planes: Int, dim: Int): Column = {
    val terms = (0 until planes).map { p =>
      val w = array((0 until dim).map(d => lit(planeWeight(p, d))): _*)
      when(dot(vec, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** ANN top-k: candidates restricted to the query's bucket (equi-join on
    * the sign bucket), then exact cosine rank within. Recall < 1 by
    * construction; `probeBits > 0` enables multi-probe — the query also
    * searches every bucket within Hamming distance 1 on the first
    * `probeBits` sign bits (near-boundary vectors land one bit-flip
    * away), trading probeBits× more candidate lookups for recall. At
    * 100 TB both sides bucket in the scan stage and only the bucket join
    * shuffles; candidates stay an equi-join at any probe count.
    */
  def annTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, planes: Int = 12, dim: Int = 64,
      probeBits: Int = 0): DataFrame = {
    val withBucket = emb.withColumn(
      "bucket", simhashBucket(col(vecCol), planes, dim))
    probeJoinTopK(
      withBucket.filter(queryPred)
        .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("bucket")),
      withBucket
        .select(col(idCol).as("cid"), col(vecCol).as("cv"), col("bucket")),
      k, probeBits, col("qid") =!= col("cid"))
  }

  /** Shared probe-join tail of every bucketed ANN flavor: explode the
    * query side's probe buckets (the bucket itself plus the
    * `probeBits` single-bit-flip neighbors), broadcast-join candidates
    * on the bucket, apply `pairFilter`, dedup multi-probe candidate
    * repeats, exact-cosine rank top-k. `q` carries (qid, qv, bucket
    * [+ extras]); `c` carries (cid, cv, bucket [+ extras]) — extras
    * are visible to `pairFilter`.
    */
  private def probeJoinTopK(
      q: DataFrame, c: DataFrame, k: Int, probeBits: Int,
      pairFilter: Column): DataFrame = {
    val probes = array((col("bucket") +:
      (0 until probeBits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b)))): _*)
    val qx = q.withColumn("bucket", explode(probes))
    val pairs = scorePairs(c.join(broadcast(qx), "bucket")
      .filter(pairFilter))
    // a candidate can surface from several probes → dedup before ranking
    val uniq =
      if (probeBits > 0)
        pairs.select("qid", "cid", "cos_sim").dropDuplicates("qid", "cid")
      else pairs
    rankScored(uniq, k)
  }

  // ── persisted hyperplane-ANN index lifecycle ─────────────────────
  // Layout under <path>/ (the `_live` marker-generation commit
  // protocol, [[graft.operators.LiveMarker]] — the PQ/BM25/signed
  // index discipline):
  //   meta           driver-written [[graft.operators.MetaFile]],
  //                  frozen at creation: `planes`, `dim`, `id_col`,
  //                  `vec_col` (the LSH parameters; appends validate
  //                  against them: a mismatched fan-out would bucket
  //                  new vectors where probes never look) and `schema`
  //                  (the vectors read schema as DDL; an older index
  //                  without it infers it once per read from the live
  //                  generation — [[graft.operators.LiveRead]])
  //   vectors/ or vectors_gen=<G>/
  //                  the LIVE vector generation: (id, vec) stored
  //                  under one `bucket=<id>/` Hive partition per sign
  //                  bucket — [[annTopKFromIndex]] resolves a query
  //                  batch's probed buckets (B of them, multi-probe
  //                  flips included) on the driver and filters by
  //                  them, so it reads only those B directories
  //                  (`PruneFileSourcePartitions`), ~B/2^planes of
  //                  the corpus, instead of re-bucketing everything
  //                  per lookup
  //   vectors_batches/batch=<B>/  write-once APPEND segments in the
  //                  same bucket layout — an append never touches
  //                  existing directories; its commit is the batch's
  //                  one marker PUT
  //   tombstones/batch=<B>/  write-once deleted-id batches (cast to
  //                  the index's id type), honored by every read
  //                  through [[readAnnIndex]]
  //   _live.<gen>    the ruling-state marker (see [[LiveMarker]])

  private[graft] val annMarker = new graft.operators.LiveMarker(
    Seq(("vectors", "vectors", "vectors_gen=")),
    Seq("tombstones", "vectors_batches"), "ann")

  private[graft] def annMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, String, String) = {
    val m = LiveRead.meta(spark, path)
    (m("planes").toInt, m("dim").toInt, m("id_col"), m("vec_col"))
  }

  /** Spread a compute-heavy projection across the session's cores when
    * the source scan has fewer partitions (guide §2.5 input skew: a
    * single-split file runs the whole per-row kernel on one task).
    * At deployment scale the scan already has >= width splits and this
    * is a no-op decision; the repartition payload is the narrow
    * (id, vec) projection, orders of magnitude cheaper than serializing
    * the per-row plane dot products.
    */
  private def spreadIfNarrow(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  /** The bucket-keyed `(id, vec, bucket)` rows of `emb`. The per-row
    * plane dot products are the expensive pass: run them post-spread,
    * not glued to the input split layout.
    */
  private def annBucketed(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int): DataFrame =
    spreadIfNarrow(emb.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        simhashBucket(col(vecCol), planes, dim).as("bucket"))

  /** Write bucket-partitioned vectors, clustered by bucket first. */
  private def writeVectors(vectors: DataFrame, dir: String,
      mode: String): Unit =
    graft.operators.WriteLayout.clusterBy(vectors, "bucket")
      .write.mode(mode).partitionBy("bucket").parquet(dir)

  /** Persist the ANN corpus as a bucket-partitioned parquet index
    * (see the layout block above), committed by
    * [[graft.operators.LiveMarker.create]] (clears the whole tree
    * first; `appliedId` records a stream bootstrap's batch id). The
    * write-once artifact that turns ANN serving into a
    * partition-pruned scan; LSH parameters are persisted in `meta`
    * and validated on append.
    */
  def writeAnnIndex(
      emb: DataFrame, path: String, idCol: String, vecCol: String,
      planes: Int = 12, dim: Int = 64, appliedId: Long = -1L,
      retain: Int = 1): Unit = {
    val spark = emb.sparkSession
    annMarker.create(spark, path, appliedId, retain) {
      val vectors = annBucketed(emb, idCol, vecCol, planes, dim)
      // frozen creation parameters as a driver-written file — a 1-row
      // parquet meta dir costs a Spark job per write and per read
      MetaFile.write(LiveRead.fs(spark, path), s"$path/meta", Seq(
        "planes" -> planes.toString, "dim" -> dim.toString,
        "id_col" -> idCol, "vec_col" -> vecCol,
        "schema" -> LiveRead.schemaDdl(vectors.schema)))
      writeVectors(vectors, s"$path/vectors", "overwrite")
    }
  }

  /** Append NEW vectors to a persisted ANN index (caller contract:
    * ids must not already be live in the index — dedupe upstream).
    * The batch buckets under the index's PERSISTED LSH parameters
    * (validated against the caller's column names — a silently
    * different fan-out would strand the new vectors where probes
    * never look) and lands as a write-once
    * `vectors_batches/batch=<B>` segment
    * ([[graft.operators.LiveMarker.append]]), so a replayed batch can
    * never double-insert vectors. Nothing existing is rewritten.
    */
  def appendToAnnIndex(
      emb: DataFrame, path: String, idCol: String, vecCol: String,
      retain: Int = 1, appliedId: Long = -1L): Unit = {
    val spark = emb.sparkSession
    val (planes, dim, metaId, metaVec) = annMeta(spark, path)
    require(idCol == metaId && vecCol == metaVec,
      s"ann index at $path stores ($metaId, $metaVec); " +
        s"append offered ($idCol, $vecCol)")
    annMarker.append(spark, path, retain, appliedId) { b =>
      val seg = annBucketed(emb, idCol, vecCol, planes, dim).persist()
      val wrote = !seg.isEmpty
      if (wrote)
        writeVectors(seg, s"$path/vectors_batches/batch=$b",
          "errorifexists")
      seg.unpersist()
      wrote
    }
  }

  /** Tombstone-delete ids from a persisted ANN index — the
    * dense-retrieval absorber of the removal-audit pipeline's
    * verdicts WITHOUT a rebuild (the q265 PQ discipline): `ids` (ONE
    * column, named exactly as the index's id column) land as a
    * write-once `tombstones/batch=<B>` dir
    * ([[graft.operators.LiveMarker.delete]]). Every read through
    * [[readAnnIndex]] anti-joins the batches, so a deleted id can
    * never surface from any probe. Ids absent from the index are
    * harmless no-ops.
    */
  def deleteFromAnnIndex(ids: DataFrame, path: String,
      retain: Int = 1): Unit = {
    val spark = ids.sparkSession
    val meta = LiveRead.meta(spark, path)
    val metaId = meta("id_col")
    require(ids.columns.toSeq == Seq(metaId),
      s"ids must be a single '$metaId' column frame, " +
        s"got ${ids.columns.mkString(",")}")
    annMarker.delete(spark, path, retain) { (live, b) =>
      val idType = LiveRead.schema(spark, path, live,
        "vectors", meta)(metaId).dataType
      ids.select(col(metaId).try_cast(idType).as(metaId)).distinct()
        .write.mode("errorifexists")
        .parquet(s"$path/tombstones/batch=$b")
    }
  }

  /** Generation compaction ([[graft.operators.LiveMarker.compact]]):
    * rewrite the live vectors (generation plus append segments) MINUS
    * the accumulated tombstones into a fresh write-once
    * `vectors_gen=<G>` dir. Also collapses accumulated append small
    * files.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, retain: Int = 1): Unit =
    annMarker.compact(spark, path, retain) { (live, next) =>
      writeVectors(readAnnState(spark, path, live),
        s"$path/${next.dir("vectors")}", "errorifexists")
    }

  /** The LIVE rows of a persisted ANN index: the marker-resolved
    * vector generation plus its append segments, minus the tombstone
    * batches.
    */
  def readAnnIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readAnnState(spark, path, annMarker.read(spark, path))

  /** SNAPSHOT read: the index exactly as committed by marker `gen` —
    * audit/rollback for the removal pipeline ("what did this probe
    * serve before the takedown batch?"). The snapshot must still be
    * inside the retention window (`annMarker.listGenerations` lists
    * what is).
    */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long): DataFrame =
    readAnnState(spark, path, annMarker.readAt(spark, path, gen))

  /** `live`'s rows ([[LiveRead.rows]]). */
  private def readAnnState(spark: org.apache.spark.sql.SparkSession,
      path: String, live: graft.operators.LiveState): DataFrame = {
    val meta = LiveRead.meta(spark, path)
    LiveRead.rows(spark, path, live, "vectors", "vectors_batches", meta,
      meta("id_col"))
  }

  /** [[annTopK]] against a persisted [[writeAnnIndex]] artifact: the
    * index side is READ pre-bucketed and pruned to the probed bucket
    * directories. The query batch (bounded by contract) is collected
    * ONCE with its sign buckets; the driver expands those to the probed
    * set (each bucket plus its `probeBits` single-bit flips) and
    * filters the index by `bucket IN (set)`, a partition filter every
    * directory read of [[readAnnIndex]] prunes by. The join's query
    * side is a local frame of the collected rows, so a query frame that
    * is itself a scan runs once. (A bucket equi-join alone prunes
    * nothing here: dynamic partition pruning needs a filtered query
    * side, and a local one has none.) Same ranking semantics (exact
    * cosine within bucket, multi-probe optional) as the inline flavor.
    */
  def annTopKFromIndex(
      index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 12, dim: Int = 64,
      probeBits: Int = 0): DataFrame = {
    import scala.jdk.CollectionConverters._
    val q = queries
      .withColumn("bucket", simhashBucket(col(vecCol), planes, dim))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("bucket"))
    val rows = q.collect().toSeq
    val probed = rows.map(_.getLong(2)).distinct
      .flatMap(b => b +: (0 until probeBits).map(p => b ^ (1L << p)))
      .distinct
    probeJoinTopK(
      queries.sparkSession.createDataFrame(rows.asJava, q.schema),
      index.filter(col("bucket").isin(probed: _*))
        .select(col(idCol).as("cid"), col(vecCol).as("cv"),
          col("bucket")),
      k, probeBits, col("qid") =!= col("cid"))
  }

  /** Recall@k of an approximate top-k result against the exact baseline
    * — THE acceptance metric for every index build: run
    * [[bruteForceTopK]] on a SAMPLED query set, run the candidate index
    * ([[annTopK]], [[annTopKFromIndex]], [[ivfTopK]], ...) on the same
    * queries, and read the recall before trusting the index. Both
    * inputs are (qid, rank, neighbor, ...) frames as every searcher
    * here emits; rows ranked ≥ k are ignored, so differing result
    * depths compare fairly. Per-query recall = |approx ∩ exact| /
    * |exact top-k| (a query with fewer than k true neighbors is scored
    * against what exists). Queries the approx side missed entirely
    * score 0 — silent misses are exactly what the harness must surface.
    *
    * Scale shape: two narrow (qid, neighbor) projections, one semi-join,
    * two qid-keyed aggregations — everything is id pairs, bounded by
    * (sampled queries × k), never by corpus size.
    *
    * Output: (qid, n_exact, n_hit, recall), recall rounded to 6.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // the exact side feeds TWO consumers (the hit semi-join and the
    // per-query totals) — checkpoint the (queries × k)-row projection
    // so the expensive brute-force baseline runs once, not twice
    val ex = exact.filter(col("rank") < k)
      .select(col("qid"), col("neighbor")).localCheckpoint()
    val ap = approx.filter(col("rank") < k)
      .select(col("qid"), col("neighbor"))
    val hits = ex.join(ap, Seq("qid", "neighbor"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    ex.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact"), 6).as("recall"))
  }

  /** One-row summary of [[recallAtK]]: query count, mean and minimum
    * per-query recall — the line an index build prints as its
    * acceptance check.
    */
  def recallSummary(
      approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    recallAtK(approx, exact, k).agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("recall")), 6).as("mean_recall"),
      min(col("recall")).as("min_recall"))

  /** Matryoshka truncation sweep (Kusupati et al. 2022): recall@k of
    * brute-force search over PREFIX-truncated embeddings against the
    * full-dimension exact ranking — the number that decides how many
    * dimensions a serving index can drop. MRL-trained embedding
    * families front-load information, so recall vs `dims` is the
    * curve that picks the cheapest usable truncation (a 4× dim cut is
    * a 4× ANN-memory and dot-product-FLOPs cut at 100 TB serving
    * scale).
    *
    * The full-dim baseline computes ONCE (localCheckpoint — one
    * brute-force pass feeds every truncation tier); each tier is then
    * an independent sliced-vector search scored by [[recallAtK]].
    * Per-(dims, query) rows — deliberately NOT averaged into one
    * float: the mean would be an order-dependent sum, the per-query
    * rows replay exactly (q171).
    *
    * Returns `(dims, qid, n_exact, n_hit, recall)`.
    */
  def matryoshkaRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    val exact = bruteForceTopK(emb, idCol, vecCol, queryPred, k)
      .localCheckpoint()
    dims.map { d =>
      val sliced = emb.select(col(idCol),
        slice(col(vecCol), 1, d).as("_v"))
      val trunc = bruteForceTopK(sliced, idCol, "_v", queryPred, k)
      recallAtK(trunc, exact, k).select(lit(d).as("dims"),
        col("qid"), col("n_exact"), col("n_hit"), col("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Deterministic per-key mean of vectors with BOUNDED aggregation
    * state: a two-level id-bucketed fold. Level 1 groups by
    * `(key, id >>> log2(bucketWidth))` and folds that bucket's vectors
    * in id order from a zero array — an aggregation buffer never holds
    * more than `bucketWidth` vectors, so a key owning a quarter of a
    * 100 TB corpus still aggregates in `bucketWidth`-sized pieces.
    * Level 2 folds the (64-float-sums-sized) bucket partials in bucket
    * order. The accumulation chain is fixed by the ids alone —
    * partitioning-independent, and a SQL oracle unrolls the identical
    * two levels (`id // W` grouping + ordered folds).
    *
    * The single-level `collect_list(all vectors)` formulation this
    * replaces put every member vector of a key into ONE buffer — fine
    * at test SF, an executor-OOM cliff when one cell/cluster dominates.
    *
    * `bucketWidth` must be a power of two (the bucket id is a shift, so
    * it is exact over the full long range, where a float-floor division
    * would drift above 2^53); ids must be non-negative.
    * Output: (keyCol, mean array<double>, n).
    */
  def meanVectors(
      df: DataFrame, keyCol: String, idCol: String, vecCol: String,
      dim: Int, bucketWidth: Long = 4096L): DataFrame = {
    require(bucketWidth > 0 && (bucketWidth & (bucketWidth - 1)) == 0,
      s"bucketWidth must be a positive power of two, got $bucketWidth")
    val shift = java.lang.Long.numberOfTrailingZeros(bucketWidth)
    val zeros = array_repeat(lit(0.0), dim)
    val partials = df
      .groupBy(col(keyCol),
        shiftrightunsigned(col(idCol).cast("long"), shift).as("_bk"))
      .agg(
        aggregate(
          transform(
            sort_array(collect_list(struct(col(idCol).as("i"),
              col(vecCol).as("v")))),
            _.getField("v")),
          zeros,
          (acc, v) => zip_with(acc, v, (a, x) => a + x.cast("double")))
          .as("_psum"),
        count(lit(1)).as("_n"))
    partials
      .groupBy(col(keyCol))
      .agg(
        aggregate(
          transform(
            sort_array(collect_list(struct(col("_bk").as("b"),
              col("_psum").as("s")))),
            _.getField("s")),
          zeros,
          (acc, s) => zip_with(acc, s, (a, x) => a + x)).as("_vsum"),
        sum(col("_n")).as("n"))
      .select(col(keyCol),
        transform(col("_vsum"), s => s / col("n")).as("mean"), col("n"))
  }

  /** Per-group embedding DRIFT between two corpus snapshots: member
    * counts plus the cosine between each group's OLD and NEW mean
    * vectors — the "did this source's embedding space move between
    * crawls" monitor that catches upstream encoder changes, crawl
    * distribution shift, or a poisoned source before training sees it
    * (mean_cos ≈ 1 = stable; low = re-audit the source). The
    * embedding-tier sibling of [[graft.operators.Relational.corpusDiff]]
    * and [[graft.text.Dsir.groupDivergence]].
    *
    * Both means come from the bounded id-bucketed [[meanVectors]]
    * fold, so the report is deterministic (oracle-replayable) and no
    * aggregation buffer ever holds more than `bucketWidth` vectors.
    * Output: `(groupCol, n_old, n_new, mean_cos)`, full outer on the
    * group — a group present on one side only reports the other count
    * 0 and a NULL cosine.
    */
  def groupEmbeddingDrift(
      oldEmb: DataFrame, newEmb: DataFrame, idCol: String,
      vecCol: String, groupCol: String, dim: Int = 64,
      bucketWidth: Long = 4096L): DataFrame = {
    def side(df: DataFrame, m: String, n: String) =
      meanVectors(df.select(col(groupCol).as("_g"), col(idCol),
        col(vecCol)), "_g", idCol, vecCol, dim, bucketWidth)
        .select(col("_g"), col("mean").as(m), col("n").as(n))
    side(oldEmb, "_mo", "_no")
      .join(side(newEmb, "_mn", "_nn"), Seq("_g"), "full_outer")
      .select(col("_g").as(groupCol),
        coalesce(col("_no"), lit(0L)).as("n_old"),
        coalesce(col("_nn"), lit(0L)).as("n_new"),
        round(cosine(col("_mo"), col("_mn")), 6).as("mean_cos"))
  }

  /** Per-group embedding diversity report: each group's member count,
    * centroid norm, and mean member-to-centroid cosine — the
    * "has this source's embedding space collapsed" observability
    * number (mean_cos near 1 = near-duplicate mass, the precondition
    * SemDedup exploits; low mean_cos = diverse). The cluster-quality
    * twin of [[graft.text.Dsir.groupDivergence]]'s token-side drift.
    *
    * Cross-engine exactness: centroids come from the bounded
    * id-ordered [[meanVectors]] fold; each member cosine snaps to
    * integer MICRO units once (guarded to 0 for a zero norm — both
    * engines would otherwise produce an un-castable infinity), so the
    * group mean is a BIGINT sum divided through one IEEE chain.
    *
    * Scale shape: one corpus pass for centroids (bounded two-level
    * fold), one for the member cosines against BROADCAST centroids —
    * both hash aggregations with map-side partials; the centroid table
    * localCheckpoints so its corpus lineage is not replayed by the
    * second pass's plan.
    */
  def groupDiversity(df: DataFrame, keyCol: String, idCol: String,
      vecCol: String, dim: Int, bucketWidth: Long = 4096L): DataFrame = {
    val cen = meanVectors(df, keyCol, idCol, vecCol, dim, bucketWidth)
      .localCheckpoint()
    val denom = norm(col(vecCol)) * norm(col("mean"))
    val cosMicro = when(denom > 0.0,
      round(cosine(col(vecCol), col("mean")) * 1000000.0).cast("long"))
      .otherwise(0L)
    df.join(broadcast(cen), Seq(keyCol))
      .select(col(keyCol), cosMicro.as("_cm"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_vecs"), sum(col("_cm")).as("_sum"))
      .join(broadcast(cen.select(col(keyCol),
        round(norm(col("mean")), 6).as("centroid_norm"))), Seq(keyCol))
      .select(col(keyCol), col("n_vecs"), col("centroid_norm"),
        round(col("_sum").cast("double") / col("n_vecs").cast("double")
          / 1000000.0, 6).as("mean_cos"))
  }

  /** Semantic decontamination — the embedding tier of the
    * decontamination family (exact n-gram: `Dedup.decontaminate`;
    * Bloom-prefiltered: `decontaminateBloom`; THIS: paraphrased
    * contamination n-gram matching cannot see): drop every corpus row
    * whose embedding has cosine ≥ `threshold` against ANY eval vector.
    *
    * Scale shape: the eval set is benchmark-sized by construction —
    * it BROADCASTS, the corpus never shuffles, and the probe is one
    * BroadcastNestedLoopJoin with the fused [[cosineFast]] kernel
    * inside the scan stage, followed by an ids-only anti-join. Cost is
    * corpus × |eval| kernel evaluations — the same shape as
    * [[bruteForceTopK]]'s exact baseline. For an eval set too big to
    * broadcast, pre-bucket both sides with [[hyperplaneBuckets]] and
    * equi-join (the [[cosineNearDupPairs]] move) at the usual recall
    * trade.
    *
    * Oracle-exact: the comparison is the unrounded kernel chain —
    * bit-identical to the SQL fold — so the keep/drop decision
    * replays without a float boundary (same precedent as q27's
    * unrounded centroid ranking).
    */
  def semanticDecontaminate(df: DataFrame, evalDf: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val contaminated = df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(evalDf.select(col(vecCol).as("_ev"))))
      .filter(cosineFast(col(vecCol), col("_ev")) >= threshold)
      .select(col(idCol)).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** IVF-style ANN: coarse-quantize the corpus into `cells` (here: the
    * per-label mean vectors — in production, k-means centroids computed
    * the same way), then search only the query's `nprobe` nearest cells.
    *
    * Scale shape: centroids are a tiny aggregation (map-side partials,
    * one row per cell, [[meanVectors]]-bounded buffers) and broadcast
    * everywhere; the corpus is scanned once with its cell id (computed
    * at write time in a real lake — partition column → cell-pruned
    * scans); candidate generation is an equi-join on cell id, so cost
    * is corpus/cells × nprobe per query.
    */
  def ivfTopK(
      emb: DataFrame, idCol: String, vecCol: String, cellCol: String,
      queryPred: Column, k: Int, nprobe: Int = 2,
      bucketWidth: Long = 4096L): DataFrame = {
    val dim = 64
    // per-cell mean vector via the bounded two-level id-ordered fold —
    // deterministic under any partitioning and replayable by the oracle
    val centroids = ivfCentroids(emb, idCol, vecCol, cellCol, dim,
      bucketWidth)
    ivfTopKWithCentroids(emb, centroids, idCol, vecCol, cellCol,
      queryPred, k, nprobe)
  }

  /** The (cell, centroid) table [[ivfTopK]] trains inline — computing it
    * is a FULL CORPUS PASS, so at lake scale persist it once
    * ([[writeIvfCentroids]]) and search with
    * [[ivfTopKWithCentroids]] — the write-once-query-many treatment the
    * signed text index gets.
    */
  def ivfCentroids(
      emb: DataFrame, idCol: String, vecCol: String, cellCol: String,
      dim: Int = 64, bucketWidth: Long = 4096L): DataFrame =
    meanVectors(
      emb.select(col(cellCol).as("cell"), col(idCol), col(vecCol)),
      "cell", idCol, vecCol, dim, bucketWidth)
      .select(col("cell"), col("mean").as("centroid"))

  /** Persist the IVF centroid table as parquet (one row per cell). */
  def writeIvfCentroids(
      emb: DataFrame, path: String, idCol: String, vecCol: String,
      cellCol: String, dim: Int = 64, bucketWidth: Long = 4096L): Unit =
    ivfCentroids(emb, idCol, vecCol, cellCol, dim, bucketWidth)
      .write.mode("overwrite").parquet(path)

  def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** IVF search against a PRE-TRAINED (cell, centroid) table — no corpus
    * pass to rebuild centroids; the query set probes the broadcast
    * centroids and candidates form via the cell equi-join exactly as in
    * [[ivfTopK]].
    */
  def ivfTopKWithCentroids(
      emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      cellCol: String, queryPred: Column, k: Int,
      nprobe: Int = 2): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // nprobe nearest cells per query (centroid table is tiny → broadcast)
    val probed = topKPerKey(
      q.crossJoin(broadcast(centroids)),
      "qid", -cosine(col("qv"), col("centroid")), col("cell"), nprobe)
      .select(col("qid"), col("neighbor").as("cell"))
    val cands = emb
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        col(cellCol).as("cell"))
      .join(broadcast(probed.join(q, "qid")), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
    rankScored(scorePairs(cands), k)
  }

  /** Squared Euclidean distance as a left-fold of `(dx)·(dx)` terms —
    * the IEEE chain both engines replay exactly (`pow` is not pinned;
    * the explicit product is). HOF formulation — the semantics
    * reference for [[dist2Fast]].
    */
  def dist2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Native fused kernel ([[graft.functions.Dist2XX]]): the same
    * accumulation chain in one compiled pass — bit-identical to
    * [[dist2]] (pinned by test), so it is safe on oracle-gated paths.
    */
  def dist2Fast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.Dist2XX(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Deterministic Lloyd k-means assignment — the centroid builder a
    * real IVF index trains with, everything replayable: seeds are the
    * `k` smallest-id vectors (cluster label = seed id), assignment is
    * argmin squared distance with ties to the lowest centroid label,
    * updates are id-ordered fold means ([[meanVectors]] — the bounded
    * two-level determinism trick), and an empty cluster keeps its
    * previous centroid. Returns (idCol, cluster, d2) under the final
    * centroids after `iters` update rounds.
    *
    * Scale shape per round: assignment is a broadcast of k centroids
    * against the corpus (no shuffle of vectors) + the windowless
    * argmin; the update shuffles only (cluster, vector) pairs into
    * `bucketWidth`-bounded (cluster, id-bucket) groups — with k=4 and
    * one dominant cluster, no aggregation buffer ever holds more than
    * `bucketWidth` vectors. `iters` is small and fixed — the plan grows
    * linearly, and each round's centroid table is k rows.
    */
  def kmeansAssign(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int = 64,
      bucketWidth: Long = 4096L): DataFrame =
    assignToCentroids(emb,
      kmeansFit(emb, idCol, vecCol, k, iters, dim, bucketWidth),
      idCol, vecCol)

  /** Train the k-means model and return its (cid, cv) centroid table —
    * the TRAINED MODEL, reusable across jobs: persist it (k rows of
    * doubles) and score any corpus with [[assignToCentroids]] without
    * re-running the Lloyd rounds. Training is the expensive part
    * (iters × corpus passes); scoring is one broadcast + argmin pass.
    */
  def kmeansFit(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int = 64,
      bucketWidth: Long = 4096L): DataFrame = {
    require(k > 0 && iters >= 0, "need k > 0 and iters >= 0")
    val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
    // each round's centroid table is localCheckpoint'ed (k rows — a
    // trivial materialization) so round N's plan does NOT embed rounds
    // 1..N-1: without the truncation every assignment re-derives all
    // prior rounds and the corpus is re-scanned O(iters²) times
    var centroids = vecs.orderBy(col("vid")).limit(k)
      .select(col("vid").as("cid"),
        transform(col("v"), _.cast("double")).as("cv"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val assigned = assignRaw(vecs, centroids)
      val sums = meanVectors(
        assigned.join(vecs, "vid").select("cid", "vid", "v"),
        "cid", "vid", "v", dim, bucketWidth)
        .select(col("cid"), col("mean").as("cv2"))
      centroids = centroids.join(sums, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cv2"), col("cv")).as("cv"))
        .localCheckpoint()
      i += 1
    }
    centroids
  }

  /** One assignment pass: broadcast k centroids, windowless argmin. */
  private def assignRaw(vecs: DataFrame, cen: DataFrame): DataFrame =
    topKPerKey(
      vecs.crossJoin(broadcast(cen))
        .withColumn("d2", dist2Fast(col("v"), col("cv"))),
      "vid", col("d2"), col("cid"), 1)
      .select(col("vid"), col("neighbor").as("cid"),
        col("rankval").as("d2"))

  /** Score a corpus against a trained (cid, cv) centroid table: each row
    * gets its nearest cluster + rounded squared distance. The corpus
    * never shuffles — k centroids broadcast, the argmin is the
    * windowless two-phase top-1.
    */
  def assignToCentroids(
      emb: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    assignRaw(emb.select(col(idCol).as("vid"), col(vecCol).as("v")),
      centroids)
      .select(col("vid").as(idCol), col("cid").as("cluster"),
        round(col("d2"), 6).as("d2"))

  /** Product-quantization codebooks (Jégou, Douze & Schmid 2011 — the
    * memory tier that makes billion-vector ANN serveable): the vector
    * space splits into `m` contiguous subspaces of `dim/m` components,
    * and each subspace gets its own deterministic-Lloyd codebook of
    * `k` centroids ([[kmeansFit]] on the sliced vectors — same
    * id-seeded init, same bounded id-ordered folds, so the training
    * replays in an external engine). Returns `(sub, cid, cv)` —
    * `m · k` rows of MODEL METADATA to persist beside the IVF
    * centroids ([[writeIvfCentroids]]). `frame` decides what is split
    * ([[PqFrame]]: the raw vectors by default, else their `cellCol`
    * residuals, optionally through a learned orthogonal transform).
    *
    * Scale shape: fitting is `m` independent vocab-of-k jobs over
    * sliced copies of the corpus scan; encoding ([[pqEncode]]) replaces
    * each `dim`-float vector with `m` small codes (64 floats → 2 bytes
    * at m=2, k≤256) — the 128× memory cut that lets the whole index
    * live in executor RAM at 100 TB; serving ([[pqAdcTopK]]) scores
    * candidates from the codes alone via per-query lookup tables
    * (asymmetric distance), never touching raw corpus vectors.
    */
  def pqFit(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int = 64,
      bucketWidth: Long = 4096L, frame: PqFrame = PqFrame.Raw,
      cellCol: String = "cell"): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    val sw = dim / m
    val (framed, v) = frame.corpus(emb, idCol, vecCol, cellCol, dim)
    (0 until m).map { s =>
      val sliced = framed.select(col(idCol),
        slice(col(v), s * sw + 1, sw).as("_sv"))
      kmeansFit(sliced, idCol, "_sv", k, iters, sw, bucketWidth)
        .select(lit(s).as("sub"), col("cid"), col("cv"))
    }.reduce(_.unionByName(_))
  }

  /** PQ encoding: each vector's nearest codebook centroid per subspace,
    * in the same `frame` the codebooks were fit in. Returns
    * `(idCol, sub, code, d2)` — `code` is the winning codebook id,
    * `d2` the subspace reconstruction error (rounded, replayable).
    * The corpus never shuffles: `m·k` codebook rows broadcast and each
    * subspace argmin is the windowless two-phase top-1. Attach the
    * cell column at index-build time ([[writePqIndex]]).
    */
  def pqEncode(
      emb: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, m: Int, dim: Int = 64,
      frame: PqFrame = PqFrame.Raw, cellCol: String = "cell"): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    val sw = dim / m
    val (framed, v) = frame.corpus(emb, idCol, vecCol, cellCol, dim)
    (0 until m).map { s =>
      val sliced = framed.select(col(idCol).as("vid"),
        slice(col(v), s * sw + 1, sw).as("_sv"))
      val cb = codebooks.filter(col("sub") === s)
        .select(col("cid"), col("cv"))
      topKPerKey(
        sliced.crossJoin(broadcast(cb))
          .withColumn("_d2", dist2Fast(col("_sv"), col("cv"))),
        "vid", col("_d2"), col("cid"), 1)
        .select(col("vid").as(idCol), lit(s).as("sub"),
          col("neighbor").as("code"), round(col("rankval"), 6).as("d2"))
    }.reduce(_.unionByName(_))
  }

  /** Asymmetric-distance top-k over a PQ-coded index: per query, a
    * lookup table of squared distances from its subvectors to every
    * codebook centroid (`m·k` rows per query — computed against the
    * BROADCAST codebooks, then itself broadcast), joined to the code
    * index on `(sub, code)` and summed per (query, vector). The
    * corpus-sized side carries only codes — raw vectors are never read
    * at serve time, which is the entire point of PQ. Approximation
    * error vs exact distance is the quantization error; measure it
    * with [[recallAtK]] against [[bruteForceTopK]] before trusting an
    * index build.
    */
  def pqAdcTopK(
      codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      queryIdCol: String, vecCol: String, idCol: String,
      m: Int, k: Int, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    val lut = adcLut(queries.select(col(queryIdCol).as("qid"),
      col(vecCol).as("_qr")), Seq("qid"), codebooks, m, dim)
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("qid"), col(idCol).as("_vid"))
      .agg(sum(col("_d2")).as("adc_d2"))
    // output mirrors bruteForceTopK: (qid, rank, neighbor, adc_d2),
    // rank 0-based by (distance asc, neighbor asc)
    topKPerKey(scored, "qid", col("adc_d2"), col("_vid"), k)
      .select(col("qid"), col("rank"), col("neighbor"),
        round(col("rankval"), 6).as("adc_d2"))
  }

  /** How a PQ index frames a vector before the sub-vector split — the
    * one decision its four flavors differ in. Fit, encode, the ADC
    * lookup table, serving, re-rank and the index files are shared;
    * the frame alone knows
    *  - how corpus vectors are framed for [[pqFit]] / [[pqEncode]]:
    *    `x` ([[PqFrame.Raw]]), the cell residual `x − c(cell)`
    *    ([[PqFrame.Residual]], [[ivfResiduals]]), or that residual
    *    through a learned orthogonal transform ([[PqFrame.Permuted]],
    *    [[PqFrame.Rotated]]);
    *  - how a query is framed for the ADC table ([[ivfPqTopK]]): once
    *    per query for `Raw`, once per (query, probed cell) otherwise,
    *    because each probed cell re-frames the query into its own
    *    residual space;
    *  - which directory marks the flavor in a persisted index.
    * The transforms are orthogonal, so distances are unchanged; only
    * the split the codebooks see changes.
    */
  sealed trait PqFrame {
    /** The directory that marks this flavor in a persisted index
      * (`residual`, `perm`, `rot`); `None` for raw codes.
      */
    def dir: Option[String]

    /** The IVF centroids the residuals are taken against. */
    private[sim] def cells: Option[DataFrame] = None

    /** The 1-row transform model (persisted at [[dir]]) and how it
      * applies to a residual vector column.
      */
    private[sim] def transform(dim: Int)
        : Option[(DataFrame, Column => Column)] = None

    /** Corpus vectors in this frame: (frame, its vector column). The
      * residual is one broadcast cell join ([[ivfResiduals]]); a
      * transform adds one broadcast of its 1-row model. The corpus
      * never shuffles.
      */
    private[sim] def corpus(emb: DataFrame, idCol: String,
        vecCol: String, cellCol: String, dim: Int): (DataFrame, String) =
      cells.fold((emb, vecCol)) { cen =>
        val res = ivfResiduals(emb, cen, idCol, vecCol, cellCol)
        (transform(dim).fold(res) { case (model, f) =>
          res.crossJoin(broadcast(model))
            .select(col(idCol), col("cell"), f(col("_rv")).as("_rv"))
        }, "_rv")
      }

    /** Queries `(qid, qv)` in this frame as `_qr`, with the ADC table's
      * key columns: `qid` for raw codes, `(qid, cell)` over the
      * `probed` `(qid, cell)` pairs otherwise — `|queries| · nprobe`
      * rows, still broadcast metadata.
      */
    private[sim] def queries(q: DataFrame, probed: DataFrame,
        dim: Int): (DataFrame, Seq[String]) =
      cells.fold((q.select(col("qid"), col("qv").as("_qr")), Seq("qid"))) {
        cen =>
          val at = probed.join(q, Seq("qid"))
            .join(broadcast(cen.select(col("cell"), col("centroid"))),
              Seq("cell"))
          val r = zip_with(col("qv"), col("centroid"),
            (x, c) => x.cast("double") - c)
          (transform(dim).fold(
            at.select(col("qid"), col("cell"), r.as("_qr"))) {
            case (model, f) => at.crossJoin(broadcast(model))
              .select(col("qid"), col("cell"), f(r).as("_qr"))
          }, Seq("qid", "cell"))
      }
  }

  object PqFrame {
    /** Codes quantize the vector itself. */
    case object Raw extends PqFrame {
      val dir: Option[String] = None
    }

    /** True IVFADC (Jégou, Douze & Schmid 2011 §IV): codes quantize
      * `x − centroid(cell(x))`, so the code budget goes to within-cell
      * variance the cell id does not already carry.
      */
    final case class Residual(centroids: DataFrame) extends PqFrame {
      val dir: Option[String] = Some("residual")
      override private[sim] def cells = Some(centroids)
    }

    /** Residuals through the 1-row OPQ permutation `_perm`
      * ([[opqPermutation]] — exact-integer, so the chain hash-gates).
      */
    final case class Permuted(centroids: DataFrame, perm: DataFrame)
        extends PqFrame {
      val dir: Option[String] = Some("perm")
      override private[sim] def cells = Some(centroids)
      override private[sim] def transform(dim: Int) =
        Some((perm, permuteVec(_: Column, col("_perm"), dim)))
    }

    /** Residuals through the 1-row dense d×d rotation `_rot`
      * ([[opqDenseFit]] — serve it with its MATCHED codebooks).
      */
    final case class Rotated(centroids: DataFrame, rot: DataFrame)
        extends PqFrame {
      val dir: Option[String] = Some("rot")
      override private[sim] def cells = Some(centroids)
      override private[sim] def transform(dim: Int) =
        Some((rot, rotateVec(_: Column, col("_rot"), dim)))
    }
  }

  /** A loaded PQ index ([[readPqIndex]]): codebooks, LIVE codes,
    * `(cell, centroid)` table and the frame its codes live in.
    */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
      centroids: DataFrame, frame: PqFrame)

  /** Persist a PQ index: codebooks (model metadata: `m·k` rows), the
    * coded corpus (`(id, cell, sub, code)` — partitioned by cell so
    * [[ivfPqTopK]]'s probe prunes files) and the IVF centroids. The
    * write-once-query-many treatment the signed text index and IVF
    * centroids get: fitting and encoding scan the corpus; serving
    * reads codes and metadata only.
    *
    * `flavor` picks the [[PqFrame]]: `plain` codes the raw vectors;
    * `residual`, `opq` and `opq-dense` fit the centroids first (they
    * define the residual frame) and write a 1-row `residual` flag;
    * `opq` adds the learned permutation under `perm`, `opq-dense` the
    * learned rotation under `rot` together with the codebooks
    * [[opqDenseFit]]'s `alternations` trained jointly with it
    * (re-fitting from scratch would discard the descent).
    * [[readPqIndex]] detects the flavor from these directories.
    */
  def writePqIndex(
      emb: DataFrame, path: String, idCol: String, vecCol: String,
      cellCol: String, m: Int, k: Int, iters: Int, dim: Int = 64,
      bucketWidth: Long = 4096L, flavor: String = "plain",
      alternations: Int = 2): Unit = {
    resetPqIndexLifecycle(LiveRead.fs(emb.sparkSession, path), path)
    val cells = ivfCentroids(emb, idCol, vecCol, cellCol, dim, bucketWidth)
    // a residual frame's centroids feed fit, encode and the transform
    lazy val cen = cells.localCheckpoint()
    val (frame, jointCb) = flavor match {
      case "plain" => (PqFrame.Raw, None)
      case "residual" => (PqFrame.Residual(cen), None)
      case "opq" => (PqFrame.Permuted(cen, opqPermutation(emb, cen, idCol,
        vecCol, cellCol, m, dim).localCheckpoint()), None)
      case "opq-dense" =>
        val (rot, cb) = opqDenseFit(emb, cen, idCol, vecCol, cellCol, m,
          dim, alternations, k, iters, bucketWidth)
        (PqFrame.Rotated(cen, rot.localCheckpoint()), Some(cb))
      case other => throw new IllegalArgumentException(
        s"unknown PQ flavor '$other': plain, residual, opq or opq-dense")
    }
    for (d <- frame.dir; (model, _) <- frame.transform(dim))
      model.write.mode("overwrite").parquet(s"$path/$d")
    val cb = jointCb.getOrElse(pqFit(emb, idCol, vecCol, m, k, iters, dim,
      bucketWidth, frame, cellCol)).localCheckpoint() // reused by encode
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    graft.operators.WriteLayout.clusterBy(
      pqEncode(emb, cb, idCol, vecCol, m, dim, frame, cellCol)
        .join(emb.select(col(idCol), col(cellCol).as("cell")),
          Seq(idCol)),
      "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
    frame.cells.getOrElse(cells)
      .write.mode("overwrite").parquet(s"$path/centroids")
    if (frame.dir.nonEmpty)
      emb.sparkSession.range(1).select(lit(true).as("residual"))
        .write.mode("overwrite").parquet(s"$path/residual")
  }

  /** Load a persisted PQ index: codebooks, LIVE codes, centroids and
    * the [[PqFrame]] its codes were written in — detected through the
    * index path's Hadoop `FileSystem` (so any URI scheme works), `rot`
    * before `perm` before `residual` before plain. Serving in any
    * other frame computes every distance in the wrong space.
    *
    * "Live" resolves the index's deletion lifecycle: codes come from
    * the generation directory the newest complete `_live` marker
    * names (the original `codes` dir until the first
    * [[compactPqIndex]]), and ids tombstoned by [[deleteFromPqIndex]]
    * but not yet compacted away are anti-joined out against the
    * BROADCAST tombstone set — tombstoned ids can never surface from
    * [[ivfPqTopK]] / [[pqAdcTopK]] fed from here.
    * Readers never GC (the [[graft.streaming.MarkerStateStore]]
    * reader discipline): a torn marker is skipped, an unreferenced
    * generation is invisible, and an in-flight writer's directories
    * are left alone.
    */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndex =
    readPqMeta(spark, path, pqMarker.read(spark, path))

  /** SNAPSHOT read: the index exactly as committed by marker `gen` —
    * audit/rollback for the removal pipeline, same contract as the
    * BM25/ANN snapshot reads (`pqMarker.listGenerations` lists what
    * is still inside the retention window; lifecycle ops take
    * `retain`).
    */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long): PqIndex =
    readPqMeta(spark, path, pqMarker.readAt(spark, path, gen))

  private def readPqMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, live: graft.operators.LiveState): PqIndex = {
    val cen = spark.read.parquet(s"$path/centroids")
    PqIndex(spark.read.parquet(s"$path/codebooks"),
      pqLiveCodes(spark, path, live), cen,
      pqFrameAt(LiveRead.fs(spark, path), path, cen,
        d => spark.read.parquet(s"$path/$d")))
  }

  /** The frame a persisted index's codes live in, from its marker
    * directories; `load` reads a transform model directory.
    */
  private def pqFrameAt(fs: org.apache.hadoop.fs.FileSystem,
      path: String, cen: DataFrame, load: String => DataFrame): PqFrame = {
    def has(d: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d"))
    if (has("rot")) PqFrame.Rotated(cen, load("rot"))
    else if (has("perm")) PqFrame.Permuted(cen, load("perm"))
    else if (has("residual")) PqFrame.Residual(cen)
    else PqFrame.Raw
  }

  /** ADC lookup table: `(keys…, sub, code, _d2)` — squared distance
    * from each framed query subvector (`_qr`, [[PqFrame]]) to every
    * codebook centroid, `m·k` rows per key.
    */
  private def adcLut(framed: DataFrame, keys: Seq[String],
      codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val sw = dim / m
    val kc = keys.map(col)
    (0 until m).map { s =>
      framed.select(kc :+ slice(col("_qr"), s * sw + 1, sw).as("_qs"): _*)
        .crossJoin(broadcast(
          codebooks.filter(col("sub") === s).select(col("cid"), col("cv"))))
        .select(kc ++ Seq(lit(s).as("sub"), col("cid").as("code"),
          dist2Fast(col("_qs"), col("cv")).as("_d2")): _*)
    }.reduce(_.unionByName(_))
  }

  /** IVF × PQ composed serving — the full billion-vector recipe: the
    * query probes its `nprobe` nearest IVF cells against the broadcast
    * `(cell, centroid)` table, candidates come from the cell equi-join
    * against the PQ code index (`codesWithCell`: the [[pqEncode]]
    * output carrying its IVF `cell` column, the layout written at
    * index-build time — on a cell-partitioned lake the probe prunes
    * files), and candidates are scored by ADC from codes alone, with
    * the lookup table in the codes' `frame` (keyed per query, or per
    * (query, probed cell) for residual codes). Raw vectors appear
    * nowhere at serve time: cost per query is `corpus/cells × nprobe`
    * CODE rows, each scored by `m` lookups.
    */
  def ivfPqTopK(
      codesWithCell: DataFrame, codebooks: DataFrame,
      centroids: DataFrame, queries: DataFrame, queryIdCol: String,
      vecCol: String, idCol: String, m: Int, k: Int, nprobe: Int = 2,
      dim: Int = 64, frame: PqFrame = PqFrame.Raw): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    val q = queries.select(col(queryIdCol).as("qid"), col(vecCol).as("qv"))
    val probed = topKPerKey(
      q.crossJoin(broadcast(centroids)),
      "qid", -cosine(col("qv"), col("centroid")), col("cell"), nprobe)
      .select(col("qid"), col("neighbor").as("cell"))
    val (framed, keys) = frame.queries(q, probed, dim)
    val lut = adcLut(framed, keys, codebooks, m, dim)
    val scored = codesWithCell.join(probed, Seq("cell"))
      .join(broadcast(lut), keys ++ Seq("sub", "code"))
      .groupBy(col("qid"), col(idCol).as("_vid"))
      .agg(sum(col("_d2")).as("adc_d2"))
    topKPerKey(scored, "qid", col("adc_d2"), col("_vid"), k)
      .select(col("qid"), col("rank"), col("neighbor"),
        round(col("rankval"), 6).as("adc_d2"))
  }

  /** Exact re-rank of an ADC candidate list — the "R" stage of
    * IVFADC-R (Jégou et al. 2011), after any [[PqFrame]]: `adc`
    * ([[ivfPqTopK]] run with k = c ≫ k candidates per query) picks the
    * provisional neighbors from codes alone, then ONLY those c ids
    * join back to the raw vectors (`emb` — on a cell-partitioned lake
    * the candidates' cells prune files) for exact cosine final
    * ranking. Approximate distances decide which c survive; EXACT
    * distances decide the final k — recovering most of the recall
    * quantization loses (measure with [[recallAtK]], the q65
    * harness). Serving cost grows by c raw-vector reads + c exact dot
    * products per query — still never a corpus scan.
    *
    * Output mirrors [[bruteForceTopK]]:
    * `(qid, rank, neighbor, cos_sim)`, rank 0-based by
    * (cos desc, neighbor asc), cosine rounded to 6 decimals.
    */
  def rerankExact(
      adc: DataFrame, queries: DataFrame, emb: DataFrame,
      queryIdCol: String, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("qid"), col(vecCol).as("qv"))
    val cand = adc.select(col("qid"), col("neighbor").as("cid"))
      .join(emb.select(col(idCol).as("cid"), col(vecCol).as("cv")),
        Seq("cid"))
      .join(broadcast(q), Seq("qid"))
    rankScored(scorePairs(cand), k)
  }

  /** Residual vectors for true IVFADC (Jégou, Douze & Schmid 2011 §IV):
    * `r = x − centroid(cell(x))`. Encoding RESIDUALS instead of raw
    * vectors concentrates the whole PQ code budget on WITHIN-cell
    * variance — the cell id already carries the coarse position, so
    * quantizing `x` directly wastes codewords re-describing what the
    * cell centroid knows. Worth several recall points at equal `m`/`k`
    * (pinned by IvfSpec's recall harness on the gate embeddings).
    *
    * Scale shape: one broadcast equi-join on the cell id (centroids
    * are one row per cell) + a fused per-row `zip_with` — the corpus
    * never shuffles. Each component is ONE IEEE subtraction
    * (`float→double − double`), so residuals are bit-identical across
    * engines and everything downstream (Lloyd fits, ADC LUTs)
    * hash-gates. Output: `(idCol, cell, _rv: array<double>)`.
    */
  def ivfResiduals(
      emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, cellCol: String = "cell"): DataFrame =
    emb.select(col(idCol), col(cellCol).as("cell"), col(vecCol).as("_v"))
      .join(broadcast(centroids.select(col("cell"), col("centroid"))),
        Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("_v"), col("centroid"),
          (x, c) => x.cast("double") - c).as("_rv"))

  /** OPQ rotation, parametric-lite flavor (Ge, He, Ke & Sun,
    * "Optimized Product Quantization", CVPR 2013 §4): learn an
    * ORTHOGONAL transform that balances quantization-relevant energy
    * across the `m` PQ subspaces before the sub-vector split. A plain
    * contiguous split wastes code budget when variance concentrates in
    * a few coordinates — one subspace's codebook fights all the energy
    * while the others encode noise. Full OPQ learns a dense rotation;
    * the parametric-lite flavor here learns a PERMUTATION (a rotation
    * matrix of 0/1 entries): rank dimensions by their residual energy
    * `Σ round(r_i·10³)²` (exact integer, order-free) and deal them
    * serpentine (1st→sub 0, …, m-th→sub m−1, m+1-th→sub m−1, … —
    * the balanced-dealing heuristic) so every subspace receives the
    * same energy profile. Distances are invariant under the transform
    * (it is orthogonal), PQ codebooks only see the better-conditioned
    * split. Fully in-plan and exact-integer → the whole rotated chain
    * hash-gates (the dense-rotation variant could not be replayed by a
    * SQL oracle).
    *
    * Output: ONE row, `_perm: array<int>` (1-based source positions;
    * new component i reads source component `_perm[i]`) — model
    * metadata to persist beside the codebooks and broadcast at apply
    * time. The d-row ranking window is bounded by `dim` (model-size,
    * never corpus-size).
    */
  def opqPermutation(
      emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, cellCol: String, m: Int,
      dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    val sw = dim / m
    val en = ivfResiduals(emb, centroids, idCol, vecCol, cellCol)
      .select(posexplode(transform(col("_rv"),
        x => round(x * lit(1000.0)).cast("long"))).as(Seq("_pos", "_mv")))
      .groupBy(col("_pos"))
      .agg(sum(col("_mv") * col("_mv")).as("_e"))
    import org.apache.spark.sql.expressions.Window
    // dim-row global window: bounded model metadata, not corpus rows
    val w = Window.orderBy(col("_e").desc, col("_pos"))
    val ranked = en.withColumn("_rn", row_number().over(w) - 1)
    val roundIdx = expr(s"_rn div $m")
    val subIdx = when(pmod(roundIdx, lit(2)) === 0, pmod(col("_rn"), lit(m)))
      .otherwise(lit(m - 1) - pmod(col("_rn"), lit(m)))
    ranked
      .select((subIdx * sw + roundIdx).as("_np"),
        (col("_pos") + 1).as("_op"))
      .agg(transform(
        array_sort(collect_list(struct(col("_np").as("n"),
          col("_op").as("o")))),
        _.getField("o")).as("_perm"))
  }

  /** Apply a 1-based permutation array to a vector column. */
  private def permuteVec(v: Column, perm: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => element_at(v, element_at(perm, i + 1)))

  /** Apply a dense row-major d×d rotation to a vector column:
    * `y_i = Σ_j R[i·d + j]·x_j` — an in-plan matvec against the 1-row
    * broadcast rotation (d² doubles of model metadata).
    */
  private def rotateVec(v: Column, rot: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0d),
        (acc, j) => acc + element_at(rot, i * dim + j + 1) *
          element_at(v, j + 1).cast("double")))


  /** Cyclic Jacobi eigendecomposition of a symmetric d×d matrix —
    * driver-side, O(sweeps·d³) on ≤ 64×64 model metadata. Returns
    * (eigenvalues, eigenvectors-as-columns) sorted by eigenvalue desc.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    val eps = 1e-22 * (0 until d).map(i => a(i)(i) * a(i)(i)).sum.max(1e-300)
    var sweep = 0
    while (sweep < 50 && off() > eps) {
      for (p <- 0 until d; q <- p + 1 until d if a(p)(q) != 0.0) {
        // numerically stable rotation (Golub & Van Loan §8.5)
        val tau = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(tau).max(-1.0).min(1.0) match {
          case 0.0 => 1.0 / (tau + math.sqrt(1.0 + tau * tau))
          case s0 => s0 / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
        }
        val c = 1.0 / math.sqrt(1.0 + t * t)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      Array.tabulate(d, d)((r, c0) => v(r)(order(c0))))
  }

  /** Modified Gram-Schmidt re-orthonormalization of a matrix's ROWS —
    * snaps the polar-decomposition output back to exact orthogonality
    * (float error or a near-degenerate singular value would otherwise
    * drift R off the orthogonal manifold across alternations).
    */
  private def orthonormalizeRows(r: Array[Array[Double]])
      : Array[Array[Double]] = {
    val d = r.length
    val out = r.map(_.clone())
    def dotRows(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var t = 0
      while (t < d) { s += a(t) * b(t); t += 1 }
      s
    }
    def projectAgainst(row: Array[Double], basis: Seq[Int]): Unit =
      basis.foreach { j =>
        val p = dotRows(row, out(j))
        var t = 0
        while (t < d) { row(t) -= p * out(j)(t); t += 1 }
      }
    // phase 1: MGS the WELL-DEFINED rows in order; DEFER degenerate
    // ones (a rank-deficient Procrustes M leaves null rows whose
    // direction is arbitrary) — completing them inline would tilt
    // every later good row away from the optimum when the good row
    // projects against the arbitrary filler
    var accepted = Vector.empty[Int]
    var deferred = Vector.empty[Int]
    for (i <- 0 until d) {
      projectAgainst(out(i), accepted)
      var nrm = math.sqrt(dotRows(out(i), out(i)))
      if (nrm < 1e-6) deferred :+= i
      else {
        // second projection pass (Kahan: "twice is enough") keeps
        // orthogonality at machine precision
        projectAgainst(out(i), accepted)
        nrm = math.sqrt(dotRows(out(i), out(i)))
        require(nrm > 1e-12, s"degenerate rotation row $i")
        var t = 0
        while (t < d) { out(i)(t) /= nrm; t += 1 }
        accepted :+= i
      }
    }
    // phase 2: fill deferred rows by basis completion against the
    // FULL accepted set (their direction is flat in the objective)
    deferred.foreach { i =>
      var t = 0
      var done = false
      while (!done) {
        require(t < d, s"could not complete basis at row $i")
        val cand = Array.tabulate(d)(x => if (x == t) 1.0 else 0.0)
        projectAgainst(cand, accepted)
        val cn = math.sqrt(dotRows(cand, cand))
        if (cn > 0.5) {
          var x = 0
          while (x < d) { out(i)(x) = cand(x) / cn; x += 1 }
          projectAgainst(out(i), accepted) // Kahan second pass
          val n2 = math.sqrt(dotRows(out(i), out(i)))
          var x2 = 0
          while (x2 < d) { out(i)(x2) /= n2; x2 += 1 }
          accepted :+= i
          done = true
        } else t += 1
      }
    }
    out
  }

  /** DENSE OPQ rotation — Ge/He/Ke/Sun, "Optimized Product
    * Quantization" (CVPR 2013): the full orthogonal-rotation tier
    * above [[opqPermutation]]'s axis-reordering deal. Two stages:
    *
    *  1. **Parametric seed (OPQ-P, §4)**: rotate the IVF residuals
    *     into their PCA eigenbasis and allocate eigen-directions to
    *     the m subspaces balancing the PRODUCT of per-subspace
    *     variances (the Gaussian-optimal split).
    *  2. **Non-parametric alternations (OPQ-NP, §3)**: fix R, fit PQ
    *     codebooks on the rotated residuals; fix the codebooks, solve
    *     the orthogonal Procrustes problem `min ‖R·x − y‖²` over the
    *     corpus (R = U·Vᵀ of the cross-moment M = Σ y·xᵀ) — each
    *     alternation can only lower distortion.
    *
    * Scale shape: each driver-visible object is d×d model metadata —
    * the residual Gram (exact milli² integers, the [[pcaPowerTop]]
    * discipline), and per alternation one cross-moment matrix; the
    * corpus contributes one distributed pass for the Gram plus
    * (Lloyd iters + encode + moment) passes per alternation and never
    * reaches the driver. The Jacobi eigensolve / polar decomposition
    * are O(d³) ≈ 3·10⁵ flops on the driver; rows re-orthonormalize by
    * modified Gram-Schmidt so R stays exactly orthogonal.
    *
    * TEST-PINNED TIER (IvfSpec pins recall(dense) ≥
    * recall(permutation) at equal m/k): the float eigensolve is not
    * SQL-replayable, so the hash-gated/persisted paths keep the
    * exact-integer permutation flavor — the same honest split as
    * pageRank's prod vs oracle tiers.
    *
    * Returns the MATCHED pair the alternations trained jointly:
    * (1-row `_rot` = row-major d×d DOUBLE array, codebooks
    * `(sub, cid, cv)` in the rotated frame). Serve with BOTH —
    * re-fitting codebooks from scratch discards the joint descent.
    */
  def opqDenseFit(
      emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, cellCol: String, m: Int, dim: Int = 64,
      alternations: Int = 2, k: Int = 4, iters: Int = 2,
      bucketWidth: Long = 4096L): (DataFrame, DataFrame) = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m")
    require(alternations >= 0, s"alternations must be >= 0")
    val sw = dim / m
    val spark = emb.sparkSession
    // the residual frame feeds the Gram + every alternation's fit/
    // encode/moment — materialize once
    val res = ivfResiduals(emb, centroids, idCol, vecCol, cellCol)
      .select(col(idCol).as("_rid"), col("_rv")).persist()
    val milli = res.select(transform(col("_rv"),
      x => round(x * lit(1000.0)).cast("long")).as("_x"))
    val outer = flatten(transform(col("_x"),
      a => transform(col("_x"), b => a * b)))
    // ONE distributed pass; the collect is the d²-long Gram — bounded
    // model metadata, not corpus rows
    val gramRow = milli
      .select(posexplode(outer).as(Seq("_pos", "_prod")))
      .groupBy(col("_pos")).agg(sum(col("_prod")).as("_g"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val g = Array.tabulate(dim, dim)((i, j) =>
      gramRow.getOrElse(i * dim + j, 0L).toDouble / 1e6)
    val (lambda, vec) = jacobiEigen(g)
    // eigenvalue allocation: assign eigen-directions (desc λ) to the
    // subspace with the smallest log-product so far (free capacity sw)
    val logProd = Array.fill(m)(0.0)
    val used = Array.fill(m)(0)
    val slots = Array.fill(m)(Vector.empty[Int])
    (0 until dim).foreach { e =>
      val s = (0 until m).filter(used(_) < sw)
        .minBy(s0 => (logProd(s0), s0))
      slots(s) :+= e
      used(s) += 1
      logProd(s) += math.log(lambda(e).max(1e-12))
    }
    // row i of R = the eigenvector (as a row) allocated to output dim
    // i; subspace s owns output rows s·sw … s·sw+sw−1
    val rowsOrder = slots.flatten
    var rot = orthonormalizeRows(
      Array.tabulate(dim, dim)((i, j) => vec(j)(rowsOrder(i))))
    def rotDf(r: Array[Array[Double]]): DataFrame =
      spark.range(1).select(typedLit(r.flatten.toSeq).as("_rot"))
    def rotate(r: Array[Array[Double]]): DataFrame =
      res.crossJoin(broadcast(rotDf(r)))
        .select(col("_rid"), rotateVec(col("_rv"), col("_rot"), dim)
          .as("_rv"))
    // one Lloyd assign+update round continuing from `cur` — the OPQ-NP
    // warm start (Ge et al. Algorithm 2: codebooks PERSIST across
    // alternations; fresh re-fits would break the descent)
    def lloydRound(rotated: DataFrame, cur: DataFrame): DataFrame = {
      val enc = pqEncode(rotated, cur, "_rid", "_rv", m, dim)
      val slices = (0 until m).map(s => rotated.select(col("_rid"),
        lit(s).as("sub"), slice(col("_rv"), s * sw + 1, sw).as("_sv")))
        .reduce(_.unionByName(_))
      val upd = enc.join(slices, Seq("_rid", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("_sv")).as(Seq("_p", "_x")))
        .groupBy(col("sub"), col("code"), col("_p"))
        .agg(avg(col("_x")).as("_mu"))
        .groupBy(col("sub"), col("code").as("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("_p"), col("_mu")))),
          _.getField("_mu")).as("_new"))
      // empty clusters keep their previous centroid
      cur.select(col("sub"), col("cid"), col("cv").as("_old"))
        .join(upd, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("_new"), col("_old")).as("cv"))
        .localCheckpoint()
    }
    var cb = pqFit(rotate(rot), "_rid", "_rv", m, k, iters, dim,
      bucketWidth).localCheckpoint()
    for (_ <- 1 to alternations) {
      val rotated = rotate(rot)
      // reconstruction y = concat of winning codebook centroids —
      // fixed points in CODE space, independent of R
      val y = pqEncode(rotated, cb, "_rid", "_rv", m, dim)
        .join(broadcast(cb.select(col("sub"), col("cid").as("code"),
          col("cv"))), Seq("sub", "code"))
        .groupBy(col("_rid"))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("sub"), col("cv")))),
          _.getField("cv"))).as("_y"))
      // cross-moment M[i][j] = Σ y_i·x_j — the only driver-visible
      // object of the alternation (d² doubles of model metadata)
      val mom = res.join(y, Seq("_rid"))
        .select(posexplode(flatten(transform(col("_y"),
          a => transform(col("_rv"), b => a * b))))
          .as(Seq("_pos", "_prod")))
        .groupBy(col("_pos")).agg(sum(col("_prod")).as("_s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val mm = Array.tabulate(dim, dim)((i, j) =>
        mom.getOrElse(i * dim + j, 0.0))
      // orthogonal Procrustes: R = U·Vᵀ of M = U·S·Vᵀ. V and S² come
      // from the Jacobi eigensolve of MᵀM; U's columns are M·v_t/σ_t
      // for live singular values and a basis COMPLETION for collapsed
      // ones (M is typically rank ≤ m·k here, far below d — the
      // completion must happen in the U-FRAME, paired with V's null
      // columns, where the objective is genuinely flat; re-
      // orthonormalizing R's ROWS instead would tilt live directions
      // off the optimum).
      val mtm = Array.tabulate(dim, dim)((i, j) =>
        (0 until dim).map(t => mm(t)(i) * mm(t)(j)).sum)
      val (sl, v) = jacobiEigen(mtm)
      val smax = sl.map(_.max(0.0)).max.max(1e-300)
      val live = (0 until dim).filter(t => sl(t) > 1e-10 * smax)
      val placed = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      def mgsNorm(w0: Array[Double]): Option[Array[Double]] = {
        val w = w0.clone()
        for (_ <- 0 to 1; p <- placed) { // Kahan twice-is-enough
          val pr = (0 until dim).map(t => w(t) * p(t)).sum
          for (t <- 0 until dim) w(t) -= pr * p(t)
        }
        val n = math.sqrt(w.map(x => x * x).sum)
        if (n < 1e-8) None else Some(w.map(_ / n))
      }
      val uCols = Array.ofDim[Array[Double]](dim)
      live.foreach { t =>
        val raw = Array.tabulate(dim)(i =>
          (0 until dim).map(j => mm(i)(j) * v(j)(t)).sum)
        uCols(t) = mgsNorm(raw).getOrElse(
          sys.error(s"live singular direction $t collapsed"))
        placed += uCols(t)
      }
      (0 until dim).filterNot(live.contains).foreach { t =>
        var ax = 0
        while (uCols(t) == null) {
          require(ax < dim, s"could not complete U basis at $t")
          mgsNorm(Array.tabulate(dim)(x => if (x == ax) 1.0 else 0.0))
            .foreach { w => uCols(t) = w; placed += w }
          ax += 1
        }
      }
      rot = Array.tabulate(dim, dim)((i, j) =>
        (0 until dim).map(t => uCols(t)(i) * v(j)(t)).sum)
      // codebook step: warm-started Lloyd in the NEW frame
      cb = lloydRound(rotate(rot), cb)
    }
    res.unpersist()
    (rotDf(rot), cb)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * CCMatrix/LASER recipe): align a SOURCE embedding set to a TARGET
    * set by scoring each forward-kNN candidate pair with the MARGIN
    *
    *   margin(x,y) = cos(x,y) / (Σ_{z∈NNk(x)} cos(x,z)/(2k)
    *                           + Σ_{z∈NNk(y)} cos(z,y)/(2k))
    *
    * — raw cosine over-pairs hubs (vectors near everything); dividing
    * by both sides' average neighborhood similarity keeps only pairs
    * that are close RELATIVE to their neighborhoods. Emits each
    * source's best-margin target with `margin ≥ threshold`:
    * `(src_id, tgt_id, cos_sim, margin)`, ties to the lowest target
    * id. This is how parallel translation pairs (and caption↔image or
    * doc↔summary alignments) are mined from two monolingual corpora.
    *
    * Cross-engine exactness: candidate cosines snap to 6 decimals
    * first (the q17 chain); each side's neighborhood sum folds the
    * ROUNDED cosines in rank order (deterministic — rank is
    * (cos desc, id asc)); the margin is one division of that fixed
    * chain, rounded once; a zero denominator yields NULL on both
    * engines rather than an engine-specific infinity.
    *
    * Scale shape: the source side plays the query-set role and
    * BROADCASTS (mine in source slices); the target side never
    * shuffles; both kNN directions and the margins come from the same
    * scored pair frame (windowless two-phase top-k, per-key state
    * bounded by k). For corpus×corpus mining, pre-bucket both sides
    * with the [[annTopK]] hyperplanes and mine per bucket — the
    * candidate generation trade every ANN path here makes.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int = 4,
      threshold: Double = 0.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val x = src.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val y = tgt.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    // both kNN directions and the margin join read this frame; it
    // stays a LAZY plan so the gate audits the real shapes — a
    // production run over a big target side should persist/checkpoint
    // it once instead of paying three broadcast-scan passes
    val scored = scorePairs(y.join(broadcast(x)))
      .filter(col("cos_sim").isNotNull)
      .select(col("qid"), col("cid"), col("cos_sim"))
    // the forward top-k serves BOTH as the candidate set and as x's
    // neighborhood (one pair-grid pass, not two); only the backward
    // direction needs its own pass
    def nnAvg(top: DataFrame, key: String, as: String): DataFrame =
      top.groupBy(col(key)).agg(count(lit(1)).as("_n"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("rank"), col("rankval")))),
            _.getField("rankval")),
          lit(0.0), (a, c) => a - c).as("_s")) // rankval = -cos
        .select(col(key),
          (col("_s") / (col("_n") * 2L).cast("double")).as(as))
    val fwdTop = topKPerKey(scored, "qid", -col("cos_sim"), col("cid"), k)
    val ax = nnAvg(fwdTop, "qid", "_dx")
    val ay = nnAvg(
      topKPerKey(scored, "cid", -col("cos_sim"), col("qid"), k),
      "cid", "_dy")
    val fwd = fwdTop
      .select(col("qid"), col("neighbor").as("cid"),
        (-col("rankval")).as("cos_sim"))
    val denom = col("_dx") + col("_dy")
    val margins = fwd
      .join(ax, Seq("qid")).join(ay, Seq("cid"))
      .select(col("qid"), col("cid"), col("cos_sim"),
        when(denom =!= 0.0, round(col("cos_sim") / denom, 6)).as("margin"))
      .filter(col("margin").isNotNull && col("margin") >= threshold)
    topKPerKey(margins.withColumn("_payload",
        struct(col("cid"), col("cos_sim"), col("margin"))),
      "qid", struct(-col("margin"), col("cid")), col("_payload"), 1)
      .select(col("qid").as("src_id"),
        col("neighbor").getField("cid").as("tgt_id"),
        col("neighbor").getField("cos_sim").as("cos_sim"),
        col("neighbor").getField("margin").as("margin"))
  }

  /** Assign vectors to the IVF cell their SERVING probe would search:
    * top-1 cosine against the persisted `(cell, centroid)` table — the
    * same metric [[ivfPqTopK]]'s probe ranks with, so a vector lands
    * in the cell where queries nearest to it actually look. One
    * broadcast + windowless argmax; the corpus never shuffles.
    * Output: `(idCol, cell)`.
    */
  def assignIvfCells(emb: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    topKPerKey(
      emb.select(col(idCol).as("vid"), col(vecCol).as("qv"))
        .crossJoin(broadcast(centroids)),
      "vid", -cosine(col("qv"), col("centroid")), col("cell"), 1)
      .select(col("vid").as(idCol), col("neighbor").as("cell"))

  /** INCREMENTAL index maintenance — the write path a 100 TB lake
    * actually runs: new vectors append to a persisted PQ index
    * ([[writePqIndex]] layout, any flavor) WITHOUT refitting —
    * codebooks, cell centroids and the index's [[PqFrame]] load as-is
    * (model metadata), the batch encodes against them (a rotated
    * index's appends go through the SAME frozen transform: raw-residual
    * codes against rotated codebooks would be silently wrong in every
    * distance), and the coded rows append under their cell
    * partitions. A full refit is a scheduled rebalance, not a
    * per-batch cost; quantization error for the appended rows is
    * whatever the frozen codebooks give (measure with [[recallAtK]]
    * when drift accumulates — [[groupEmbeddingDrift]] is the monitor).
    *
    * Cells for the new rows come from [[assignIvfCells]] against the
    * index's own centroid table (the probe metric), unless the caller
    * supplies a `cellCol` matching the index's original convention.
    *
    * Already-indexed ids are anti-joined away by default
    * (`dedupeIds`): a duplicate (id, sub) row would make ADC's
    * per-(query, id) SUM count a subspace twice and corrupt the
    * distance — append must be idempotent for at-least-once writers.
    * The anti-join reads an ids-only projection of the code table,
    * not deduplicated: an anti-join only asks whether a match exists.
    */
  def appendToPqIndex(emb: DataFrame, path: String, idCol: String,
      vecCol: String, m: Int, dim: Int = 64,
      cellCol: Option[String] = None,
      dedupeIds: Boolean = true): Unit = {
    val spark = emb.sparkSession
    val fs = LiveRead.fs(spark, path)
    // appends land in the LIVE generation directory (post-compaction
    // that is `codes_gen=N`, not the original `codes`); the dedupe
    // anti-join runs against the PHYSICAL live codes — tombstoned ids
    // still hold rows there, so re-appending a deleted id is a no-op
    // until a [[compactPqIndex]] physically drops it (otherwise the
    // duplicate (id, sub) rows would double-count subspaces in ADC)
    val liveCodesDir = s"$path/${pqMarker.read(fs, path).dir("codes")}"
    val cb = spark.read.parquet(s"$path/codebooks").localCheckpoint()
    val cen = spark.read.parquet(s"$path/centroids").localCheckpoint()
    val frame = pqFrameAt(fs, path, cen,
      d => spark.read.parquet(s"$path/$d").localCheckpoint())
    val fresh =
      if (dedupeIds)
        emb.join(spark.read.parquet(liveCodesDir).select(col(idCol)),
          Seq(idCol), "left_anti")
      else emb
    val withCell = cellCol match {
      case Some(c) => fresh.withColumn("cell", col(c))
      case None => fresh.join(
        assignIvfCells(fresh, cen, idCol, vecCol), Seq(idCol))
    }
    graft.operators.WriteLayout.clusterBy(
      pqEncode(withCell, cb, idCol, vecCol, m, dim, frame)
        .join(withCell.select(col(idCol), col("cell")), Seq(idCol)),
      "cell")
      .write.mode("append").partitionBy("cell").parquet(liveCodesDir)
  }

  // --------------------------------------------------------------------
  // Persisted-index deletion lifecycle: tombstones + marker-committed
  // generation compaction.
  //
  // The append-only index family above absorbs corpus GROWTH; a corpus
  // refresh that REMOVES documents (a dedup pass, a takedown, the
  // removal-audit pipeline's verdicts) needs the other half of the
  // lifecycle, committed by the shared `_live` protocol
  // ([[graft.operators.LiveMarker]] owns the commit order):
  //
  //   <path>/_live.<gen, zero-padded>   write-once commit markers
  //   <path>/tombstones/batch=<B>/      write-once ids-only parquet
  //   <path>/codes_gen=<G>/             write-once compacted codes
  //
  // No marker = the pristine [[writePqIndex]] layout (codes at
  // `codes`, no tombstones). Readers ([[readPqIndex]]) anti-join the
  // broadcast tombstone set so deleted ids never surface.
  // --------------------------------------------------------------------

  private val LiveMarkerPrefix = "_live."

  /** The PQ family's `_live` marker (the discipline PQ pioneered,
    * shared by every marker-committed index family through
    * [[graft.operators.LiveMarker]]). Its generations list is empty
    * until the first delete/compact commit: creation is the pristine
    * marker-less layout.
    */
  private[graft] val pqMarker = new graft.operators.LiveMarker(
    Seq(("codes", "codes", "codes_gen=")), Seq("tombstones"), "pq")

  /** The live code rows: the generation `live` names minus its
    * un-compacted tombstone ids (column = the index's id column, as
    * written by [[deleteFromPqIndex]]), anti-joined against the
    * BROADCAST tombstone set. The ids are not deduplicated: an
    * anti-join only asks whether a match exists (the
    * [[graft.operators.LiveRead.rows]] reasoning).
    */
  private def pqLiveCodes(spark: org.apache.spark.sql.SparkSession,
      path: String, live: graft.operators.LiveState): DataFrame = {
    val codes = spark.read.parquet(s"$path/${live.dir("codes")}")
    if (live.batches.isEmpty) codes
    else {
      val tomb = spark.read.parquet(
        live.batches.map(b => s"$path/tombstones/batch=$b"): _*)
      codes.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
    }
  }

  /** Reset the deletion lifecycle — called by every full
    * [[writePqIndex]] rebuild (any flavor) so a stale marker from a previous
    * life of the path cannot point the fresh `codes` directory at a
    * dead generation.
    */
  private[graft] def resetPqIndexLifecycle(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(LiveMarkerPrefix) ||
        p.getName == "tombstones" || p.getName.startsWith("codes_gen=") ||
        // flavor markers: a rebuild as a DIFFERENT flavor must not
        // leave a stale residual/perm/rot dir misdirecting the detection
        p.getName == "residual" || p.getName == "perm" ||
        p.getName == "rot")
      .foreach { p =>
        if (!fs.delete(p, true)) throw new java.io.IOException(
          s"pq index rebuild failed to clear lifecycle state at $p")
      }
  }

  /** Tombstone-delete ids from a persisted PQ index — the index-side
    * absorber of the removal-audit pipeline's verdicts (takedowns,
    * dedup losers, redactions) WITHOUT a full rebuild: `ids` (ONE
    * column, named exactly as the index's id column) land as a
    * write-once ids-only parquet batch under `tombstones/`
    * ([[graft.operators.LiveMarker.delete]]). Every reader resolves
    * through [[readPqIndex]], which anti-joins the broadcast tombstone
    * set — a deleted id can never surface again, from the ADC path or
    * the refined path, at O(batch) write cost. Deletes accumulate
    * until a [[compactPqIndex]] folds them into a fresh codes
    * generation. Ids absent from the index are harmless no-ops.
    */
  def deleteFromPqIndex(ids: DataFrame, path: String,
      retain: Int = 1): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a single-column (index id) frame, " +
        s"got ${ids.columns.mkString(",")}")
    pqMarker.delete(ids.sparkSession, path, retain) { (_, b) =>
      ids.distinct().write.mode("errorifexists")
        .parquet(s"$path/tombstones/batch=$b")
    }
  }

  /** Generation compaction ([[graft.operators.LiveMarker.compact]]):
    * rewrite the live codes MINUS the accumulated tombstones into a
    * fresh write-once `codes_gen=<G>` directory. Also collapses the
    * small files of accumulated [[appendToPqIndex]] batches (one
    * output file per cell partition per shuffle partition), so it
    * doubles as the index's periodic file-compaction pass.
    *
    * Cost: one scan + partitioned write of the code table (codes only
    * — raw vectors, codebooks and centroids are untouched). Run it on
    * the removal pipeline's cadence, not per delete.
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, retain: Int = 1): Unit =
    pqMarker.compact(spark, path, retain) { (live, next) =>
      graft.operators.WriteLayout.clusterBy(
        pqLiveCodes(spark, path, live), "cell")
        .write.mode("errorifexists").partitionBy("cell")
        .parquet(s"$path/${next.dir("codes")}")
    }

  /** Random-projection dimensionality reduction: `outDim` fixed
    * md5-derived hyperplanes ([[planeWeight]] — no RNG state), each
    * output component one left-fold dot product. The 64→8 compression
    * tier for coarse filtering before exact reranking; projections are
    * emitted as columns `p0..p{outDim-1}`.
    */
  def randomProject(
      emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, dim: Int = 64): DataFrame = {
    val cols = (0 until outDim).map { p =>
      val w = array((0 until dim).map(d => lit(planeWeight(p, d))): _*)
      round(dot(col(vecCol), w), 6).as(s"p$p")
    }
    emb.select(col(idCol) +: cols: _*)
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * MOST similar corpus vectors with a DIFFERENT label — the negatives
    * that sit closest to the decision boundary. Same scale shape as
    * [[bruteForceTopK]] (query set broadcasts, corpus never shuffles,
    * windowless two-phase top-k); restrict the corpus side by an ANN
    * bucket first at 100 TB.
    */
  def hardNegatives(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        col(labelCol).as("qlabel"))
    val c = emb.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      col(labelCol).as("clabel"))
    rankScored(scorePairs(c.join(broadcast(q),
      col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))), k)
  }

  /** The 100 TB flavor of [[hardNegatives]]: candidates restricted to
    * the query's hyperplane sign bucket (the [[annTopK]] trick) before
    * the different-label filter and exact cosine rank — candidate
    * generation is an EQUI-join on the bucket id, so the corpus never
    * meets the query set in a nested loop. Recall < 1 by construction;
    * `probeBits` Hamming-1 multi-probe is the recall knob. With every
    * label distinct this degenerates to exactly [[annTopK]] (pinned by
    * test).
    */
  def hardNegativesAnn(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryPred: Column, k: Int, planes: Int = 12, dim: Int = 64,
      probeBits: Int = 0): DataFrame = {
    val withBucket = emb.withColumn(
      "bucket", simhashBucket(col(vecCol), planes, dim))
    probeJoinTopK(
      withBucket.filter(queryPred)
        .select(col(idCol).as("qid"), col(vecCol).as("qv"),
          col(labelCol).as("qlabel"), col("bucket")),
      withBucket
        .select(col(idCol).as("cid"), col(vecCol).as("cv"),
          col(labelCol).as("clabel"), col("bucket")),
      k, probeBits,
      col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))
  }

  /** Largest absolute component of a vector (the symmetric-quantization
    * scale). `abs`/`max` are IEEE-exact, so the scale is bit-identical
    * in any engine.
    */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization: `q_i = floor(v_i·127/scale + 0.5)`
    * (round-half-up via floor — exact and engine-independent, unlike
    * banker's-rounding `round` variants). A zero scale (all-zero
    * vector) quantizes to zeros. Pass `scale` = [[maxAbs]] staged in a
    * prior projection so it is computed once per vector, not once per
    * element. 4× memory/bandwidth reduction for ANN candidate scans —
    * the compressed-storage tier of a 100 TB embedding corpus.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") * lit(127.0) / scale + lit(0.5))))

  /** Embedding-cosine near-dup pairs (dedup flavor of ANN): bucket join,
    * exact cosine, threshold.
    */
  def cosineNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 12, dim: Int = 64): DataFrame = {
    val withBucket = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      simhashBucket(col(vecCol), planes, dim).as("bucket"))
    val a = withBucket.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"))
    val b = withBucket.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosineFast(col("v_a"), col("v_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim").distinct()
  }

  /** SemDedup (semantic dedup over embeddings): k-means cells act as
    * the blocking buckets, exact cosine scores pairs WITHIN a cell at
    * `threshold`, connected components collapse transitive groups, and
    * the minimal-id member of each group survives. Returns the
    * surviving rows of `emb` unchanged.
    *
    * Scale shape: candidate pairs form only inside a cell (equi-join on
    * the cluster id — never all-pairs), so pair volume is bounded by
    * cell sizes, and k is the first knob: real deployments size k ∝ n /
    * (target cell size) so cells stay in the low thousands and the
    * within-cell join is a bounded quadratic. k alone cannot bound a
    * HOT cell, though — k-means cells skew, and one popular embedding
    * region can hold an unbounded corpus fraction regardless of k — so
    * any cell past `cellCap` rows is additionally SUB-BUCKETED by
    * hyperplane sign bits (the [[cosineNearDupPairs]] blocking trick)
    * before pairing; see [[semDedupWithCentroids]]. Training is
    * [[kmeansFit]] (the expensive part, persistable); scoring + pairing
    * shuffle (id, vector) rows keyed by cell — one shuffle each side.
    */
  def semDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      dim: Int = 64, bucketWidth: Long = 4096L,
      maxIter: Int = 20, cellCap: Long = 1L << 20,
      subPlanes: Int = 16): DataFrame =
    semDedupWithCentroids(emb,
      kmeansFit(emb, idCol, vecCol, k, iters, dim, bucketWidth),
      idCol, vecCol, threshold, maxIter, cellCap, subPlanes, dim)

  /** [[semDedup]] against an already-TRAINED (cid, cv) centroid table
    * ([[kmeansFit]]'s output, persistable as k rows of parquet) —
    * train once, dedup any corpus drop against the same cells without
    * re-running Lloyd.
    *
    * Hot-cell bound: the within-cell pairing is quadratic in cell size,
    * so any cell holding more than `cellCap` rows is split into
    * hyperplane sign-bit sub-buckets before the pair join — a cell of
    * size s gets ceil(log2(s / cellCap)) sign bits (capped at
    * `subPlanes`), so per-bucket pair fan-out stays ~cellCap² no matter
    * how skewed the k-means cells are. The split trades recall the same
    * way [[cosineNearDupPairs]]'s blocking does: a near-dup pair whose
    * members land in different sub-buckets is missed — sign-bit
    * agreement is exactly what cosine-similar vectors have with high
    * probability, so the loss concentrates on pairs near the threshold.
    * The default cap (2^20 rows) never triggers below a million-row
    * cell, so small-corpus results are bit-identical to the unbounded
    * formulation. Cell sizes come from one narrow count aggregation
    * (one row per cell — broadcast back).
    */
  def semDedupWithCentroids(
      emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxIter: Int = 20, cellCap: Long = 1L << 20,
      subPlanes: Int = 16, dim: Int = 64): DataFrame = {
    require(cellCap > 0, "cellCap must be positive")
    require(subPlanes >= 0 && subPlanes <= 62,
      s"subPlanes must be in [0, 62], got $subPlanes")
    // checkpoint: the assignment pass (broadcast argmin over the whole
    // corpus) feeds TWO consumers — the pairing sides and the cell-size
    // count; the cut materializes narrow (id, cell) pairs once instead
    // of running the assignment twice. Same doctrine as the cascade's
    // id-set cuts: ids are cheap to hold, corpus passes are not.
    val cells = assignToCentroids(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("cluster").as("_cell"))
      .localCheckpoint()
    val cellSizes = cells.groupBy(col("_cell")).agg(count(lit(1)).as("_cn"))
    // bits per cell: 0 when under the cap, else enough sign bits that
    // the expected sub-bucket size falls back under it
    val bits = when(col("_cn") <= cellCap, lit(0))
      .otherwise(least(
        ceil(log(2.0, col("_cn").cast("double") / cellCap)).cast("int"),
        lit(subPlanes)))
    // slices per cell for the PAIRING parallelism (guide §2.5: the
    // join key (_cell, _sub) has only k·2^bits values, so the
    // quadratic cosine stage runs on at most that many tasks no
    // matter the cluster width): side A slices by a deterministic
    // id-hash salt sized so one slice carries ~2^20 pairs, side B
    // replicates across the cell's salt space — every (a, b) pair
    // still meets exactly once (at a's slice), so the pair SET is
    // unchanged; only task granularity changes. Salt count derives
    // from the cell size (scale-adaptive, 1 for small cells — zero
    // replication unless the quadratic work is real), capped so the
    // B-side replication stays bounded on monster cells (which the
    // cellCap sub-bucket split already handles for fan-out).
    val nsalt = least(greatest(ceil(
      col("_cn").cast("double") * col("_cn").cast("double") /
        lit((1L << 20).toDouble)).cast("long"), lit(1L)), lit(1024L))
    val sides = emb.select(col(idCol), col(vecCol).as("_v"))
      .join(cells, Seq(idCol))
      .join(broadcast(cellSizes.select(col("_cell"), bits.as("_bits"),
        nsalt.as("_nsalt"))), Seq("_cell"))
      .withColumn("_sub",
        when(col("_bits") === 0, lit(0L)).otherwise(
          simhashBucket(col("_v"), subPlanes, dim)
            .bitwiseAND(expr("shiftleft(1L, _bits) - 1L"))))
    val a = sides.select(col("_cell"), col("_sub"),
      pmod(xxhash64(col(idCol)), col("_nsalt")).as("_salt"),
      col(idCol).as("id_a"), col("_v").as("_va"))
    val b = sides.select(col("_cell"), col("_sub"),
      explode(sequence(lit(0L), col("_nsalt") - 1)).as("_salt"),
      col(idCol).as("id_b"), col("_v").as("_vb"))
    val pairs = a.join(b, Seq("_cell", "_sub", "_salt"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineFast(col("_va"), col("_vb")), 6) >= threshold)
      .select("id_a", "id_b")
    val clusters = graft.text.Dedup.clusterLabels(
      emb.select(col(idCol)), pairs, maxIter)
    emb.join(
      clusters.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way
    * to merge a lexical (BM25) and a dense (cosine) retriever into one
    * hybrid ranking without score calibration: per candidate,
    * `Σ_lists 1/(c + rank)`, absent-from-a-list contributing 0. Ranks
    * are integers and each term is one division, so the fused score is
    * a FIXED expression chain (built in list order, not a data-
    * dependent float accumulation) — any list count hash-gates (q145).
    *
    * Input lists each carry `(qid, id, rank)` with rank 1-based; the
    * output is per-query top-k `(qid, id, rrf, rank)`, `rrf` rounded
    * to 6 before the (rrf desc, id) tie-broken re-rank.
    *
    * Precondition: each list holds a `(qid, id)` at most once, with
    * non-null `qid` and `id` — as every searcher here emits (one row
    * per ranked candidate). The lists are unioned as `(qid, id, list,
    * 1/(c + rank))` and grouped by `(qid, id)`, one `max` column per
    * list picking that list's single contribution (null when absent),
    * so a key repeated within a list would collapse to its best
    * contribution where a join would multiply it. Scale shape: one
    * hash aggregation over the unioned candidate lists — top-k slices,
    * thousands of rows per query at most, never the corpus — then a
    * qid-partitioned window.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.size >= 2, "rrfFuse needs at least two rank lists")
    import org.apache.spark.sql.expressions.Window
    val contribs = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("qid"), col("id"), lit(i).as("_list"),
        (lit(1.0) / (lit(c.toDouble) + col("rank").cast("double")))
          .as("_c"))
    }
    val perList = lists.indices.map(i =>
      max(when(col("_list") === i, col("_c"))).as(s"_c$i"))
    val joined = contribs.reduce(_ union _)
      .groupBy(col("qid"), col("id"))
      .agg(perList.head, perList.tail: _*)
    val score = lists.indices
      .map(i => coalesce(col(s"_c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("id"))
    joined.select(col("qid"), col("id"), round(score, 6).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Fused-ranking recall harness: score the [[rrfFuse]] fusion AND
    * each input leg against ONE ground-truth ranking with
    * [[recallAtK]], one summary row per retriever — the acceptance
    * readout hybrid retrieval exists to produce. Against a ground
    * truth that spans BOTH relevance aspects (lexically relevant AND
    * semantically relevant documents), each single leg can only reach
    * its own aspect while the fusion's top-k mixes both, so the
    * `fused` row's recall should meet or beat every single leg's
    * (SimSearchSpec pins the ordering on an engineered corpus); a
    * ground truth only one leg can see measures that leg, not the
    * fusion.
    *
    * `legs` are (name, ranking) in [[rrfFuse]] shape — (qid, id,
    * rank) with rank 1-based; `exact` is the ground truth in
    * [[recallAtK]] shape — (qid, rank, neighbor) with rank 0-based
    * (as every exact searcher here emits). Output: (retriever,
    * n_queries, mean_recall, min_recall), legs first, `fused` last.
    *
    * Scale shape: everything is rank-list algebra over (queries × k)
    * rows — the corpus-sized work already happened inside the legs.
    */
  def fusedRecallSummary(legs: Seq[(String, DataFrame)],
      exact: DataFrame, k: Int, c: Int = 60): DataFrame = {
    require(legs.map(_._1).distinct.size == legs.size,
      "leg names must be distinct")
    require(!legs.exists(_._1 == "fused"),
      "'fused' names the fusion row")
    val all = legs :+ ("fused" -> rrfFuse(legs.map(_._2), k, c))
    all.map { case (name, l) =>
      val approx = l.select(col("qid"),
        (col("rank") - 1).as("rank"), col("id").as("neighbor"))
      recallSummary(approx, exact, k)
        .select(lit(name).as("retriever"), col("n_queries"),
          col("mean_recall"), col("min_recall"))
    }.reduce(_ unionByName _)
  }

  /** Distributed PCA, sketch tier: top principal direction via (a) a
    * milli-int quantized Gram matrix over the caller's (pre-filtered /
    * sampled) vectors — d² integer sums, order-free, one aggregation
    * pass — and (b) `iters` power-iteration steps computed INSIDE the
    * plan on the single Gram row: integer mat-vec, max-abs
    * renormalization to micro scale each step. The corpus contributes
    * only the d² Gram (distributed, additive); the eigensolve is
    * O(iters·d²) on one row — no driver loop, no collect. Gram is PSD
    * so the iteration is sign-stable; every step is exact-integer or a
    * single mirrored IEEE divide, hence oracle-replayable.
    *
    * Output (d rows): (`pos`, `v_micro`, `lambda_raw`) — the direction
    * in micro units (max-abs component = ±1e6) plus the last
    * renormalization scale (≈ top eigenvalue in milli² units).
    */
  def pcaPowerTop(
      df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 6): DataFrame = {
    val emb = df.select(transform(col(vecCol),
      x => round(x.cast("double") * lit(1000.0)).cast("long")).as("_x"))
    val outer = flatten(transform(col("_x"),
      a => transform(col("_x"), b => a * b)))
    val gram = emb
      .select(posexplode(outer).as(Seq("_pos", "_prod")))
      .groupBy(col("_pos")).agg(sum(col("_prod")).as("_g"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("_pos").as("p"),
            col("_g").as("g")))),
          _.getField("g")).as("_gram"))
    val idx = sequence(lit(0), lit(dim - 1))
    var cur = gram.select(col("_gram"),
      array_repeat(lit(1000000L), dim).as("_v"), lit(0L).as("_wm"))
    for (_ <- 1 to iters) {
      val w = transform(idx, i =>
        aggregate(idx, lit(0L), (acc, j) =>
          acc + element_at(col("_gram"), i * dim + j + 1) *
            element_at(col("_v"), j + 1)))
      cur = cur.select(col("_gram"), w.as("_w"))
        .select(col("_gram"), col("_w"),
          array_max(transform(col("_w"), x => abs(x))).as("_wm"))
        .select(col("_gram"),
          transform(col("_w"), x =>
            when(col("_wm") === 0, lit(0L)).otherwise(
              round((x.cast("double") / col("_wm").cast("double")) *
                lit(1000000.0)).cast("long"))).as("_v"),
          col("_wm"))
        // LAZY persist between steps: without the InMemoryRelation
        // boundary CollapseProject inlines step k's whole expression
        // tree into every reference step k+1 makes — ~65 of them —
        // and the plan grows 65^T nodes. With it, each step is its
        // own (1-row) cached stage.
        .persist()
    }
    cur.select(posexplode(col("_v")).as(Seq("_p", "v_micro")),
      col("_wm").as("lambda_raw"))
      .select(col("_p").cast("int").as("pos"), col("v_micro"),
        col("lambda_raw"))
  }
}
