package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over a `documents`
  * table: exact (content-hash groupBy), MinHash + banded LSH near-dup
  * (bucketed — NEVER all-pairs), SimHash, and exact n-gram Jaccard for
  * candidate verification.
  *
  * Scale shape: exact dedup is one hash aggregation (map-side partial) on a
  * 64-hex key — no wide rows move, only (hash, id, count). LSH banding
  * turns the O(n²) near-dup problem into `bands` hash-joins on bucket ids:
  * each doc appears in `bands` buckets, candidate pairs only form inside a
  * bucket, and the per-bucket fan-out is bounded by real collision rates,
  * not corpus size. At 100 TB the bucket join is the only shuffle and it
  * carries (id, band, bucket) triples, not text.
  */
object Dedup {

  /** Exact dedup via content hash: one surviving (minimal) id per distinct
    * normalized text, with the duplicate count. sha2-256 collision-safe at
    * any corpus size; grouping by the hash, not the text, keeps shuffle
    * rows narrow.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Row-level exact dedup (keeps an arbitrary row per key) — the cheap
    * `dropDuplicates` path when survivor choice does not matter.
    */
  def exactRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Per-band bucket ids from a MinHash signature: the signature is cut
    * into `bands` rows of `rowsPerBand`, each hashed (md5 of the
    * comma-joined row — portable) into a bucket id.
    */
  def bucketArray(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",",
        transform(slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast("string")))))

  /** (id, band, bucket) bucket assignments from a MinHash signature. */
  /** Auto-tune the LSH banding for a target Jaccard threshold — the
    * knob every MinHash deployment has to set and usually guesses: a
    * `(bands, rows)` split of a `sigLen`-hash signature collides a
    * pair of true similarity s with probability `P(s) = 1−(1−s^r)^b`
    * (the S-curve), and the right split puts the curve's rise AT the
    * threshold. Chosen by minimizing the weighted false-positive
    * (∫₀ᵗ P) + false-negative (∫ₜ¹ 1−P) areas over all exact
    * divisions `b·r = n` (the datasketch/LSH-forest criterion), on a
    * fixed deterministic grid so the same inputs always plan the same
    * index. `fnWeight > 0.5` biases toward recall (fewer missed
    * near-dups, more candidates to verify) — usually what dedup wants,
    * since [[nearDupPairs]] verifies candidates against the signature
    * anyway. Driver-side pure arithmetic: use it to parameterize
    * [[lshBuckets]] / [[signIndex]] at index-build time.
    */
  def lshPlan(sigLen: Int, threshold: Double,
      fnWeight: Double = 0.5): (Int, Int) = {
    require(sigLen > 0, s"sigLen must be positive, got $sigLen")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(fnWeight >= 0 && fnWeight <= 1,
      s"fnWeight must be in [0,1], got $fnWeight")
    val grid = 1000
    def err(b: Int, r: Int): Double = {
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < grid) {
        val s = (i + 0.5) / grid
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      ((1.0 - fnWeight) * fp + fnWeight * fn) / grid
    }
    val candidates = for {
      r <- 1 to sigLen
      if sigLen % r == 0
    } yield (sigLen / r, r)
    candidates.minBy { case (b, r) => (err(b, r), r) }
  }

  def lshBuckets(
      df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol),
      posexplode(bucketArray(col(sigCol), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

  /** Candidate near-dup pairs: ids sharing any (band, bucket). Equi-join
    * on the bucket key — the LSH trick that avoids all-pairs.
    */
  def candidatePairs(buckets: DataFrame, idCol: String): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = buckets.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Estimated Jaccard from two equal-length MinHash signatures: the
    * fraction of agreeing positions. The agreement count is the fused
    * [[graft.functions.SigAgreeXX]] kernel (one compiled loop per pair
    * instead of a zip_with + filter allocation) — bit-identical to the
    * HOF formulation, which [[estJaccardHof]] preserves for the
    * equivalence test, on every NON-NULL input. A literal NULL
    * signature array yields NULL from the kernel (null-safe — no
    * signature, no estimate) and, under this engine's ANSI defaults
    * (`size(null) = null`), NULL from the HOF too; only under the
    * legacy `spark.sql.legacy.sizeOfNull` flag would the HOF diverge
    * to 1.0 (`-1 / -1`). The kernel's NULL is the contract either way;
    * no pipeline here produces null signatures ([[TextOps.minhashSig]]
    * is total over non-null text).
    */
  def estJaccard(sigA: Column, sigB: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SigAgreeXX(
      ColumnBridge.expression(sigA), ColumnBridge.expression(sigB)))
      .cast("double") / size(sigA)
  }

  /** HOF formulation of [[estJaccard]] — the reference semantics the
    * kernel is pinned against.
    */
  private[graft] def estJaccardHof(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / size(sigA)

  /** Band-prefixed bucket ids ("<band>:<md5>") — one join/overlap key per
    * band; the prefix makes cross-band collisions unequal by construction.
    */
  def bandedBuckets(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    zip_with(
      sequence(lit(0), lit(bands - 1)),
      bucketArray(sigCol, bands, rowsPerBand),
      (b, h) => concat_ws(":", b, h))

  /** Append `_sig` + `_buckets` to `df` (original columns untouched).
    * Staged withColumns so tokens/shingles materialize once per row.
    */
  private def withSignature(
      df: DataFrame, textCol: String, shingleK: Int, bands: Int,
      rowsPerBand: Int, tokenizer: Column => Column): DataFrame = df
    .withColumn("_toks", tokenizer(col(textCol)))
    .withColumn("_sh", TextOps.shingles(col("_toks"), shingleK))
    .withColumn("_sig", TextOps.minhashSig(col("_sh"), bands * rowsPerBand))
    .withColumn("_buckets", bandedBuckets(col("_sig"), bands, rowsPerBand))
    .drop("_toks", "_sh")

  /** Sign a corpus into the persistable near-dup index shape: ONE row per
    * doc — (idCol, sig array<bigint>, buckets array<string>, band-
    * prefixed). This is the write-once artifact every near-dup consumer
    * joins against; the lake design is write-once-query-many (reference
    * `src/ingest.py:59-87`), and the signature index deserves the same
    * treatment — signing is the expensive step (tokenize + shingle +
    * minhash over the full text), so pay it at ingest, not per query or
    * per micro-batch. LSH parameters must match between writer and every
    * reader.
    */
  def signIndex(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      tokenizer: Column => Column = TextOps.tokens): DataFrame =
    withSignature(df.select(col(idCol), col(textCol)), textCol,
      shingleK, bands, rowsPerBand, tokenizer)
      .select(col(idCol), col("_sig").as("sig"), col("_buckets").as("buckets"))

  // Layout under <path>/ (the shared `_live` marker-generation commit
  // protocol, [[graft.operators.LiveMarker]] — the same discipline the
  // PQ/BM25/ANN index families run on):
  //   _graft_meta/            LSH params, frozen at creation
  //   rows/ or rows_gen=<G>/  the LIVE signed rows (id, sig, buckets)
  //   rows_batches/batch=<B>/ write-once APPEND segments
  //   tombstones/batch=<B>/   write-once deleted-id batches
  //   _live.<gen>             the ruling-state marker
  private val signedMarker = new graft.operators.LiveMarker(
    Seq(("rows", "rows", "rows_gen=")),
    Seq("tombstones", "rows_batches"))

  private def signedFs(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Persist the signed index (the write-once step): the signed rows
    * under `rows/`, the LSH parameters under `_graft_meta/` (so
    * [[appendToSignedIndex]] VALIDATES parameter agreement instead of
    * trusting the "must match" doc contract — a silent (k, b, r)
    * mismatch poisons every band bucket it touches). Clears the
    * ENTIRE `path` tree first, so a rebuild can never inherit stale
    * lifecycle state, and commits creation as snapshot gen 1 (one
    * marker PUT; `appliedId` records a stream bootstrap's batch id
    * atomically with the data).
    */
  def writeSignedIndex(
      df: DataFrame, path: String, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      tokenizer: Column => Column = TextOps.tokens,
      appliedId: Long = -1L, retain: Int = 1): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val fs = signedFs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(
        s"signed index rebuild failed to clear $path")
    // intent file: a crash mid-create reads as "bootstrap in
    // progress" to assertSignedStreamBootstrapSafe, not legacy
    signedMarker.markBootstrap(fs, path)
    graft.operators.WriteLayout.sized(
      signIndex(df, textCol, idCol, shingleK, bands, rowsPerBand,
        tokenizer))
      .write.parquet(s"$path/rows")
    Seq((shingleK, bands, rowsPerBand, idCol))
      .toDF("shingle_k", "bands", "rows_per_band", "id_col")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_graft_meta")
    signedMarker.put(fs, path, graft.operators.LiveState(1L,
      Map("rows" -> "rows"), Seq.empty, Seq.empty, appliedId), retain)
    signedMarker.clearBootstrap(fs, path)
  }

  /** Guard a STREAM's bootstrap decision ([[graft.streaming
    * .StreamingDedup]]): throws instead of letting the stream
    * re-bootstrap over an index tree this protocol never committed
    * (e.g. the pre-marker layout with rows at the path root) — see
    * [[graft.operators.LiveMarker.assertBootstrapSafe]].
    */
  def assertSignedStreamBootstrapSafe(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    signedMarker.assertBootstrapSafe(signedFs(spark, path), path,
      "signed")

  /** Append NEWLY-SIGNED documents to a persisted index (the
    * incremental-crawl step: sign the new batch only, never re-sign
    * the corpus). Parameters are validated against the persisted
    * meta — a mismatch throws before any write. MARKER-COMMITTED:
    * the batch lands as a write-once `rows_batches/batch=<B>` segment
    * referenced by ONE `_live` marker PUT (which also records
    * `appliedId` for exactly-once streaming replay) — a crash before
    * the PUT leaves the segment unreferenced and a retry lands once.
    * Caller contract: ids must be new (dedupe the batch against the
    * index FIRST — [[dedupNearAgainstIndexBatch]] is that step).
    */
  def appendToSignedIndex(
      df: DataFrame, path: String, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      tokenizer: Column => Column = TextOps.tokens,
      retain: Int = 1, appliedId: Long = -1L): Unit = {
    val spark = df.sparkSession
    val m = spark.read.parquet(s"$path/_graft_meta").head()
    require(m.getAs[Int]("shingle_k") == shingleK &&
      m.getAs[Int]("bands") == bands &&
      m.getAs[Int]("rows_per_band") == rowsPerBand &&
      m.getAs[String]("id_col") == idCol,
      s"signed-index parameter mismatch: index has (k=${m.get(0)}, " +
        s"b=${m.get(1)}, r=${m.get(2)}, id=${m.get(3)}), append got " +
        s"(k=$shingleK, b=$bands, r=$rowsPerBand, id=$idCol)")
    val fs = signedFs(spark, path)
    signedMarker.heal(fs, path, retain) // clear crashed-writer orphans
    val live = signedMarker.read(fs, path)
    val b = live.gen + 1L
    val seg = signIndex(df, textCol, idCol, shingleK, bands,
      rowsPerBand, tokenizer).persist()
    if (seg.isEmpty) {
      // the Bm25 empty-batch guard: a batch whose docs all dropped
      // upstream (dedupe, null text) signs to zero rows — a zero-row
      // batch dir would brick later reads. Commit only the applied
      // fact so exactly-once still holds.
      seg.unpersist()
      if (appliedId > live.applied)
        signedMarker.put(fs, path,
          live.copy(gen = b, applied = appliedId), retain)
    } else {
      graft.operators.WriteLayout.sized(seg)
        .write.mode("errorifexists")
        .parquet(s"$path/rows_batches/batch=$b")
      seg.unpersist()
      signedMarker.put(fs, path, live.copy(gen = b,
        appends = live.appends :+ b,
        applied = math.max(live.applied, appliedId)), retain)
    }
    signedMarker.heal(fs, path, retain)
  }

  /** Delete documents from a persisted signed index: the ids land as
    * a write-once `tombstones/batch=<B>` dir committed by the next
    * `_live` marker PUT and honored by [[readSignedIndex]], so every
    * index consumer stops pairing against the removed docs — the
    * takedown path. Nothing is rewritten; [[compactSignedIndex]]
    * reclaims space.
    */
  def deleteFromSignedIndex(ids: DataFrame, path: String,
      idCol: String, retain: Int = 1): Unit = {
    val spark = ids.sparkSession
    val fs = signedFs(spark, path)
    signedMarker.heal(fs, path, retain)
    val live = signedMarker.read(fs, path)
    val b = live.gen + 1L
    ids.select(col(idCol)).distinct().write.mode("errorifexists")
      .parquet(s"$path/tombstones/batch=$b")
    signedMarker.put(fs, path,
      live.copy(gen = b, batches = live.batches :+ b), retain)
    signedMarker.heal(fs, path, retain) // GC outside the window
  }

  /** [[graft.text.Bm25.compactBm25IndexIfNeeded]]'s policy for the
    * signed index: compact when outstanding append + tombstone
    * batches exceed `maxSegments`. Returns true when one ran.
    */
  def compactSignedIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxSegments: Int, retain: Int = 1): Boolean = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val live = signedMarker.read(signedFs(spark, path), path)
    if (live.batches.size + live.appends.size > maxSegments) {
      compactSignedIndex(spark, path, retain); true
    } else false
  }

  /** Read a persisted signed index — (id, sig, buckets) rows ready for
    * [[nearDupPairsFromIndex]], [[dedupNearFromIndex]],
    * [[dedupNearAgainstIndex]] and [[dedupNearAgainstIndexBatch]]:
    * the marker-resolved live generation plus its append segments,
    * minus the tombstone batches — deletions reach every consumer
    * through this one read path.
    */
  def readSignedIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readSignedState(spark, path,
      signedMarker.read(signedFs(spark, path), path))

  /** SNAPSHOT read: the index exactly as committed by marker `gen`
    * ([[signedGenerations]] lists what is still inside the retention
    * window; lifecycle ops take `retain`).
    */
  def readSignedIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long): DataFrame =
    readSignedState(spark, path,
      signedMarker.readAt(signedFs(spark, path), path, gen))

  /** The committed snapshot generations still readable, oldest
    * first.
    */
  def signedGenerations(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    signedMarker.listGenerations(signedFs(spark, path), path)

  /** The highest stream batch id committed into this index's marker
    * chain (-1 = none) — [[graft.streaming.StreamingDedup]]'s
    * exactly-once replay guard for the index side.
    */
  def lastAppliedStreamBatch(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    signedMarker.read(signedFs(spark, path), path).applied

  private def readSignedState(spark: org.apache.spark.sql.SparkSession,
      path: String, live: graft.operators.LiveState): DataFrame = {
    val rows = live.appends
      .foldLeft(spark.read.parquet(s"$path/${live.dir("rows")}")) {
        (acc, b) =>
          acc.unionByName(
            spark.read.parquet(s"$path/rows_batches/batch=$b"))
      }
    if (live.batches.isEmpty) rows
    else {
      val idCol = spark.read.parquet(s"$path/_graft_meta")
        .head().getAs[String]("id_col")
      rows.join(
        broadcast(spark.read.parquet(
          live.batches.map(b => s"$path/tombstones/batch=$b"): _*)
          .select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    }
  }

  /** Generation compaction: rewrite the live rows (generation plus
    * append segments) MINUS the accumulated tombstones into a fresh
    * write-once `rows_gen=<G>` dir and commit it (with empty batch
    * lists) via one marker PUT — NO renames, so it is safe on any
    * PUT-consistent object store, and readers inside the retention
    * window survive concurrent compaction (the shared
    * [[graft.operators.LiveMarker]] contract the PQ/BM25/ANN
    * families run on; this replaced the original rename-swap flavor,
    * closing its rename-atomic store requirement). Also collapses
    * accumulated append small files.
    */
  def compactSignedIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retain: Int = 1): Unit = {
    val fs = signedFs(spark, path)
    signedMarker.heal(fs, path, retain)
    val live = signedMarker.read(fs, path)
    val gen = live.gen + 1L
    graft.operators.WriteLayout.sized(readSignedState(spark, path,
      live))
      .write.mode("errorifexists").parquet(s"$path/rows_gen=$gen")
    signedMarker.put(fs, path, graft.operators.LiveState(gen,
      Map("rows" -> s"rows_gen=$gen"),
      Seq.empty, Seq.empty, live.applied, live.retain), retain)
    signedMarker.heal(fs, path, retain) // GC outside the window
  }

  /** Exact Jaccard over two token/shingle arrays (for verifying LSH
    * candidates — run only on the candidate pairs, never all-pairs).
    * Two empty sets score 0.0 (total function — no divide-by-zero under
    * ANSI mode; empty docs collide in every LSH band, so the pair DOES
    * occur in practice).
    */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.JaccardXX(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** HOF formulation of [[jaccard]] (four array allocations per pair) —
    * the reference semantics the fused kernel is pinned against.
    */
  private[graft] def jaccardHof(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    size(array_intersect(da, db)).cast("double") /
      greatest(size(array_union(da, db)), lit(1))
  }

  /** Asymmetric shingle containment `C(A⊂B) = |A∩B| / |A|` over
    * DISTINCT shingle sets (Broder, "On the resemblance and
    * containment of documents", 1997 — the companion statistic to
    * resemblance/Jaccard): a short document quoted wholesale inside a
    * long one scores near-zero Jaccard (the union is dominated by the
    * long side) but containment ≈ 1 from the short side — the
    * quote-inclusion / boilerplate-embedding detector a symmetric
    * near-dup pass misses. Empty-set guard mirrors [[jaccardHof]].
    */
  def containment(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    size(array_intersect(da, db)).cast("double") /
      greatest(size(da), lit(1)).cast("double")
  }

  /** Exact dedup on the NORMALIZED text — [[exact]] keyed by
    * [[TextOps.normalizeText]] (lowercase, punctuation → space,
    * whitespace collapse) so trivially-mutated copies of the same
    * content collapse to one survivor: the CCNet-style first dedup
    * pass a crawl corpus runs before the MinHash machinery. Same scale
    * shape as [[exact]] — the shuffle carries (64-hex key, id, count),
    * normalization happens in the scan stage.
    */
  def exactNormalized(
      df: DataFrame, textCol: String, idCol: String,
      normalizer: Column => Column = TextOps.normalizeText): DataFrame =
    df.groupBy(sha2(normalizer(col(textCol)), 256).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** One-call normalized dedup: keep the minimal-id ROW per distinct
    * normalized text (the apply flavor of [[exactNormalized]]).
    */
  def dedupExactNormalized(
      df: DataFrame, textCol: String, idCol: String,
      normalizer: Column => Column = TextOps.normalizeText): DataFrame =
    df.join(
      exactNormalized(df, textCol, idCol, normalizer).select(idCol),
      Seq(idCol), "left_semi")

  /** One-call exact dedup: keep the minimal-id row per distinct text.
    * The survivor set (hash → min id) is an aggregation on narrow rows;
    * the keep-join is a broadcast semi-join when the survivor set fits,
    * a shuffled semi-join otherwise (left to AQE).
    */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(
      exact(df, textCol, idCol).select(idCol),
      Seq(idCol), "left_semi")

  /** One-call near-dedup: MinHash-LSH pairs → connected components →
    * keep one (minimal-id) survivor per cluster. Returns the surviving
    * rows of `df` unchanged. Composes [[nearDupPairs]] +
    * [[clusterLabels]]; see those for the scale shapes.
    */
  def dedupNear(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens,
      maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, shingleK, bands,
      rowsPerBand, threshold, tokenizer)
    val clusters = clusterLabels(df.select(col(idCol)), pairs, maxIter)
    df.join(
      clusters.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Streaming near-dedup of incoming documents AGAINST A SIGNED INDEX
    * (the incremental-corpus-extension shape: new crawl drops arrive as
    * a stream, the existing lake's [[writeSignedIndex]] artifact is the
    * reference). Each micro-batch signs ITS OWN docs only and LEFT-ANTI
    * joins the broadcast index on "any shared bucket AND est-Jaccard ≥
    * threshold". Stream-left anti joins against a static right are
    * fully supported and STATELESS — no state store, no watermark.
    * Returns the kept stream rows unchanged.
    *
    * Scale shape: the match is a broadcast nested-loop per micro-batch
    * (the bucket-overlap condition is non-equi), so the index must fit
    * in a broadcast — signatures + buckets are ~300 bytes/doc, millions
    * of reference docs per executor-GB. Stream-static joins re-execute
    * the static side every micro-batch, but a [[readSignedIndex]] side
    * is just a parquet scan of (id, sig, buckets) — no re-shingle, no
    * re-sign. For an index too large to broadcast, run
    * [[dedupNearAgainstIndexBatch]] (pure equi-join) inside
    * `foreachBatch` instead; stream-vs-stream duplicates are likewise a
    * `foreachBatch` problem.
    */
  def dedupNearAgainstIndex(
      stream: DataFrame, index: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    val refDocs = index.select(
      col("sig").as("_ref_sig"), col("buckets").as("_ref_buckets"))
    val cond =
      arrays_overlap(col("_buckets"), col("_ref_buckets")) &&
        estJaccard(col("_sig"), col("_ref_sig")) >= threshold
    withSignature(stream, textCol, shingleK, bands, rowsPerBand, tokenizer)
      .join(broadcast(refDocs), cond, "left_anti")
      .drop("_sig", "_buckets")
  }

  /** [[dedupNearAgainstIndex]] with the reference signed inline — the
    * convenience path when no persisted index exists yet. Every
    * micro-batch re-signs the whole reference corpus; for anything
    * bigger than a toy reference, [[writeSignedIndex]] once and pass
    * [[readSignedIndex]] to [[dedupNearAgainstIndex]] instead.
    */
  def dedupNearAgainstStream(
      stream: DataFrame, reference: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens): DataFrame =
    dedupNearAgainstIndex(stream,
      signIndex(reference, textCol, idCol, shingleK, bands, rowsPerBand,
        tokenizer),
      textCol, idCol, shingleK, bands, rowsPerBand, threshold, tokenizer)

  /** Lake-scale batch near-dedup against a signed index: candidates form
    * via an EQUI-join on the exploded bucket id — never a broadcast,
    * never a nested loop — then the signature estimate verifies. Works
    * on any index size (both sides shuffle only (id, sig, bucket)
    * triples); this is the `foreachBatch` body for streams whose
    * reference index outgrows [[dedupNearAgainstIndex]]'s broadcast.
    * Returns the kept batch rows unchanged.
    */
  def dedupNearAgainstIndexBatch(
      batch: DataFrame, index: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    // batch side signs inline → explode-over-expression (explodedSigned
    // scaladoc); index side is persisted → attribute explode is cheap
    val bx = explodedSigned(batch, textCol, idCol, shingleK, bands,
      rowsPerBand, tokenizer)
    val ix = index.select(
      col("sig").as("_ref_sig"), explode(col("buckets")).as("_bkt"))
    val dupIds = bx.join(ix, Seq("_bkt"))
      .filter(estJaccard(col("sig"), col("_ref_sig")) >= threshold)
      .select(col(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Corpus-level LINE dedup — the C4/MassiveText boilerplate filter:
    * a line (delimiter-separated span) occurring in more than `maxDocs`
    * DISTINCT documents is boilerplate (headers, footers, nav chrome,
    * cookie banners) and EVERY occurrence is dropped; each document's
    * surviving lines reassemble in original order. Lines shorter than
    * `minChars` are exempt — never counted, never dropped — so tiny
    * connective spans (empty lines, "Home") cannot nuke the corpus.
    * `delimiter` is a LITERAL (regex-quoted for the split, re-used
    * verbatim for the reassembly join): "\n" for line dedup, "\n\n"
    * for paragraph dedup.
    *
    * Output: one row per input doc — (idCol, n_lines, n_kept,
    * clean_text). A null text stays null (0/0); a doc whose every line
    * was boilerplate keeps an EMPTY clean_text (distinguishable from
    * null). split/join round-trip exactly, so a doc with nothing
    * dropped reproduces its text byte-for-byte.
    *
    * Scale shape: the boilerplate-line detection shuffles (id, 64-hex
    * line hash) pairs only — deduped per doc first, then one count per
    * hash; the surviving hot set (distinct boilerplate lines — tiny
    * next to the corpus) joins back WITHOUT a hint so AQE broadcasts
    * it while it fits. Reassembly is one groupBy(id) whose collect
    * state is bounded by a single document's lines. The corpus text
    * shuffles exactly once (keyed by id, for the rebuild).
    */
  def dedupLines(
      df: DataFrame, textCol: String, idCol: String,
      delimiter: String = "\n", maxDocs: Long = 1,
      minChars: Int = 1): DataFrame =
    dedupLinesAgainst(df,
      hotLines(df, textCol, idCol, delimiter, maxDocs, minChars),
      textCol, idCol, delimiter)

  /** The boilerplate-line table [[dedupLines]] counts inline: one row
    * per hot line — (line_hash, n_docs). Computing it is a full corpus
    * pass (the counting half of the two passes exact line dedup
    * inherently needs), so at lake scale persist it once and rewrite
    * any number of drops with [[dedupLinesAgainst]] — the same
    * write-once-query-many treatment as the signed near-dup index. The
    * table is tiny (distinct boilerplate lines), and keyed by hash so
    * no boilerplate TEXT needs storing.
    */
  def hotLines(
      df: DataFrame, textCol: String, idCol: String,
      delimiter: String = "\n", maxDocs: Long = 1,
      minChars: Int = 1): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    explodedLines(df, textCol, idCol, delimiter)
      .filter(length(col("_ln")) >= minChars)
      .select(col(idCol), col("_h")).distinct()
      .groupBy(col("_h").as("line_hash")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
  }

  /** (id, pos, line, hash) rows of a corpus split on the LITERAL
    * delimiter (regex-quoted).
    */
  private def explodedLines(
      df: DataFrame, textCol: String, idCol: String,
      delimiter: String, carry: Seq[String] = Nil): DataFrame = {
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val pat = java.util.regex.Pattern.quote(delimiter)
    df.select(col(idCol) +: carry.map(col) :+
        posexplode(split(col(textCol), pat)).as(Seq("_pos", "_ln")): _*)
      .withColumn("_h", sha2(col("_ln"), 256))
  }

  /** Domain-scoped boilerplate removal (the CCNet refinement of
    * [[dedupLines]]): a line is boilerplate only WITHIN its own group —
    * hot = occurring in more than `maxDocs` distinct documents of the
    * SAME `groupCol` value (site, domain, source). Corpus-global line
    * dedup over-fires on cross-site convention ("About us", license
    * headers legitimately quoted once elsewhere) and under-fires on
    * per-site chrome too rare globally; scoping the count to the
    * document's own origin is how production web-corpus cleaners
    * (CCNet's per-shard paragraph hashing) define boilerplate. Output
    * shape matches [[dedupLines]] (id, n_lines, n_kept, clean_text).
    *
    * Scale shape: identical to [[dedupLines]] — one explode, one
    * distinct + count keyed by (group, line_hash) instead of line_hash,
    * one equi-join back on the composite key. Grouping tightens the
    * hot-set key, so the hot table only grows more selective; lines
    * never leave their group's partitions.
    */
  def dedupLinesPerGroup(
      df: DataFrame, textCol: String, idCol: String, groupCol: String,
      delimiter: String = "\n", maxDocs: Long = 1,
      minChars: Int = 1): DataFrame =
    dedupLinesAgainstPerGroup(df,
      hotLinesPerGroup(df, textCol, idCol, groupCol, delimiter, maxDocs,
        minChars),
      textCol, idCol, groupCol, delimiter)

  /** The per-group boilerplate table: one row per (group, hot line) —
    * `(groupCol, line_hash, n_docs)`. Persistable, like [[hotLines]].
    */
  def hotLinesPerGroup(
      df: DataFrame, textCol: String, idCol: String, groupCol: String,
      delimiter: String = "\n", maxDocs: Long = 1,
      minChars: Int = 1): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    explodedLines(df, textCol, idCol, delimiter, Seq(groupCol))
      .filter(length(col("_ln")) >= minChars)
      .select(col(groupCol), col(idCol), col("_h")).distinct()
      .groupBy(col(groupCol), col("_h").as("line_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
  }

  /** Apply half of [[dedupLinesPerGroup]]: rewrite against a persisted
    * per-group hot-line table, joining on (group, line hash).
    */
  def dedupLinesAgainstPerGroup(
      df: DataFrame, hot: DataFrame, textCol: String, idCol: String,
      groupCol: String, delimiter: String = "\n"): DataFrame = {
    val lines = explodedLines(df, textCol, idCol, delimiter, Seq(groupCol))
    val hotKeys = hot.select(col(groupCol), col("line_hash").as("_h"),
      lit(true).as("_hot"))
    val rebuilt = lines.join(hotKeys, Seq(groupCol, "_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("_hot").isNull, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_hot").isNull,
              struct(col("_pos").as("p"), col("_ln").as("l"))))),
            s => s.getField("l")),
          delimiter).as("clean_text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_text"))
  }

  /** Rewrite a corpus against an existing hot-line table
    * ([[hotLines]]'s output, possibly persisted) — drop every line
    * whose hash is hot, reassemble in order. The apply half of line
    * dedup: new drops rewrite against the corpus-wide counts without
    * recounting. `minChars` does not reappear here — exemption was
    * applied when the hot set was BUILT (a short line's hash is never
    * in the table).
    */
  def dedupLinesAgainst(
      df: DataFrame, hot: DataFrame, textCol: String, idCol: String,
      delimiter: String = "\n"): DataFrame = {
    val lines = explodedLines(df, textCol, idCol, delimiter)
    val hotKeys = hot.select(col("line_hash").as("_h"),
      lit(true).as("_hot"))
    val rebuilt = lines.join(hotKeys, Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("_hot").isNull, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_hot").isNull,
              struct(col("_pos").as("p"), col("_ln").as("l"))))),
            s => s.getField("l")),
          delimiter).as("clean_text"))
    // docs whose text is null explode to zero line rows — restore them
    // (0 lines, null text) instead of dropping the document
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_text"))
  }

  /** Benchmark decontamination (the GPT-3-style filter): drop every
    * training doc that shares ANY word k-gram with the evaluation
    * corpus. Returns the kept training rows unchanged.
    *
    * Scale shape: benchmarks are tiny next to training corpora, so the
    * distinct eval k-gram set usually broadcasts and contamination
    * detection is a map-side hash probe of exploded training grams. The
    * joins carry no hints: AQE picks broadcast when the eval-gram /
    * contaminated-id sets fit and degrades to a shuffled join when a
    * large eval corpus would otherwise blow the broadcast limit —
    * a hard-coded hint would turn that case into a job failure.
    */
  def decontaminate(
      train: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      k: Int = 13,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    val evalGrams = kgrams(evalSet, Nil, textCol, k, tokenizer).distinct()
    val contaminated = kgrams(train, Seq(col(idCol)), textCol, k, tokenizer)
      .join(evalGrams, "gram")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Exploded word k-grams of `textCol` as a `gram` column, keeping
    * `keep`. Staged projections — tokens materialize once per row.
    */
  private def kgrams(
      df: DataFrame, keep: Seq[Column], textCol: String, k: Int,
      tokenizer: Column => Column): DataFrame = df
    .select(keep :+ tokenizer(col(textCol)).as("_t"): _*)
    .select(keep :+ explode(TextOps.shingles(col("_t"), k)).as("gram"): _*)

  /** [[decontaminate]] with a broadcast Bloom prefilter — the 100 TB
    * shape: the exact path shuffles every distinct training gram into
    * the contamination join, which at corpus scale means shuffling
    * ~the whole corpus tokenized. Here the eval grams build a Bloom
    * filter once (a distributed fold on the SMALL side), the filter
    * rides into a scan-stage probe expression, and only grams that
    * MIGHT be contaminated — true hits plus an `fpp` sliver — reach
    * the exact verification join. Bloom filters have no false
    * negatives and the exact join kills the false positives, so the
    * result is row-identical to [[decontaminate]] at any fpp; fpp only
    * trades filter size (~10 bits/gram at 1%) against surviving-gram
    * volume.
    */
  def decontaminateBloom(
      train: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      k: Int = 13, fpp: Double = 0.01,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    // checkpoint: the eval gram set feeds three consumers (count, bloom
    // build, verify join) — without it each would re-tokenize the eval set
    val evalGrams = kgrams(evalSet, Nil, textCol, k, tokenizer)
      .distinct().localCheckpoint()
    val bloomBytes = graft.functions.BloomXX.build(evalGrams, "gram", fpp)
    val contaminated = kgrams(train, Seq(col(idCol)), textCol, k, tokenizer)
      .filter(graft.functions.BloomXX.mightContain(col("gram"), bloomBytes))
      .join(evalGrams, "gram")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** STREAMING decontamination — stateless and join-free: the eval
    * grams build a Bloom filter once at plan time, and each incoming
    * doc is kept iff NONE of its k-grams probe positive. Pure per-row
    * projection + filter, so it runs on an unbounded stream with no
    * state store, no watermark, and no join — the shape that survives
    * any micro-batch rate.
    *
    * Semantics are CONSERVATIVE: Bloom false positives can drop a
    * clean doc (rate ≤ `fpp` per gram) but a contaminated doc is NEVER
    * kept — the safe direction for training data. For exact batch
    * semantics use [[decontaminate]]/[[decontaminateBloom]].
    */
  def decontaminateStreamBloom(
      stream: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      k: Int = 13, fpp: Double = 0.001,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    // checkpoint: BloomXX.build runs two jobs (count + fold) over the
    // eval grams — same multi-consumer cut as decontaminateBloom
    val evalGrams = kgrams(evalSet, Nil, textCol, k, tokenizer)
      .distinct().localCheckpoint()
    val bloomBytes = graft.functions.BloomXX.build(evalGrams, "gram", fpp)
    // null text → null grams → null exists; coalesce keeps the doc,
    // matching the batch paths (a doc with no grams cannot match)
    stream.filter(coalesce(
      !exists(
        TextOps.shingles(tokenizer(col(textCol)), k),
        g => graft.functions.BloomXX.mightContain(g, bloomBytes)),
      lit(true)))
  }

  /** Per-eval-doc contamination REPORT — the observability twin of
    * [[decontaminate]]: for every eval doc, how many distinct training
    * docs share at least one word k-gram with it and how many of its
    * distinct k-grams are shared. Zero rows are kept (a clean benchmark
    * item reports 0/0) so the output always has one row per eval doc.
    *
    * Scale shape: one equi-join on the gram (training grams deduped per
    * doc first — narrow (id, gram) rows), one count-distinct
    * aggregation keyed by the eval doc (benchmark-sized), and a left
    * join back onto the (small) eval side. The training corpus never
    * shuffles text.
    */
  def contaminationReport(
      train: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      k: Int = 13,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    val eg = kgrams(evalSet.select(col(idCol).as("_eval_id"), col(textCol)),
      Seq(col("_eval_id")), textCol, k, tokenizer).distinct()
    val tg = kgrams(train.select(col(idCol).as("_train_id"), col(textCol)),
      Seq(col("_train_id")), textCol, k, tokenizer).distinct()
    val hits = eg.join(tg, "gram")
      .groupBy(col("_eval_id"))
      .agg(
        countDistinct(col("_train_id")).as("n_train_docs"),
        countDistinct(col("gram")).as("n_shared_grams"))
    evalSet.select(col(idCol))
      .join(hits.withColumnRenamed("_eval_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Near-dup CLUSTERS from pairwise matches: connected components via
    * min-label propagation WITH pointer jumping. Each round every node
    * adopts the minimum of (its label, its neighbors' labels), then
    * additionally the label OF that label — path lengths halve per
    * round, so convergence is O(log diameter) and `maxIter` rounds
    * (including the final confirming quiet round) cover diameters to
    * ~2^(maxIter-1). Non-convergence within `maxIter` fails loudly —
    * silently returning split clusters would make dedup keep extra
    * "survivors".
    *
    * Scale shape: each round is one edge equi-join + one
    * min-aggregation + one (id-keyed, label-sized) jump join — all
    * shuffling ids only; `localCheckpoint` truncates lineage so round
    * N's plan does not replay rounds 1..N-1. Near-dup graphs are
    * near-cliques (diameter 2-4), where the jump join buys little — it
    * is insurance against pathological long chains, which would
    * otherwise need diameter rounds and then fail the convergence check.
    *
    * Output: (id, cluster) for every id in `ids` — singletons keep their
    * own id as the cluster label; the label is the minimal member id.
    */
  def clusterLabels(
      ids: DataFrame, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    // materialize the edge list once — every propagation round joins it,
    // and without the checkpoint each round would replay the (expensive)
    // pair-generation pipeline feeding `pairs`
    val edges = pairs
      .select(col("id_a").as("s"), col("id_b").as("t"))
      .union(pairs.select(col("id_b").as("s"), col("id_a").as("t")))
      .distinct()
      .localCheckpoint()
    // identity labels need no checkpoint: their lineage is one scan, and
    // round 1's own checkpoint truncates it — one fewer job up front
    var labels = ids
      .select(col(ids.columns.head).as("id"),
        col(ids.columns.head).as("cluster"))
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("t"), col("cluster").as("nc")), "t")
        .groupBy(col("s").as("id"))
        .agg(min("nc").as("nmin"))
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("_prev"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("_c1"))
      // pointer jump: also adopt the label OF our label. Every _c1 is a
      // node id present in labels and cluster(x) <= x is invariant, so
      // _jc resolves and is <= _c1; the coalesce is belt-and-braces for
      // the (impossible) miss. Round 1 skips the jump outright: over
      // identity labels, label-of-label is the label itself. The changed
      // flag rides along in the SAME pass, so convergence detection is a
      // limit-1 probe of the checkpointed round.
      val jumped =
        if (i == 0) stepped.withColumn("_next", col("_c1"))
        else stepped
          .join(labels.select(col("id").as("_c1"), col("cluster").as("_jc")),
            Seq("_c1"), "left")
          .withColumn("_next", coalesce(col("_jc"), col("_c1")))
      val next = jumped
        .select(col("id"), col("_next").as("cluster"),
          (col("_next") < col("_prev")).as("_chg"))
        .localCheckpoint()
      converged = next.filter(col("_chg")).isEmpty
      labels = next.drop("_chg")
      i += 1
    }
    // silent non-convergence would return multiple labels per component
    // (dedup would keep extra "survivors") — fail loudly instead
    require(converged,
      s"clusterLabels did not converge within $maxIter rounds")
    labels
  }

  /** End-to-end MinHash-LSH near-dup pairs over a text column: shingle →
    * sign → band → bucket-join → signature-verify at `threshold`.
    * `numHashes = bands * rowsPerBand`. `tokenizer` defaults to the
    * production whitespace split; gate queries pass
    * [[TextOps.tokensSimple]] so a SQL oracle can replay the split.
    */
  def nearDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens): DataFrame =
    pairsFromBucketed(
      explodedSigned(df, textCol, idCol, shingleK, bands, rowsPerBand,
        tokenizer),
      idCol, threshold)

  /** Sign inline and explode to (id, sig, _bkt) bucket rows. The explode
    * child MUST stay an expression, not a projected attribute: Catalyst
    * infers `size(child) > 0` from explode-over-attribute and predicate
    * pushdown then substitutes the WHOLE signing pipeline into a
    * scan-side Filter — the corpus gets fully re-signed a second time,
    * single-threaded before any spread repartition (measured 20× on
    * q16). Explode-over-expression is exempt from that inference.
    */
  private def explodedSigned(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int,
      tokenizer: Column => Column): DataFrame = {
    // staged projections so tokens/shingles materialize once per row —
    // nesting them into one expression would re-split the text inside
    // the shingle lambda for every element
    val signed = df
      .select(col(idCol), tokenizer(col(textCol)).as("_toks"))
      .select(col(idCol), TextOps.shingles(col("_toks"), shingleK).as("_sh"))
      .select(col(idCol),
        TextOps.minhashSig(col("_sh"), bands * rowsPerBand).as("sig"))
    // carry the signature through the bucket self-join: the signature
    // pipeline computes ONCE (joining signatures back onto the candidate
    // pairs would re-run shingle+minhash twice more); the sig rides the
    // bucket shuffle at `bands` copies per doc — a few hundred bytes
    // against two whole extra corpus-scan subtrees
    signed.select(col(idCol), col("sig"),
      explode(bandedBuckets(col("sig"), bands, rowsPerBand)).as("_bkt"))
  }

  /** Near-dup pairs BETWEEN two corpora — the fuzzy TEXT JOIN: a left
    * and a right doc pair up when they share any LSH bucket and the
    * signature estimate clears `threshold`. The cross-corpus twin of
    * [[nearDupPairs]], for aligning a new drop against a reference
    * corpus or matching noisy records across sources. Both sides sign
    * inline with the SAME LSH parameters (bucket keys must agree);
    * output is (id_a ∈ dfA, id_b ∈ dfB, est_jaccard) — ids may repeat
    * across inputs and no id ordering is applied. Scale shape is the
    * self-join's: candidates form via the band:bucket equi-join, only
    * ids + signatures shuffle.
    */
  def nearDupPairsBetween(
      dfA: DataFrame, dfB: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    val ax = explodedSigned(dfA, textCol, idCol, shingleK, bands,
      rowsPerBand, tokenizer)
      .select(col("_bkt"), col(idCol).as("id_a"), col("sig").as("sig_a"))
    val bx = explodedSigned(dfB, textCol, idCol, shingleK, bands,
      rowsPerBand, tokenizer)
      .select(col("_bkt"), col(idCol).as("id_b"), col("sig").as("sig_b"))
    ax.join(bx, Seq("_bkt"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct() // collapse multi-band collisions (sigs id-determined)
      .withColumn("est_jaccard",
        round(estJaccard(col("sig_a"), col("sig_b")), 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Bucket self-join tail shared by the inline and persisted-index pair
    * generators: candidates form inside a bucket, then the signature
    * estimate verifies.
    */
  private def pairsFromBucketed(
      bucketed: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val a = bucketed.select(col("_bkt"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = bucketed.select(col("_bkt"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("_bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct() // collapse multi-band collisions (sigs are id-determined)
      .withColumn("est_jaccard", round(estJaccard(col("sig_a"), col("sig_b")), 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Near-dup pairs from a PERSISTED signed index — [[nearDupPairs]]
    * minus the signing cost: exploding (id, sig, buckets) parquet rows
    * into the bucket self-join is all that remains. The band-prefixed
    * bucket string is the single join key (prefix = the band equality);
    * here `buckets` is a scan attribute, so the explode-inferred
    * `size(buckets) > 0` filter is a cheap array-length probe at the
    * scan — beneficial, unlike the inline case (see [[explodedSigned]]).
    */
  def nearDupPairsFromIndex(
      index: DataFrame, idCol: String, threshold: Double): DataFrame =
    pairsFromBucketed(
      index.select(col(idCol), col("sig"), explode(col("buckets")).as("_bkt")),
      idCol, threshold)

  /** [[dedupNear]] from a (persisted) signed index: pairs → connected
    * components → keep the minimal-id survivor per cluster. Signing —
    * the expensive full-text pass — happened once at
    * [[writeSignedIndex]] time; this run shuffles ids and signatures
    * only.
    */
  def dedupNearFromIndex(
      df: DataFrame, index: DataFrame, idCol: String,
      threshold: Double = 0.5, maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairsFromIndex(index, idCol, threshold)
    val clusters = clusterLabels(df.select(col(idCol)), pairs, maxIter)
    df.join(
      clusters.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Cluster-size histogram over [[clusterLabels]] output — the dedup
    * observability report: for each cluster size s, how many clusters
    * have exactly s members (size 1 = unique docs; the size-weighted
    * tail is the duplication mass a dedup run will remove). Two narrow
    * hash aggregations over (id, cluster) pairs — nothing else moves.
    */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Corpus-composition observability: the pairwise estimated Jaccard
    * similarity BETWEEN GROUPS (sources, crawls, snapshots) of a
    * corpus. One MinHash signature per group — the element-wise MIN
    * over member documents' signatures, which by the min-of-mins
    * identity IS the signature of the union of their shingle sets — so
    * lane-agreement between two group signatures estimates
    * `J(∪shingles_a, ∪shingles_b)` exactly as doc-level MinHash does.
    * The overlap-matrix answer to "how much does crawl B re-crawl A /
    * which sources are mirrors" BEFORE paying for cross-corpus pair
    * generation ([[nearDupPairsBetween]]).
    *
    * Scale shape: per-doc signing is the [[nearDupPairs]] scan; the
    * group fold is a (group, lane) hash aggregation with map-side
    * partials — G·numHashes rows out of a 100 TB corpus. The pairwise
    * join is G² over GROUP signatures (G = sources, never documents).
    * Documents with fewer than `shingleK` tokens sign as all-P lanes —
    * the min identity's neutral element, so they never distort a
    * group's signature.
    */
  def groupSimilarity(
      df: DataFrame, textCol: String, groupCol: String,
      numHashes: Int = 32, shingleK: Int = 3,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame = {
    require(numHashes > 0, "numHashes must be positive")
    val lanes = df
      .select(col(groupCol), TextOps.shingles(
        tokenizer(col(textCol)), shingleK).as("_sh"))
      .select(col(groupCol),
        posexplode(TextOps.minhashSig(col("_sh"), numHashes))
          .as(Seq("_j", "_v")))
      .groupBy(col(groupCol), col("_j")).agg(min(col("_v")).as("_v"))
    val a = lanes.select(col(groupCol).as("src_a"), col("_j"),
      col("_v").as("_va"))
    val b = lanes.select(col(groupCol).as("src_b"), col("_j").as("_jb"),
      col("_v").as("_vb"))
    a.join(b, col("_j") === col("_jb") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("_va") === col("_vb"), lit(1L)).otherwise(lit(0L)))
        .as("n_agree"))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        round(col("n_agree").cast("double") / lit(numHashes.toDouble), 6)
          .as("est_jaccard"))
  }

  /** Keep the best-scoring row of each near-dup cluster (canonical-
    * document selection): given (id, cluster) labels from
    * [[clusterLabels]] and a per-row `score`, the survivor of a cluster
    * is its maximal (score, then minimal id on ties) member. Returns
    * the surviving rows of `df` unchanged.
    *
    * Scale shape: the argmax is ONE hash aggregation over narrow
    * (cluster, score, id) rows — map-side partials bound the shuffle by
    * cluster count, and no window funnels a big cluster through one
    * task. Survivor ids flow back via a semi-join (broadcast when they
    * fit). `score` must be deterministic (round floats at a fixed
    * scale) or ties can flip between runs; `idCol` must be numeric (the
    * tie rule negates it — in decimal(38,18), whose 20 integral digits
    * make negation exact over the FULL long range; a raw long negation
    * would silently no-op on `Long.MinValue` and break
    * lowest-id-wins). Rows of `df`
    * ABSENT from `clusters` are DROPPED by the inner membership join —
    * pass [[clusterLabels]] output, which covers every id (singletons
    * included), and coverage is total.
    */
  def keepBestInCluster(
      df: DataFrame, clusters: DataFrame, idCol: String,
      score: Column): DataFrame = {
    // the tie rule negates the id; a string id would silently cast to
    // null under non-ANSI semantics and the semi-join would return
    // ZERO rows — fail loudly instead
    require(df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestInCluster needs a numeric $idCol " +
        s"(got ${df.schema(idCol).dataType.simpleString})")
    val scored = df
      .select(col(idCol), score.as("_score"))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol))
    // lexicographic struct max: highest score first, then highest
    // negated id = LOWEST id — the deterministic tie rule. Negation in
    // decimal(20,0): exact for every long, including Long.MinValue
    val idType = df.schema(idCol).dataType
    val best = scored
      .groupBy(col("cluster"))
      .agg(max(struct(col("_score"),
        (-col(idCol).cast("decimal(38,18)")).as("_nid"))).as("_b"))
      .select((-col("_b._nid")).cast(idType).as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** [[dedupNear]] that keeps the BEST row per cluster instead of the
    * minimal-id one — the production survivor rule (keep the highest-
    * quality copy, not an arbitrary one). `score(df)` builds the
    * per-row quality column.
    */
  def dedupNearKeepBest(
      df: DataFrame, textCol: String, idCol: String, score: Column,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens,
      maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, shingleK, bands,
      rowsPerBand, threshold, tokenizer)
    val clusters = clusterLabels(df.select(col(idCol)), pairs, maxIter)
    keepBestInCluster(df, clusters, idCol, score)
  }

  /** Exact shared-span detection between document pairs — the
    * substring-level dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), which removes
    * repeated SPANS rather than whole near-dup documents. A shared
    * span is a maximal run of positions where the two docs' token
    * k-grams match on one alignment diagonal (`pos_a − pos_b`
    * constant); a run of m consecutive matching k-grams is a shared
    * substring of `m + k − 1` tokens. Returns
    * (id_a, id_b, start_a, start_b, span_len) for every maximal span
    * of at least `minLen` tokens (1-based token positions).
    *
    * This is the suffix-array result computed relationally: anchor
    * k-grams via an equi-join, then gaps-and-islands
    * (`pos − row_number`) per (pair, diagonal) to merge anchors into
    * maximal runs — no suffix structure to build or shard.
    *
    * Scale shape (100 TB): grams with document frequency > `maxDf`
    * are dropped BEFORE the self-join (the q66/q79 hot-set move), so
    * per-gram join fan-out is ≤ maxDf² and boilerplate can never
    * quadratic-blow the shuffle — at the price of missing spans made
    * ENTIRELY of ultra-common grams (they are boilerplate by
    * definition; the line-dedup family handles them). The window
    * partitions are per (pair, diagonal) — bounded by the shorter
    * doc's length, never corpus-sized.
    */
  def sharedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minLen: Int = 16, maxDf: Int = 100,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2, got $k")
    require(minLen >= k, s"minLen must be >= k, got $minLen vs $k")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val grams = df
      .select(col(idCol).as("_id"),
        posexplode(TextOps.shingles(tokenizer(col(textCol)), k)))
      .select(col("_id"), (col("pos") + 1).as("_pos"), col("col").as("_gram"))
    val keep = grams.groupBy(col("_gram"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("_gram"))
    val kept = grams.join(keep, Seq("_gram"))
    val a = kept.select(col("_gram"), col("_id").as("id_a"),
      col("_pos").as("_pa"))
    val b = kept.select(col("_gram"), col("_id").as("id_b"),
      col("_pos").as("_pb"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("_diag"))
      .orderBy(col("_pa"))
    a.join(b, Seq("_gram"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_pa"), col("_pb"),
        (col("_pa") - col("_pb")).as("_diag"))
      .withColumn("_run", col("_pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("_diag"), col("_run"))
      .agg(min(col("_pa")).as("start_a"), min(col("_pb")).as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  /** Leakage-safe train/val/test split: near-dup CLUSTERS are
    * assigned as a unit — the split hash keys on the cluster
    * representative, not the document — so two near-duplicate docs can
    * never land in train and test (the contamination a plain
    * per-document [[graft.operators.Relational.hashSplit]] silently
    * allows, which inflates eval scores exactly like benchmark
    * leakage). Singleton docs hash on their own id (they are their own
    * cluster representative), so for a dup-free corpus this reduces to
    * hashSplit on the cluster column. Output: every input row +
    * `cluster` + `split`.
    *
    * Scale shape: [[nearDupPairs]] + [[clusterLabels]] shapes (bucket
    * equi-join candidates, ids-only pointer jumping), then the split
    * label is a pure scan-stage expression on the cluster id.
    */
  def clusterSafeSplit(df: DataFrame, textCol: String, idCol: String,
      splits: Seq[(String, Double)], seed: Long, shingleK: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5,
      tokenizer: Column => Column = TextOps.tokens,
      maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, shingleK, bands,
      rowsPerBand, threshold, tokenizer).select("id_a", "id_b")
    val clusters = clusterLabels(df.select(col(idCol)), pairs, maxIter)
      .withColumnRenamed("id", idCol)
    graft.operators.Relational.hashSplit(
      df.join(clusters, Seq(idCol)), "cluster", splits, seed)
  }

  /** Remove shared spans, keeping the LOWEST-id occurrence — the
    * apply step over [[sharedSpans]] (Lee et al. remove duplicated
    * substrings rather than documents; we pin "first occurrence" to
    * the id order so the result is deterministic and replayable).
    * Every doc that appears as the higher id of a span loses those
    * token positions; spans may overlap (the containment test handles
    * it without interval merging). Output: (idCol, text_clean,
    * n_removed) for EVERY doc — untouched docs pass through with
    * n_removed = 0.
    *
    * Scale shape: [[sharedSpans]]'s shapes, plus one per-doc interval
    * aggregation (bounded by spans-per-doc) broadcast-joined back and
    * a scan-stage two-arg `filter` HOF that drops covered positions —
    * the rebuild never shuffles the corpus text.
    */
  def removeSharedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minLen: Int = 16, maxDf: Int = 100,
      tokenizer: Column => Column = TextOps.tokensSimple): DataFrame = {
    val ivs = sharedSpans(df, textCol, idCol, k, minLen, maxDf, tokenizer)
      .groupBy(col("id_b").as(idCol))
      .agg(collect_list(struct(col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e"))).as("_ivs"))
    val toks = tokenizer(col(textCol))
    df.join(ivs, Seq(idCol), "left")
      .select(col(idCol), toks.as("_w"), col("_ivs"))
      .select(col(idCol), col("_w"),
        when(col("_ivs").isNull, col("_w"))
          .otherwise(filter(col("_w"), (t, i) =>
            !exists(col("_ivs"), iv =>
              (i + 1) >= iv.getField("s") && (i + 1) < iv.getField("e"))))
          .as("_kept"))
      .select(col(idCol),
        concat_ws(" ", col("_kept")).as("text_clean"),
        (size(col("_w")) - size(col("_kept"))).as("n_removed"))
  }

  /** Hamming near-dup pairs over an integer fingerprint column — the
    * banded-fingerprint dedup of Manku et al. 2007 ("Detecting
    * Near-Duplicates for Web Crawling", the Google SimHash paper),
    * and the pairing step for ANY 64-bit-or-narrower perceptual hash:
    * [[TextOps.simhash]] for text, `Multimodal.dHash` for images.
    * Returns (id_a, id_b, hamming) for every pair with
    * `popcount(fp_a XOR fp_b) <= maxBits`, id_a < id_b.
    *
    * EXACT, not approximate: with `maxBits < bands`, pigeonhole
    * guarantees two fingerprints within maxBits agree on at least one
    * of the `bands` equal-width bit slices — so the band equi-join's
    * candidate set provably contains every qualifying pair, and the
    * popcount filter removes exactly the rest (enforced by a require;
    * this is why the brute-force formulation can serve as the oracle).
    *
    * Scale shape: candidates come from `bands` equi-joins expressed as
    * one explode + shuffle on (band, slice) — never an all-pairs
    * product; fingerprints ride the explode so verification needs no
    * join-back (the [[nearDupPairs]] sig-carry trade). A slice held by
    * k rows fans out k²-ish within its bucket only — size `bands` so
    * slices stay selective (wider slices = fewer, bigger buckets).
    */
  def hammingNearDupPairs(df: DataFrame, idCol: String, fpCol: String,
      fpBits: Int = 64, bands: Int = 4, maxBits: Int = 3): DataFrame = {
    require(fpBits > 0 && fpBits <= 64, s"fpBits in (0,64]: $fpBits")
    require(bands > 0 && fpBits % bands == 0,
      s"bands must divide fpBits: $bands vs $fpBits")
    require(maxBits >= 0 && maxBits < bands,
      s"need maxBits < bands for the pigeonhole completeness " +
        s"guarantee, got maxBits=$maxBits bands=$bands")
    val width = fpBits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val banded = df
      .select(col(idCol).as("_id"), col(fpCol).cast("long").as("_fp"))
      .filter(col("_fp").isNotNull)
      .select(col("_id"), col("_fp"), explode(array((0 until bands).map {
        b => struct(lit(b).as("b"),
          shiftrightunsigned(col("_fp"), b * width)
            .bitwiseAND(lit(mask)).as("v"))
      }: _*)).as("_band"))
      .select(col("_id"), col("_fp"),
        col("_band.b").as("_b"), col("_band.v").as("_v"))
    val a = banded.select(col("_b"), col("_v"), col("_id").as("id_a"),
      col("_fp").as("_fpa"))
    val b = banded.select(col("_b"), col("_v"), col("_id").as("id_b"),
      col("_fp").as("_fpb"))
    a.join(b, Seq("_b", "_v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_fpa"), col("_fpb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("hamming"))
      .filter(col("hamming") <= maxBits)
  }

  /** Content-defined chunks of a text column
    * ([[graft.functions.CdcChunksXX]]): boundaries where the
    * `window`-character rolling md5 window hits `0 mod mask`, so an
    * edit shifts at most the chunk it lands in — the storage-dedup
    * primitive that catches shared boilerplate document-level hashing
    * misses. `concat(chunks) == text` always holds.
    */
  def cdcChunks(text: Column, window: Int = 8, mask: Int = 16): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.CdcChunksExprXX(
      ColumnBridge.expression(text), window, mask))
  }

  /** Corpus chunk-redundancy report from [[cdcChunks]]: the most
    * duplicated content-defined chunks with occurrence and
    * document-spread counts — what a boilerplate-excision pass would
    * remove first, and the measurement behind a "chunk-store" dedup
    * ratio estimate.
    *
    * Scale shape: one kernel pass chunks the corpus in place, then a
    * single hash aggregation on the 32-hex chunk key (map-side
    * partials; text itself is dropped before the shuffle — only
    * hashes and lengths move), and the top-k is per-partition heaps.
    * Returns `(chunk_hash, n_occ, n_docs, chunk_len)`.
    */
  def cdcDedupReport(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8, mask: Int = 16, topK: Int = 50): DataFrame =
    df.select(col(idCol).as("_doc"),
        explode(cdcChunks(col(textCol), window, mask)).as("_chunk"))
      .select(col("_doc"), md5(col("_chunk")).as("chunk_hash"),
        length(col("_chunk")).as("_len"))
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("_doc")).as("n_docs"),
        max(col("_len")).as("chunk_len"))
      .orderBy(col("n_occ").desc, col("chunk_hash"))
      .limit(topK)

  /** Entity resolution: multi-pass blocking + edit-distance verify +
    * connected-component merge, with BOTH quadratic escapes a skewed
    * real-world registry needs engineered away:
    *
    *  1. **Exact-duplicate collapse.** Records sharing a name are one
    *     entity by definition (edit distance 0), so each connects to
    *     its name's min-id representative with a LINEAR star edge —
    *     a registry with 10⁶ copies of "John Smith" contributes 10⁶
    *     edges, never the 10¹² pairs the clique would cost through
    *     the pairwise path. Blocking then runs over DISTINCT names
    *     only (one representative each).
    *  2. **Hot-block cap.** Candidate pairs come from TWO
    *     complementary equi-join blocking passes — the first and
    *     second halves of the name, so a corruption can defeat at
    *     most one pass. Real name prefixes are Zipfian ("Mohammed…",
    *     "John S…"): a blocking key whose DISTINCT-name block exceeds
    *     `blockCap` would still go quadratic inside the block, so hot
    *     blocks switch to the sorted-neighborhood method (Hernández &
    *     Stolfo 1995): members sort by full name within the block and
    *     each pairs with only its next `hotWindow` neighbors —
    *     O(|block|·hotWindow) candidates, bounded fan-out per record.
    *     Within a hot block recall becomes the SNM approximation
    *     (near-duplicate tails usually sort adjacent; an edit early
    *     in the tail can escape the window) — the documented price of
    *     boundedness; cold blocks keep exact all-pairs semantics.
    *     MEASURED (AnalyticsOpsSpec "SNM recall MEASURED": planted
    *     last-char mutations in a 400-member Zipfian hot block, where
    *     twins sort 4–10 ranks from their base): hot-block pairs
    *     completeness is 0.20 at `hotWindow` = 4, 0.80 at 8, 1.00 at
    *     12, with cold blocks exact (1.00) throughout — under
    *     adversarially early tail edits it can reach 0 (the opt-in
    *     test below). Size `hotWindow` to the expected sorted-rank
    *     spread of your corruption model, not to a constant.
    *     The bounded mode is OPT-IN: `blockCap` defaults to
    *     `Int.MaxValue` (exact all-pairs in every block, the
    *     pre-round-10 semantics), so no caller's matches change
    *     silently. Scale-facing callers over unvetted registries
    *     (the `er` CLI, the q204 gate) pass an explicit cap.
    *
    * Verification (`levenshtein ≤ maxEdit`) touches candidates only;
    * the merge is the dedup family's pointer-jumping CC
    * ([[clusterLabels]]). All joins are equi (block key, or block key
    * + neighbor rank); the only window is partitioned by block key.
    *
    * Output: (`idCol`, `cluster`) for every record — the cluster label
    * is the minimal member id, singletons keep their own id.
    */
  def resolveEntities(
      records: DataFrame, idCol: String, nameCol: String,
      maxEdit: Int = 2, halfLen: Int = 6,
      blockCap: Int = Int.MaxValue, hotWindow: Int = 8): DataFrame = {
    val cand = entityCandidates(records, idCol, nameCol, halfLen,
      blockCap, hotWindow)
    val recs = records.select(col(idCol).as("_rid"),
      col(nameCol).as("_nm"))
    val names = recs.groupBy(col("_nm")).agg(min(col("_rid")).as("_rep"))
    val starEdges = recs.join(names, Seq("_nm"))
      .filter(col("_rid") =!= col("_rep"))
      .select(col("_rid").as("id_a"), col("_rep").as("id_b"))
    val pairs = cand
      .filter(levenshtein(col("_na"), col("_nb")) <= maxEdit)
      .select(col("id_a"), col("id_b"))
      .union(starEdges)
    clusterLabels(recs.select("_rid"), pairs)
      .select(col("id").as(idCol), col("cluster"))
  }

  /** Jaro-Winkler string similarity
    * ([[graft.functions.JaroWinklerXX]], SQL `graft_jaro_winkler`) —
    * the record-linkage name scorer: match-window counting +
    * transposition discount (Jaro 1989) with the shared-prefix boost
    * above 0.7 (Winkler 1990). Forgives tail noise and rewards prefix
    * stability where levenshtein charges every typo the same — the
    * verification scorer to plug into [[resolveEntities]]-style
    * candidate stages and [[fellegiSunterWeights]] field comparisons.
    */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.JaroWinklerExprXX(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Blocking-quality report (Christen, "Data Matching", 2012 §7.5 —
    * the two numbers every blocking design is judged by): for each
    * candidate blocking key, the candidate-pair count, the REDUCTION
    * RATIO `1 − |candidates| / (n(n−1)/2)` (how much of the all-pairs
    * quadratic the key avoids) and the PAIRS COMPLETENESS
    * `|candidates ∩ truth| / |truth|` (how many true matches survive
    * blocking at all — the recall ceiling of everything downstream).
    * Evaluated against a labeled sample (`truthCol` = entity id), the
    * report is how a pipeline picks blocking keys BEFORE paying for a
    * full linkage run. Integer pair counts (truth pairs via
    * Σ c·(c−1)/2 over entity groups — never materialized as pairs),
    * one rounded division per ratio.
    *
    * Output, one row per key: `strategy`, `n_candidates`,
    * `n_true_pairs`, `n_covered`, `reduction_ratio`, `completeness`.
    */
  def blockingQuality(records: DataFrame, idCol: String,
      truthCol: String, keys: Seq[(String, Column)]): DataFrame = {
    require(keys.nonEmpty, "need at least one blocking key")
    val keyed = records.select(
      (col(idCol).as("_rid") +: col(truthCol).as("_t") +:
        keys.map { case (n, c) => c.as(s"_k_$n") }): _*)
      .persist() // every strategy's self-join + the totals
    val totals = keyed.groupBy(col("_t"))
      .agg(count(lit(1)).as("_c"))
      .agg(sum(col("_c")).as("_n"),
        // c(c−1) is even, so the /2 is exact; cast back to the integer
        // domain the ratios divide from
        sum((col("_c") * (col("_c") - 1L) / 2L).cast("long"))
          .as("_truth"))
      .localCheckpoint() // 1 row, consumed once per strategy
    keys.map { case (n, _) =>
      val kc = col(s"_k_$n")
      val l = keyed.select(kc.as("_k"), col("_rid").as("_a"),
        col("_t").as("_ta"))
      val r = keyed.select(kc.as("_k"), col("_rid").as("_b"),
        col("_t").as("_tb"))
      l.join(r, "_k").filter(col("_a") < col("_b"))
        .agg(count(lit(1)).as("_nc"),
          // an empty candidate set sums to NULL — a key that blocks
          // nothing legitimately reports 0 candidates, 0 coverage
          coalesce(sum(when(col("_ta") === col("_tb"), 1L)
            .otherwise(0L)), lit(0L)).as("_ncov"))
        .crossJoin(broadcast(totals))
        .select(lit(n).as("strategy"),
          col("_nc").as("n_candidates"),
          col("_truth").as("n_true_pairs"),
          col("_ncov").as("n_covered"),
          round(lit(1.0) - col("_nc").cast("double") /
            (col("_n").cast("double") * (col("_n") - 1L).cast("double")
              / lit(2.0)), 6).as("reduction_ratio"),
          round(col("_ncov").cast("double") /
            col("_truth").cast("double"), 6).as("completeness"))
    }.reduce(_ unionByName _)
  }

  /** Fellegi-Sunter record-linkage weights (Fellegi & Sunter, "A
    * Theory for Record Linkage", JASA 1969) — the statistical scoring
    * layer on top of [[resolveEntities]]' candidate generation: from a
    * LABELED pair sample (`isMatch` true for same-entity pairs), each
    * comparison field gets `m = P(agree | match)` and
    * `u = P(agree | non-match)`, and the field's evidence weights are
    * `ln(m/u)` on agreement and `ln((1−m)/(1−u))` on disagreement —
    * summing a pair's field weights gives its match log-likelihood
    * ratio, the quantity the classic upper/lower linkage thresholds
    * cut. Probabilities are add-one smoothed (exact rationals — no
    * field ever yields ±∞), weights micro-nat snapped (the NB-training
    * ln discipline), so the whole estimation hash-gates.
    *
    * ONE aggregation pass over the pairs regardless of field count
    * (per-field agree×label sums fold map-side); output one row per
    * field: `(field, n_match, n_unmatch, m_micro, u_micro,
    * w_agree_micro, w_disagree_micro)`.
    */
  def fellegiSunterWeights(pairs: DataFrame, isMatch: Column,
      fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val aggs = fields.flatMap { case (nm, c) => Seq(
      sum(when(isMatch && c, 1L).otherwise(0L)).as(s"_am_$nm"),
      sum(when(!isMatch && c, 1L).otherwise(0L)).as(s"_au_$nm"))
    } ++ Seq(
      sum(when(isMatch, 1L).otherwise(0L)).as("_n_m"),
      sum(when(!isMatch, 1L).otherwise(0L)).as("_n_u"))
    // 1-row moment frame, consumed once per field — checkpoint or the
    // pair scan replays |fields| times
    val mom = pairs.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    fields.map { case (nm, _) =>
      val m = (col(s"_am_$nm") + 1L).cast("double") /
        (col("_n_m") + 2L).cast("double")
      val u = (col(s"_au_$nm") + 1L).cast("double") /
        (col("_n_u") + 2L).cast("double")
      mom.select(lit(nm).as("field"),
        col("_n_m").as("n_match"), col("_n_u").as("n_unmatch"),
        round(m * lit(1000000.0)).cast("long").as("m_micro"),
        round(u * lit(1000000.0)).cast("long").as("u_micro"),
        round((log(m) - log(u)) * lit(1000000.0)).cast("long")
          .as("w_agree_micro"),
        round((log(lit(1.0) - m) - log(lit(1.0) - u)) * lit(1000000.0))
          .cast("long").as("w_disagree_micro"))
    }.reduce(_ unionByName _)
  }

  /** Apply [[fellegiSunterWeights]] to score and classify candidate
    * pairs — the decision layer of the 1969 framework: a pair's match
    * log-likelihood is the SUM of its fields' evidence weights
    * (`w_agree` when the field agrees, `w_disagree` when it doesn't —
    * exact integer micro-nat addition, so decisions hash-gate), cut
    * against the upper/lower thresholds into `match` / `possible`
    * (the clerical-review band) / `non_match`. The weights table is
    * model metadata — pivoted to one broadcast row; the pair side
    * never shuffles.
    *
    * Output: the input pair columns + `score_micro` + `decision`.
    */
  def linkageDecisions(pairs: DataFrame, weights: DataFrame,
      fields: Seq[(String, Column)], upperMicro: Long,
      lowerMicro: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(lowerMicro <= upperMicro,
      s"lower ($lowerMicro) must be <= upper ($upperMicro)")
    val aggs = fields.flatMap { case (nm, _) => Seq(
      max(when(col("field") === nm, col("w_agree_micro")))
        .as(s"_wa_$nm"),
      max(when(col("field") === nm, col("w_disagree_micro")))
        .as(s"_wd_$nm")) }
    val w1 = weights.agg(aggs.head, aggs.tail: _*)
    val score = fields.map { case (nm, c) =>
      when(c, col(s"_wa_$nm")).otherwise(col(s"_wd_$nm"))
    }.reduceLeft(_ + _)
    pairs.crossJoin(broadcast(w1))
      .select(pairs.columns.map(col) :+ score.as("score_micro"): _*)
      .select(pairs.columns.map(col) :+ col("score_micro") :+
        when(col("score_micro") >= upperMicro, lit("match"))
          .when(col("score_micro") <= lowerMicro, lit("non_match"))
          .otherwise(lit("possible")).as("decision"): _*)
  }

  /** UNSUPERVISED Fellegi-Sunter weight estimation via Winkler's EM
    * (Winkler, "Using the EM Algorithm for Weight Computation in the
    * Fellegi-Sunter Model of Record Linkage", 1988/2000) — the
    * estimator real linkage deployments use when no labeled pairs
    * exist: the candidate pairs' binary comparison vectors are modeled
    * as a two-component mixture (match / non-match), and EM alternates
    * a per-pattern responsibility (E) with re-estimated `p` (match
    * prevalence), `m_j`, `u_j` (M).
    *
    * Scale + determinism discipline: the pairs are reduced ONCE to the
    * comparison-PATTERN count table — at most `2^|fields|` rows of
    * bounded model metadata — and EM iterates over that tiny frame
    * in-plan (1-row parameter frame, localCheckpointed per iteration:
    * the q126/q48 fixed-iteration discipline). Responsibilities are
    * micro-snapped to integers BEFORE the M-step sums, so every
    * aggregate is exact integer arithmetic and the whole estimation
    * hash-gates; the only floating point per iteration is a fixed
    * left-associated product chain and one division per moment, both
    * bit-reproducible across engines. Estimates clamp to
    * `[1e-6, 1 − 1e-6]` so the final `ln` evidence weights are always
    * finite.
    *
    * Output: one row per field, same schema as
    * [[fellegiSunterWeights]] minus the label counts —
    * `(field, p_micro, m_micro, u_micro, w_agree_micro,
    * w_disagree_micro)` — drop-in for [[linkageDecisions]].
    */
  def fellegiSunterEM(pairs: DataFrame, fields: Seq[(String, Column)],
      iters: Int = 5, initPMicro: Long = 100000L,
      initMMicro: Long = 900000L, initUMicro: Long = 100000L)
      : DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val k = fields.size
    val fcols = fields.indices.map(i => s"_f$i")
    // pattern table: one row per observed agreement vector, ≤ 2^k rows
    // of bounded model metadata — the ONLY pass over the pairs
    val pat = pairs
      .groupBy(fields.zipWithIndex.map { case ((_, c), i) =>
        coalesce(c, lit(false)).as(s"_f$i") }: _*)
      .agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    // 1-row parameter frame in exact micro units
    val init = pat.sparkSession.range(1).select(
      (lit(initPMicro).as("_p") +:
        fields.indices.flatMap(i => Seq(
          lit(initMMicro).as(s"_m$i"), lit(initUMicro).as(s"_u$i")))): _*)
    val micro = lit(1000000.0)
    val params = (1 to iters).foldLeft(init) { (prev, _) =>
      // E-step: responsibility of the match class per pattern, from
      // the snapped micro params — a fixed left-associated double
      // product chain, then one division, then a micro snap
      val pm = fields.indices.foldLeft(
        col("_p").cast("double") / micro) { (acc, i) =>
        acc * (when(col(s"_f$i"), col(s"_m$i").cast("double") / micro)
          .otherwise((lit(1000000L) - col(s"_m$i")).cast("double") /
            micro))
      }
      val pu = fields.indices.foldLeft(
        (lit(1000000L) - col("_p")).cast("double") / micro) { (acc, i) =>
        acc * (when(col(s"_f$i"), col(s"_u$i").cast("double") / micro)
          .otherwise((lit(1000000L) - col(s"_u$i")).cast("double") /
            micro))
      }
      val e = pat.crossJoin(broadcast(prev))
        .withColumn("_w", round(pm / (pm + pu) * micro).cast("long"))
      // M-step: all sums are exact integers (w is micro-snapped), each
      // new estimate is ONE double division of two exact longs, then a
      // micro snap clamped away from {0, 1}
      def clamp(c: Column): Column =
        least(lit(999999L), greatest(lit(1L), c))
      val aggs =
        sum(col("_w") * col("_n")).as("_sw") +:
        sum(col("_n")).as("_sn") +:
        fields.indices.flatMap(i => Seq(
          sum(when(col(s"_f$i"), col("_w") * col("_n")).otherwise(0L))
            .as(s"_swf$i"),
          sum(when(col(s"_f$i"),
            (lit(1000000L) - col("_w")) * col("_n")).otherwise(0L))
            .as(s"_svf$i")))
      e.agg(aggs.head, aggs.tail: _*)
        .select((clamp(round(col("_sw").cast("double") /
            col("_sn").cast("double")).cast("long")).as("_p") +:
          fields.indices.flatMap(i => Seq(
            clamp(round(col(s"_swf$i").cast("double") /
              col("_sw").cast("double") * micro).cast("long"))
              .as(s"_m$i"),
            clamp(round(col(s"_svf$i").cast("double") /
              (lit(1000000L) * col("_sn") - col("_sw")).cast("double") *
              micro).cast("long")).as(s"_u$i")))): _*)
        .localCheckpoint() // 1 row per iteration — O(1) plan depth
    }
    fields.zipWithIndex.map { case ((nm, _), i) =>
      val m = col(s"_m$i").cast("double") / micro
      val u = col(s"_u$i").cast("double") / micro
      val m1 = (lit(1000000L) - col(s"_m$i")).cast("double") / micro
      val u1 = (lit(1000000L) - col(s"_u$i")).cast("double") / micro
      params.select(lit(nm).as("field"), col("_p").as("p_micro"),
        col(s"_m$i").as("m_micro"), col(s"_u$i").as("u_micro"),
        round((log(m) - log(u)) * micro).cast("long")
          .as("w_agree_micro"),
        round((log(m1) - log(u1)) * micro).cast("long")
          .as("w_disagree_micro"))
    }.reduce(_ unionByName _)
  }

  /** [[resolveEntities]]' candidate-pair generator, exposed so the
    * boundedness claim is testable: output pair count is
    * O(Σ_cold |block|²) + O(Σ_hot |block|·hotWindow), never quadratic
    * in a hot block. Returns `(id_a, id_b, _na, _nb)` over distinct-
    * name representatives with `id_a < id_b`.
    */
  private[graft] def entityCandidates(
      records: DataFrame, idCol: String, nameCol: String,
      halfLen: Int, blockCap: Int, hotWindow: Int): DataFrame = {
    require(blockCap >= 2, s"blockCap must be >= 2, got $blockCap")
    require(hotWindow >= 1, s"hotWindow must be >= 1, got $hotWindow")
    import org.apache.spark.sql.expressions.Window
    val names = records
      .select(col(idCol).as("_rid"), col(nameCol).as("_nm"))
      .groupBy(col("_nm")).agg(min(col("_rid")).as("_rep"))
      // two blocking passes × (size count + pair join) consume this —
      // materialize the narrow (name, rep) frame once
      .localCheckpoint()
    def blockPass(key: Column => Column): DataFrame = {
      val keyed = names.select(key(col("_nm")).as("_k"), col("_rep"),
        col("_nm"))
      val sizes = keyed.groupBy(col("_k")).agg(count(lit(1)).as("_bn"))
      val kk = keyed.join(sizes, Seq("_k"))
      // cold blocks: exact all-pairs (≤ blockCap members — bounded)
      val cold = kk.filter(col("_bn") <= blockCap)
      val coldPairs = cold
        .select(col("_k"), col("_rep").as("id_a"), col("_nm").as("_na"))
        .join(cold.select(col("_k"), col("_rep").as("id_b"),
          col("_nm").as("_nb")), Seq("_k"))
        .filter(col("id_a") < col("id_b"))
      // hot blocks: sorted-neighborhood — rank by name inside the
      // block, each member pairs with its next `hotWindow` ranks via
      // an EQUI join on (block, rank); fan-out per member ≤ hotWindow
      val w = Window.partitionBy(col("_k")).orderBy(col("_nm"))
      val ranked = kk.filter(col("_bn") > blockCap)
        .withColumn("_rn", row_number().over(w))
      val lhs = ranked
        .withColumn("_j",
          explode(sequence(lit(1), lit(hotWindow))))
        .select(col("_k"), (col("_rn") + col("_j")).as("_rn2"),
          col("_rep").as("_ra"), col("_nm").as("_qa"))
      val hotPairs = lhs.join(
        ranked.select(col("_k"), col("_rn").as("_rn2"),
          col("_rep").as("_rb"), col("_nm").as("_qb")),
        Seq("_k", "_rn2"))
        .select(col("_k"),
          least(col("_ra"), col("_rb")).as("id_a"),
          greatest(col("_ra"), col("_rb")).as("id_b"),
          when(col("_ra") < col("_rb"), col("_qa")).otherwise(col("_qb"))
            .as("_na"),
          when(col("_ra") < col("_rb"), col("_qb")).otherwise(col("_qa"))
            .as("_nb"))
      coldPairs.unionByName(hotPairs)
    }
    blockPass(_.substr(1, halfLen))
      .union(blockPass(_.substr(halfLen + 1, halfLen)))
      .select(col("id_a"), col("id_b"), col("_na"), col("_nb"))
      .distinct()
  }
}
