package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try

/** Pool health probes (SURVEY.md §2.1 S7; reference
  * `/root/reference/scripts/diagnose_pool.py:8-60`): directory exists,
  * ≥1 parquet file found, schema readable, one row fetchable — each as a
  * cheap metadata-or-limit(1) operation, never a full scan.
  */
object Diagnose {

  final case class Report(
      rootExists: Boolean,
      parquetFiles: Long,
      schemaFields: Seq[String],
      oneRowFetchable: Boolean) {
    def healthy: Boolean = rootExists && parquetFiles > 0 &&
      schemaFields.nonEmpty && oneRowFetchable
  }

  def apply(spark: SparkSession, root: String): Report = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    val exists = Try(fs.exists(p)).getOrElse(false)
    if (!exists) return Report(false, 0, Nil, false)

    val it = fs.listFiles(p, true)
    var nParquet = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) nParquet += 1
    }
    val df = Try(spark.read.parquet(root))
    val fields = df.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    val oneRow = df.map(_.limit(1).count() == 1).getOrElse(false)
    Report(exists, nParquet, fields, oneRow)
  }

  /** Key-skew profile of a prospective shuffle/join key: the `topK`
    * heaviest key values with absolute row counts and corpus share —
    * the number to look at BEFORE choosing between a plain shuffle
    * join, [[Relational.saltedJoin]], or AQE skew splitting (a key
    * holding >1-2% of a 100 TB table funnels TBs through one reducer).
    * Returns `(keyCol, n_rows, share, total_rows)` in descending count
    * order, ties broken by ascending key.
    *
    * Scale shape: one hash aggregation with map-side partials (output
    * bounded by key cardinality), a 1-row total broadcast back, and a
    * TakeOrderedAndProject for the top-k — per-partition heaps merged
    * on the driver, NO global sort and no single-partition window.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("total_rows"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("n_rows"),
        round(col("n_rows").cast("double") /
          col("total_rows").cast("double"), 6).as("share"),
        col("total_rows"))
      .orderBy(col("n_rows").desc, col(keyCol).asc)
      .limit(topK)
  }

  /** Dataset manifest: one row per physical file — row count and a
    * per-column null count — plus the schema fingerprint carried on
    * every row. The validation artifact a lake writes beside a
    * snapshot (and diffs between snapshots: a file whose row count
    * moved, a column whose null rate jumped — both are drop blockers).
    * One distributed scan grouped by `input_file_name` — no driver
    * listing, no second pass per column.
    */
  def manifest(spark: SparkSession, root: String): DataFrame = {
    val df = spark.read.parquet(root)
    val schemaHash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.schema.catalogString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    val nullCounts = df.schema.fieldNames.map { f =>
      sum(when(col(f).isNull, 1L).otherwise(0L)).as(s"nulls_$f")
    }
    df.withColumn("_file", input_file_name())
      .groupBy(col("_file").as("file"))
      .agg(count(lit(1)).as("n_rows"), nullCounts.toSeq: _*)
      .withColumn("schema_hash", lit(schemaHash))
  }

  /** File-skipping audit for a clustered layout — the measurement
    * behind [[Relational.zOrderLayout]]/[[Relational.hilbertLayout]]'s
    * promise: given a written dataset and a range predicate
    * `lo ≤ valueCol ≤ hi`, how many FILES does a min/max-pruning
    * reader (parquet row-group stats, Delta/Iceberg file stats) have
    * to open, and how many scanned rows per matching row does that
    * cost (read amplification)? Per-file min/max fold off one scan
    * grouped by `input_file_name()`; a file is hit when its
    * [min, max] overlaps [lo, hi] — exactly the skipping decision a
    * stats-pruned scan makes. Output (one row): `(n_files, n_rows,
    * n_files_hit, n_rows_scanned, n_rows_matched, read_amp_micro)` —
    * read_amp = scanned/matched (NULL when nothing matches). Run it
    * before and after a re-layout to justify the write cost.
    */
  def fileSkippingReport(spark: SparkSession, root: String,
      valueCol: Column, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty probe range [$lo, $hi]")
    val perFile = spark.read.parquet(root)
      .withColumn("_file", input_file_name())
      .withColumn("_v", valueCol.cast("long"))
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("_rows"), min(col("_v")).as("_lo"),
        max(col("_v")).as("_hi"),
        sum(when(col("_v").between(lo, hi), 1L).otherwise(0L))
          .as("_matched"))
    val hit = col("_lo") <= hi && col("_hi") >= lo
    perFile.agg(
      count(lit(1)).as("n_files"),
      sum(col("_rows")).as("n_rows"),
      sum(when(hit, 1L).otherwise(0L)).as("n_files_hit"),
      sum(when(hit, col("_rows")).otherwise(0L)).as("n_rows_scanned"),
      sum(col("_matched")).as("n_rows_matched"))
      .withColumn("read_amp_micro",
        when(col("n_rows_matched") <= 0L, lit(null).cast("long"))
          .otherwise(round(col("n_rows_scanned").cast("double") /
            col("n_rows_matched").cast("double") * lit(1000000.0))
            .cast("long")))
  }

  // ── per-file Bloom side-car skipping ──────────────────────────────
  // min/max pruning ([[fileSkippingReport]]) is blind to
  // high-cardinality POINT lookups on unclustered columns: every
  // file's [min, max] spans the probe, so nothing skips. The standard
  // next tier (Bloom 1970; the per-file bloom filters of ORC,
  // Parquet's column-index blooms, Delta's file stats) is a tiny
  // write-once side-car per file: k hash-bit positions per value,
  // consulted at read time into a FILE-LIST filter. No false
  // negatives by construction (a present value's positions are all
  // set); false positives cost only extra files scanned, bounded by
  // the classic (1 − e^(−k·n/m))^k.
  //
  // Layout: `<root>/_bloom/<col>/pos`  (file, pos) distinct rows —
  // the sparse bitset; `<root>/_bloom/<col>/meta` one
  // (m, k, n_files_covered) row. The `_`-prefixed dir is invisible to
  // plain parquet readers of `<root>`. Positions use
  // xxhash64(value, seed) pmod m — the engine-native 64-bit hash per
  // (value, seed), no RNG state.
  //
  // UNKNOWN-FILE GUARD: the side-car only ever covers the files that
  // existed at build time; a file APPENDED later has no positions, so
  // it can never bloom-pass. "No false negatives" therefore requires
  // that every data file ABSENT from the side-car is treated as
  // must-scan — the read plan unions uncovered files in, never skips
  // them. Rewrites (file names change) invalidate the side-car the
  // same way: every new-named file simply reads as uncovered and is
  // scanned; skipping degrades, correctness never does.

  /** One parquet file path decoded to a canonical scheme-less path —
    * `input_file_name()` yields percent-encoded URI strings (and FS
    * listings yield `file:/...` variants); both normalize here before
    * they are compared or handed back to `spark.read.parquet`.
    */
  private[graft] def canonPath(s: String): String =
    Try(new java.net.URI(s)).toOption.flatMap(u => Option(u.getPath))
      .filter(_.nonEmpty).getOrElse(s)

  /** The data files a plain `spark.read.parquet(root)` would scan, as
    * canonical paths: recursive listing, `_`/`.`-prefixed path
    * components skipped (the side-car itself, markers, checkpoints).
    * Driver-side but metadata-scale — the same listing Spark's own
    * file index performs for every read.
    */
  private def listDataFiles(
      spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootCanon = canonPath(fs.makeQualified(rootPath).toUri.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val p = it.next().getPath
      val full = canonPath(p.toUri.toString)
      val rel = full.stripPrefix(rootCanon).stripPrefix("/")
      val hidden = rel.split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (!hidden && p.getName.endsWith(".parquet")) out += full
    }
    out.toSeq
  }

  /** Build the per-file Bloom side-car for `valueCol` (cast to long)
    * over an already-written parquet dataset. One distributed scan
    * grouped by `input_file_name`; side-car size is
    * O(files · min(m, k·distinct-per-file)) — metadata-scale. Files
    * appended after the build are handled by the unknown-file guard
    * (they read as must-scan); rebuild to regain skipping on them.
    */
  def writeBloomSidecar(spark: SparkSession, root: String,
      valueCol: String, m: Int = 1 << 16, k: Int = 2): Unit = {
    require(m > 1 && k >= 1 && k <= 8, s"bad bloom params m=$m k=$k")
    import spark.implicits._
    val posCols = (0 until k).map { s =>
      pmod(xxhash64(col(valueCol).cast("long"), lit(s)),
        lit(m.toLong)).cast("int")
    }
    // (the covered-file count deliberately re-reads the just-written
    // pos tree: persisting the distinct here would pin its full
    // shuffle fan-out — AQE cannot re-coalesce a cached plan — and
    // fan the pos write into many small files; the tiny pos re-read
    // is cheaper than either)
    spark.read.parquet(root)
      .select(input_file_name().as("file"),
        explode(array(posCols: _*)).as("pos"))
      .distinct()
      .write.mode("overwrite").parquet(s"$root/_bloom/$valueCol/pos")
    val nCovered = spark.read.parquet(s"$root/_bloom/$valueCol/pos")
      .select(col("file")).distinct().count()
    Seq((m, k, nCovered)).toDF("m", "k", "n_files_covered").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/_bloom/$valueCol/meta")
  }

  /** Write `df` as parquet at `root` AND build the Bloom side-cars
    * for `bloomCols` in the SAME call — the lifecycle integration
    * that makes a side-car trustworthy by construction (it covers
    * exactly the files just written) instead of a manual post-write
    * step that silently ages as the dataset changes. The natural
    * companion to the [[Relational.zOrderLayout]]/
    * [[Relational.hilbertLayoutN]] write: lay out for range probes,
    * side-car the high-cardinality point-probe columns, one call.
    * (Appends after this write stay SAFE — the unknown-file guard
    * scans them — they just stop skipping until a rebuild.)
    */
  def writeWithBloomSidecars(df: DataFrame, root: String,
      bloomCols: Seq[String], mode: String = "errorifexists",
      m: Int = 1 << 16, k: Int = 2): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom column")
    df.write.mode(mode).parquet(root)
    bloomCols.foreach(c =>
      writeBloomSidecar(df.sparkSession, root, c, m, k))
  }

  /** The side-car's verdict on a probe set, resolved to a concrete
    * scan plan: `files` = canonical paths to scan (bloom-passing
    * covered files plus every file the side-car does not cover — the
    * no-false-negatives guard), `nCovered`/`nUnknown` = side-car
    * coverage of the current listing, `fallbackFullScan` = the
    * passing list blew past `maxFiles` (a hot probe present in most
    * files would otherwise become an O(all-files) relation constant),
    * so the caller should scan the root directly.
    */
  final case class BloomPlan(
      files: Seq[String], nCovered: Long, nUnknown: Long,
      fallbackFullScan: Boolean)

  /** RAW side-car file strings (exactly as `input_file_name` recorded
    * them): (all covered files, bloom-passing covered files). A file
    * passes for probe v iff ALL of v's hash positions are in the
    * file's position set (collisions among v's own positions handled
    * by requiring its DISTINCT position count). Probe sets are
    * query-sized by contract, so both lists collect; the side-car
    * join itself is distributed.
    */
  private def bloomSidecarQuery(spark: SparkSession, root: String,
      valueCol: String, probes: Seq[Long])
      : (Seq[String], Seq[String]) = {
    val meta = spark.read.parquet(s"$root/_bloom/$valueCol/meta").head()
    val (m, k) = (meta.getAs[Int]("m"), meta.getAs[Int]("k"))
    import spark.implicits._
    val posCols = (0 until k).map { s =>
      pmod(xxhash64(col("_v"), lit(s)), lit(m.toLong)).cast("int")
    }
    val probePos = probes.toDF("_v")
      .select(col("_v"), explode(array(posCols: _*)).as("pos"))
      .distinct().localCheckpoint()
    val need = probePos.groupBy(col("_v")).agg(count(lit(1)).as("_need"))
    val pos = spark.read.parquet(s"$root/_bloom/$valueCol/pos")
    val covered = pos.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    val passing = pos
      .join(broadcast(probePos), Seq("pos"))
      .groupBy(col("file"), col("_v")).agg(count(lit(1)).as("_got"))
      .join(broadcast(need), Seq("_v"))
      .filter(col("_got") === col("_need"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    (covered, passing)
  }

  /** Resolve probes against the side-car AND the current file listing
    * into a [[BloomPlan]] — the one place the unknown-file guard and
    * the hot-probe cap live.
    */
  def bloomFilePlan(spark: SparkSession, root: String,
      valueCol: String, probes: Seq[Long],
      maxFiles: Int = 4096): BloomPlan = {
    require(probes.nonEmpty, "empty probe set")
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val (covered, passing) =
      bloomSidecarQuery(spark, root, valueCol, probes)
    val coveredCanon = covered.map(canonPath).toSet
    val listing = listDataFiles(spark, root)
    val unknown = listing.filterNot(coveredCanon.contains)
    val files = (passing.map(canonPath) ++ unknown).distinct
    if (files.size > maxFiles)
      BloomPlan(listing, coveredCanon.size.toLong,
        unknown.size.toLong, fallbackFullScan = true)
    else
      BloomPlan(files, coveredCanon.size.toLong, unknown.size.toLong,
        fallbackFullScan = false)
  }

  /** The files a probe read MUST scan per the side-car: bloom-passing
    * covered files PLUS every file the side-car does not cover (no
    * false negatives even across appends). Canonical decoded paths.
    */
  def bloomPassingFiles(spark: SparkSession, root: String,
      valueCol: String, probes: Seq[Long]): Seq[String] =
    bloomFilePlan(spark, root, valueCol, probes).files

  /** Point-lookup read through the side-car: scan ONLY the bloom-
    * passing (or side-car-unknown) files, then apply the exact
    * membership filter — the takedown/audit pipeline's id-probe shape
    * ("find these 20 doc ids in a million-file corpus") without
    * opening the lake. No false negatives: every file actually
    * containing a probe passes, and files appended after the side-car
    * build are always scanned. Past `maxFiles` passing files the read
    * falls back to one full root scan (cheaper than a giant file-list
    * relation; the report surfaces the fallback).
    */
  def readWithBloom(spark: SparkSession, root: String,
      valueCol: String, probes: Seq[Long],
      maxFiles: Int = 4096): DataFrame = {
    val plan = bloomFilePlan(spark, root, valueCol, probes, maxFiles)
    val exact = col(valueCol).cast("long").isin(probes: _*)
    if (plan.fallbackFullScan)
      spark.read.parquet(root).filter(exact)
    else if (plan.files.isEmpty)
      spark.read.parquet(root).filter(lit(false))
    else
      // basePath keeps Hive partition columns when addressing files;
      // canonical paths on both sides keep the schemes consistent
      spark.read.option("basePath", canonPath(root))
        .parquet(plan.files: _*)
        .filter(exact)
  }

  /** [[fileSkippingReport]]'s point-lookup twin, with BOTH pruning
    * tiers measured side by side: how many files (and rows) would a
    * min/max-stats reader scan for these probes, versus the Bloom
    * side-car? One row: `(n_files, n_rows, n_files_hit_minmax,
    * n_rows_scanned_minmax, n_files_hit_bloom, n_rows_scanned_bloom,
    * n_rows_matched, read_amp_minmax_micro, read_amp_bloom_micro,
    * n_files_unknown, bloom_fallback)` — `n_files_unknown` counts
    * data files the side-car does not cover (always scanned by the
    * bloom tier: the no-false-negatives guard), `bloom_fallback` is
    * true when the passing list blew past `maxFiles` and a read would
    * fall back to a full scan. Run it before shipping a re-layout or
    * a side-car build — the decision should be justified by these
    * numbers. File membership joins against small broadcast file
    * lists, never a file-count-sized `isin` literal.
    */
  def bloomSkippingReport(spark: SparkSession, root: String,
      valueCol: String, probes: Seq[Long],
      maxFiles: Int = 4096): DataFrame = {
    require(probes.nonEmpty, "empty probe set")
    import spark.implicits._
    val plan = bloomFilePlan(spark, root, valueCol, probes, maxFiles)
    val scanned =
      plan.files.map(f => (f, true)).toDF("_file_canon", "_bloom_scan")
    val inProbe = col("_v").isin(probes: _*)
    val perFile = spark.read.parquet(root)
      .withColumn("_file", input_file_name())
      .withColumn("_v", col(valueCol).cast("long"))
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("_rows"), min(col("_v")).as("_lo"),
        max(col("_v")).as("_hi"),
        sum(when(inProbe, 1L).otherwise(0L)).as("_matched"))
      // canonicalize the scan's file URI the same way the plan did:
      // join on the decoded path, so percent-encoding and scheme
      // differences can't mis-bucket a file
      .withColumn("_file_canon",
        regexp_replace(
          url_decode(regexp_replace(col("_file"), lit("\\+"),
            lit("%2B"))),
          lit("^[A-Za-z][A-Za-z0-9+.-]*:/+"), lit("/")))
      .join(broadcast(scanned), Seq("_file_canon"), "left")
    val hitMinmax = probes.map(p => col("_lo") <= p && col("_hi") >= p)
      .reduce(_ || _)
    val hitBloom =
      if (plan.fallbackFullScan) lit(true)
      else coalesce(col("_bloom_scan"), lit(false))
    def amp(scanned: Column): Column =
      when(col("n_rows_matched") <= 0L, lit(null).cast("long"))
        .otherwise(round(scanned.cast("double") /
          col("n_rows_matched").cast("double") * lit(1000000.0))
          .cast("long"))
    perFile.agg(
      count(lit(1)).as("n_files"),
      sum(col("_rows")).as("n_rows"),
      sum(when(hitMinmax, 1L).otherwise(0L)).as("n_files_hit_minmax"),
      sum(when(hitMinmax, col("_rows")).otherwise(0L))
        .as("n_rows_scanned_minmax"),
      sum(when(hitBloom, 1L).otherwise(0L)).as("n_files_hit_bloom"),
      sum(when(hitBloom, col("_rows")).otherwise(0L))
        .as("n_rows_scanned_bloom"),
      sum(col("_matched")).as("n_rows_matched"))
      .withColumn("read_amp_minmax_micro",
        amp(col("n_rows_scanned_minmax")))
      .withColumn("read_amp_bloom_micro",
        amp(col("n_rows_scanned_bloom")))
      .withColumn("n_files_unknown", lit(plan.nUnknown))
      .withColumn("bloom_fallback", lit(plan.fallbackFullScan))
  }

  /** Index-freshness drift audit: how far has a persisted index
    * drifted from the corpus it serves? Feed the corpus's id column
    * and the index's LIVE id read ([[graft.text.Bm25.bm25IndexIds]],
    * `readAnnIndex(...).select(id)`, `readPqIndex(...).codes`,
    * `readSignedIndex`) — one row:
    * `(n_corpus, n_index, n_missing, n_extra)` with `n_missing` =
    * corpus ids the index does not serve (an append fell behind) and
    * `n_extra` = index ids the corpus no longer has (a takedown or
    * dedup pass never reached the index — [[Takedown]] is the fix).
    * The number a serving deployment alerts on BEFORE retrieval
    * quality decays silently.
    *
    * Scale shape: ONE shuffle — both id sets tag-union and aggregate
    * by id (map-side partials absorb duplicates), then fold to one
    * row; no join, no broadcast assumption on either side.
    */
  def indexDriftReport(corpus: DataFrame, index: DataFrame,
      idCol: String): DataFrame = {
    val tagged = corpus
      .select(col(idCol), lit(1L).as("_c"), lit(0L).as("_i"))
      .unionByName(index
        .select(col(idCol), lit(0L).as("_c"), lit(1L).as("_i")))
    tagged.groupBy(col(idCol))
      .agg(max(col("_c")).as("_c"), max(col("_i")).as("_i"))
      .agg(sum(col("_c")).as("n_corpus"), sum(col("_i")).as("n_index"),
        sum(when(col("_c") === 1L && col("_i") === 0L, 1L)
          .otherwise(0L)).as("n_missing"),
        sum(when(col("_c") === 0L && col("_i") === 1L, 1L)
          .otherwise(0L)).as("n_extra"))
  }

  /** Per-column dataset profile — the statistics page for a snapshot:
    * null count, estimated distinct count (HLL++), and min/max (as
    * strings, so one schema fits every dtype) for every column, plus
    * approximate p50/p90/p99 for numeric columns. ONE aggregation
    * pass computes every statistic (constant sketch state per column
    * — the q12 hierarchical-rollup discipline); the wide 1-row result
    * melts to a row per column at the driver, which is schema-sized,
    * not data-sized.
    */
  def profile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val spark = df.sparkSession
    import spark.implicits._
    val fields = df.schema.fields.toSeq
    // backtick-quote the attribute name — a column called "a.b" must
    // not resolve as a struct-field path
    def c(name: String): Column =
      df.col("`" + name.replace("`", "``") + "`")
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      Seq(
        sum(when(c(f.name).isNull, 1L).otherwise(0L)).as(s"_n_$i"),
        approx_count_distinct(c(f.name)).as(s"_d_$i"),
        min(c(f.name)).cast("string").as(s"_mn_$i"),
        max(c(f.name)).cast("string").as(s"_mx_$i")) ++
        (f.dataType match {
          case _: NumericType => Seq(
            approx_percentile(c(f.name).cast("double"),
              array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
              .as(s"_p_$i"))
          case _ => Nil
        })
    }
    val row = df.agg(count(lit(1)).as("_total"), aggs: _*).head()
    val total = row.getAs[Long]("_total")
    fields.zipWithIndex.map { case (f, i) =>
      // over zero rows every sum/count aggregate is NULL — emit an
      // explicit all-empty profile instead of unboxing NPEs
      if (total == 0L)
        (f.name, f.dataType.simpleString, 0L, 0L, 0L,
          None: Option[String], None: Option[String],
          None: Option[Double], None: Option[Double],
          None: Option[Double])
      else {
        val ps = f.dataType match {
          case _: NumericType =>
            Option(row.getAs[scala.collection.Seq[Double]](s"_p_$i"))
              .map(_.toSeq).getOrElse(Nil)
          case _ => Nil
        }
        (f.name, f.dataType.simpleString, total,
          row.getAs[Long](s"_n_$i"),
          row.getAs[Long](s"_d_$i"),
          Option(row.getAs[String](s"_mn_$i")),
          Option(row.getAs[String](s"_mx_$i")),
          ps.lift(0), ps.lift(1), ps.lift(2))
      }
    }.toDF("column", "dtype", "n_rows", "n_nulls", "distinct_est",
      "min", "max", "p50", "p90", "p99")
  }

  /** Data-contract expectations (the dbt-test / Great-Expectations
    * shape): named boolean rules checked in ONE aggregation pass over
    * the frame — never a scan per rule — reported as violation counts
    * and rates. A NULL rule result counts as a VIOLATION (a range
    * check over a null value is a broken contract, not a pass), which
    * also makes `is not null` rules redundant-but-harmless to stack
    * with range rules. Integer counts + one division per rule, so the
    * report hash-gates (q147).
    */
  def expectations(
      df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one expectation")
    val aggs = rules.zipWithIndex.map { case ((_, p), i) =>
      sum(when(coalesce(p, lit(false)), 0L).otherwise(1L)).as(s"_v_$i")
    } :+ count(lit(1)).as("_n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.zipWithIndex.map { case ((name, _), i) =>
      row.select(lit(name).as("rule"),
        col(s"_v_$i").as("n_violations"), col("_n").as("n_rows"))
    }.reduce(_ union _)
    stacked.select(col("rule"), col("n_violations"), col("n_rows"),
      round(col("n_violations").cast("double") /
        col("n_rows").cast("double"), 6).as("violation_rate"))
  }

  /** One referential-integrity edge for [[fkOrphanAudit]]: child rows
    * whose `childKey` has no match in `parent`'s `parentKey`.
    */
  final case class FkEdge(
      name: String, child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column)

  /** Referential-integrity audit across foreign-key edges — the
    * orphan screen a lake runs before trusting joins: per edge, how
    * many child rows reference a parent key that does not exist
    * (NULL child keys are counted separately — a null FK is a
    * different contract question than a dangling one). Per edge the
    * parent contributes only its DISTINCT key column and the child
    * only its key column; the left join aggregates straight to one
    * row, so nothing wider than a key ever shuffles and the whole
    * audit is |edges| key-joins that run independently. Integer
    * counts + one division per edge, so the report hash-gates.
    *
    * Output (one row per edge): `edge`, `n_child`, `n_null_key`,
    * `n_orphan`, `orphan_rate` (orphans over non-null child keys;
    * NULL when the child has no non-null keys).
    */
  def fkOrphanAudit(edges: Seq[FkEdge]): DataFrame = {
    require(edges.nonEmpty, "need at least one FK edge")
    edges.map { e =>
      val ck = e.child.select(e.childKey.as("_k"))
      val pk = e.parent.select(e.parentKey.as("_p"))
        .filter(col("_p").isNotNull).distinct()
      ck.join(pk, col("_k") === col("_p"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("_k").isNull, 1L).otherwise(0L)).as("n_null_key"),
          sum(when(col("_k").isNotNull && col("_p").isNull, 1L)
            .otherwise(0L)).as("n_orphan"))
        .select(lit(e.name).as("edge"), col("n_child"),
          col("n_null_key"), col("n_orphan"),
          when(col("n_child") - col("n_null_key") === 0,
            lit(null).cast("double"))
            .otherwise(round(col("n_orphan").cast("double") /
              (col("n_child") - col("n_null_key")).cast("double"), 6))
            .as("orphan_rate"))
    }.reduce(_ unionByName _)
  }
}
