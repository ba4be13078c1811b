package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.SchemaConfig

/** CSV → normalized, Hive-partitioned parquet pool (SURVEY.md §2.1 S1/S2/S5,
  * §3.1; reference `/root/reference/src/ingest.py:89-115`).
  *
  * Layout: `poolRoot/season=YYYY/gameId=<id>/part-*.parquet` with
  * `season = substring(gameId, 1, 4)` derived exactly like the reference
  * (`src/ingest.py:74`). Re-ingesting a game replaces only that game's
  * partition: dynamic partition overwrite ≡ the reference's fixed-filename
  * upsert (`src/ingest.py:82-87`).
  *
  * The pool keeps no schema file: readers ([[Pool.df]], [[compactPool]],
  * [[upsertPartitioned]]) take the data schema from the first data
  * file's footer on the driver ([[Pool.read]]), so a pool of any age
  * resolves without a Spark inference job.
  *
  * Scale notes: `ingestAll` reads the whole input glob as ONE job — at
  * 100 TB that is the right shape (massively parallel scan, no driver loop;
  * the partitioned write is shuffle-free map-side work). `run` keeps the
  * reference's per-file error isolation (`src/ingest.py:98-115`) for messy
  * drops where one corrupt CSV must not fail the batch — file counts there
  * are small, so the loop is driver-cheap.
  */
object Ingest {

  /** The four summary stats the reference prints after ingest
    * (`src/ingest.py:46-57`), computed in a single aggregation pass.
    */
  final case class Summary(
      rows: Long, games: Long, plays: Long, maxFrame: Option[Int])

  final case class Result(summary: Summary, badFiles: Seq[String])

  /** Schema-less (all-string) CSV read: one pass over the data. The
    * reference's `infer_schema_length=10000` exists only to get types that
    * `Normalize` recasts anyway; inferring here would add a full extra scan
    * per ingest — at 100 TB that doubles I/O for nothing. `Normalize`'s
    * per-column casts produce the typed frame in the same scan stage.
    */
  def loadCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE") // reference: ignore_errors=True
      .csv(path)

  def loadAndNormalize(
      spark: SparkSession, path: String, config: SchemaConfig): DataFrame =
    Normalize(loadCsv(spark, path), config)

  /** Pool compaction (the lake's OPTIMIZE): continuous per-game upserts
    * and streaming micro-batches leave many small files per partition,
    * and at 100 TB file-open overhead starts to dominate scans. Rewrites
    * the partitions selected by `pred` into `filesPerPartition` files
    * each — row content unchanged, only the file layout compacts;
    * unselected partitions are untouched.
    *
    * Crash-safe staging: the compacted layout is first written to a
    * sibling staging directory (a full distributed job reading the live
    * pool — nothing is held in executor memory), a `_SWAP_READY` marker
    * commits it, then each staged partition directory is swapped into
    * the pool with a delete+rename. A failure during the write leaves
    * the pool byte-identical (unmarked staging is discarded); a failure
    * mid-swap leaves every partition either fully old or fully staged,
    * and the NEXT run first finishes the marked swap — the staged copy
    * is never deleted while it is the only copy of a partition.
    *
    * `pred` may reference ONLY partition columns (enforced): a
    * row-level predicate would rewrite each touched partition with just
    * its matching rows, silently deleting the rest.
    *
    * A compaction may deepen the layout (`Seq("season")` back to the
    * default `(season, gameId)`): the old rows then sit as data files
    * ABOVE the new leaf depth, and Spark reads data files at two depths
    * as conflicting partition columns. The swap deletes those files
    * from each staged leaf's ancestor directories before the leaf lands
    * (recovery at the recorded depth does the same), so they must be
    * staged in full: every directory above the leaf depth that holds
    * data files must be selected, by a `pred` over the columns its own
    * path fixes (enforced; a violation leaves the pool untouched). A
    * crash inside such a swap may leave an ancestor without its old
    * files before its staged leaves land; the next run finishes it.
    *
    * `filesPerPartition` is the file count for the LARGEST selected
    * partition; smaller partitions get proportionally fewer (never
    * zero). Implemented with `maxRecordsPerFile` on a one-task-per-
    * directory distribution — repartitioning on (partitionCols, salt)
    * cannot guarantee a count (hash can collide salt values into one
    * task; range bounds are sample-dependent), while a per-task record
    * cap rolls files deterministically.
    */
  def compactPool(
      spark: SparkSession, root: String,
      pred: Column = lit(true),
      partitionCols: Seq[String] = Seq("season", "gameId"),
      filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val fs = LiveRead.fs(spark, root)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    val staging = new org.apache.hadoop.fs.Path(
      rootPath.getParent, "." + rootPath.getName + "_compact_staging")
    val marker = new org.apache.hadoop.fs.Path(staging, "_SWAP_READY")

    def leafDirs(p: org.apache.hadoop.fs.Path,
        depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toIndexedSeq.filter(_.isDirectory)
        .flatMap(s => leafDirs(s.getPath, depth - 1))
    def under(base: org.apache.hadoop.fs.Path,
        rel: Seq[String]): org.apache.hadoop.fs.Path =
      rel.foldLeft(base)(new org.apache.hadoop.fs.Path(_, _))
    // Spark reads the entries not `_`/`.`-prefixed: files are data
    def visible(dir: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toIndexedSeq.filterNot { s =>
        s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith(".")
      }
    // the swap depth comes from the marker (the run that WROTE the
    // staging dir), never from this call's partitionCols: recovering a
    // 2-level staging at depth 1 would delete+replace whole season
    // directories that were never staged
    def swapStagedIn(depth: Int): Unit = {
      val cleared = scala.collection.mutable.Set.empty[Seq[String]]
      leafDirs(staging, depth).foreach { staged =>
        val rel = staging.toUri.relativize(staged.toUri).getPath
        val dest = new org.apache.hadoop.fs.Path(rootPath, rel)
        // a shallower layout's data files in the leaf's ancestors were
        // staged in full (checked before the marker): drop them first
        val parts = rel.split("/").filter(_.nonEmpty).toSeq
        parts.indices.map(parts.take).filter(cleared.add).foreach(a =>
          visible(under(rootPath, a)).filter(_.isFile)
            .foreach(f => fs.delete(f.getPath, false)))
        fs.mkdirs(dest.getParent)
        fs.delete(dest, true)
        if (!fs.rename(staged, dest))
          sys.error(s"compactPool: failed to move $staged -> $dest")
      }
      fs.delete(staging, true)
    }

    // crash recovery BEFORE reading the pool: a marked staging dir is a
    // fully-written compaction whose swap was interrupted — some
    // partitions may exist ONLY there, so finish that swap first (at
    // the depth recorded in the marker). Unmarked staging is an
    // incomplete write; the pool is still complete, discard it.
    if (fs.exists(marker)) {
      val recorded = {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
      val depth = recorded.split(",").count(_.nonEmpty)
      // never guess: recovering at the wrong depth deletes directories
      // that were never staged. The marker is renamed into place after
      // its content is written, so an empty one means manual tampering.
      require(depth > 0,
        s"compactPool: unreadable _SWAP_READY marker at $marker — " +
          "refusing to guess the swap depth; inspect the staging dir")
      swapStagedIn(depth)
    } else fs.delete(staging, true)

    val src = Pool.read(spark, root)
    val selected = src.filter(pred)
    // the unresolved Column is opaque (Spark 4 ColumnNodeExpression) —
    // read the references off the ANALYZED filter instead
    val predRefs = selected.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        // case-insensitive: Spark resolves columns case-insensitively by
        // default, so col("GAMEID") === 1 is a valid partition predicate
        val partLower = partitionCols.map(_.toLowerCase).toSet
        val refs = f.condition.references.map(_.name).toSet
        require(refs.forall(r => partLower.contains(r.toLowerCase)),
          s"compactPool pred may reference only partition columns " +
            s"$partitionCols (a row-level predicate would delete the " +
            s"non-matching rows of every touched partition); got $refs")
        // a reference-free predicate must be a constant: rand()-style
        // non-deterministic or per-file predicates select rows, not
        // partitions, and would silently delete the rest
        require(f.condition.deterministic &&
          (refs.nonEmpty || f.condition.foldable),
          "compactPool pred must be a deterministic partition-column " +
            s"predicate; got ${f.condition.sql}")
        refs.map(_.toLowerCase)
    }.flatten.toSet
    // directories above the new leaf depth that hold data files (a
    // shallower layout being deepened), as paths relative to the root
    def shallowDataDirs(dir: org.apache.hadoop.fs.Path, rel: Seq[String],
        depth: Int): Seq[Seq[String]] =
      if (depth == 0) Nil
      else {
        val (dirs, files) = visible(dir).partition(_.isDirectory)
        (if (files.nonEmpty) Seq(rel) else Nil) ++ dirs.flatMap(d =>
          shallowDataDirs(d.getPath, rel :+ d.getPath.getName, depth - 1))
      }
    val shallow = shallowDataDirs(rootPath, Nil, partitionCols.size)
    // the swap deletes these files, so each must be staged whole: pred
    // constant over the directory (it reads only columns the path fixes)
    shallow.foreach { rel =>
      val fixed = rel.map(_.takeWhile(_ != '=').toLowerCase).toSet
      require(predRefs.subsetOf(fixed),
        s"compactPool: ${under(rootPath, rel)} holds data files above " +
          s"the ${partitionCols.mkString(",")} leaf depth; a pred over " +
          s"${predRefs.mkString(",")} cannot select them whole")
    }
    val distributed =
      selected.repartition(partitionCols.map(col).toIndexedSeq: _*)
    // cap rows per file so the largest partition rolls into exactly
    // `filesPerPartition` files; one extra tiny aggregation job, and
    // compaction is an offline maintenance op where that is cheap
    val maxRecordsPerFile: Long =
      if (filesPerPartition == 1) 0L // unlimited: one file per task
      else {
        val maxRows = selected
          .groupBy(partitionCols.map(col).toIndexedSeq: _*)
          .count().agg(max("count")).head().get(0) match {
            case null => 0L
            case n: Number => n.longValue
          }
        if (maxRows == 0L) 0L
        else (maxRows + filesPerPartition - 1) / filesPerPartition
      }

    distributed.write
      .partitionBy(partitionCols.toIndexedSeq: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(staging.toString)
    // ... and selected: a deepening that skips one leaves it at the old
    // depth beside the new one
    shallow.find(rel => !fs.exists(under(staging, rel))).foreach { rel =>
      fs.delete(staging, true)
      throw new IllegalArgumentException(s"compactPool: pred skips " +
        s"${under(rootPath, rel)}, which holds data files above the " +
        s"${partitionCols.mkString(",")} leaf depth; a compaction that " +
        "deepens the layout must select every such directory")
    }
    // commit point: write the marker CONTENT first, then rename into the
    // marker path — the marker is never visible empty or half-written
    val markerTmp = new org.apache.hadoop.fs.Path(
      staging, "._SWAP_READY.tmp")
    val out = fs.create(markerTmp, true)
    try out.write(partitionCols.mkString(",").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(markerTmp, marker))
      sys.error(s"compactPool: failed to commit marker $marker")
    swapStagedIn(partitionCols.size)
  }

  /** Per-partition statistics (the manifest a table format would keep):
    * row count and frame range per (season, gameId) directory — the
    * input to compaction decisions and partition-pruning sanity checks.
    * One distributive aggregation over partition + frame columns only.
    */
  def partitionStats(
      spark: SparkSession, root: String,
      partitionCols: Seq[String] = Seq("season", "gameId"),
      frameCol: String = "frameId"): DataFrame =
    Pool.read(spark, root)
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col(frameCol)).as("min_frame"),
        max(col(frameCol)).as("max_frame"))

  /** Latest-record-wins upsert: merge `updates` into `base` keeping,
    * per key, the row with the highest `versionCol` — on a version tie
    * the UPDATES side wins (the MERGE semantic every mutable-key lake
    * needs: CDC replay, re-crawled documents, corrected labels).
    *
    * Implemented as union → one hash aggregation taking
    * `max(struct(version, side, payload…))` — struct ordering compares
    * fields left to right, so the max IS the deterministic argmax with
    * the tie-break baked in, and remaining payload fields break any
    * version+side tie (exact duplicates collapse to one row). No
    * window (a per-key sort would rank every historical version; the
    * hash agg keeps one running max per key), no join, map-side
    * partials absorb hot keys. A NULL version sorts below every
    * non-null one (it only wins when all versions are null), and rows
    * whose version ties are resolved by side carry no hidden
    * nondeterminism — unlike `max_by`, which documents ties as
    * arbitrary.
    *
    * Scale shape (100 TB base, small-to-large updates): one shuffle of
    * base∪updates on the key; at 1000 executors this is the same cost
    * as the exact-dedup pass. When updates are partition-sparse, prune
    * first ([[upsertPartitioned]]) so the untouched partitions never
    * enter the shuffle at all.
    */
  def upsert(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(base.columns.sameElements(updates.columns),
      s"base/updates schemas differ: ${base.columns.toSeq} vs " +
        s"${updates.columns.toSeq}")
    val payload = base.columns.filterNot(
      c => keyCols.contains(c) || c == versionCol).toSeq
    def sided(df: DataFrame, side: Int): DataFrame =
      df.select(keyCols.map(col) ++
        Seq(struct((col(versionCol).as("_v") +: lit(side).as("_side") +:
          payload.map(col)): _*).as("_m")): _*)
    sided(base, 0).unionByName(sided(updates, 1))
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("_m")).as("_m"))
      .select(keyCols.map(col) ++ Seq(col("_m._v").as(versionCol)) ++
        payload.map(c => col(s"_m.$c").as(c)): _*)
      .select(base.columns.map(col).toSeq: _*)
  }

  /** CDC apply — [[upsert]] extended with DELETE semantics (the full
    * MERGE INTO / change-data-capture contract a lakehouse table
    * needs): `changes` carries the base schema plus an op column
    * ('I'/'U'/'D'); per key the LATEST row wins by
    * `(version, side, tombstone-rank, op, payload…)` struct max
    * (changes outrank the base at equal version; at equal version a
    * DELETE outranks an insert/update — the MERGE convention, a
    * tombstone wins its version rather than losing to 'U' > 'D'
    * lexicographics; op and payload break residual ties
    * deterministically — unlike `max_by`, which documents ties as
    * arbitrary), and a winning tombstone drops the key entirely.
    * Same scale shape as [[upsert]]: ONE hash aggregation over
    * base∪changes keyed on the merge key — no window, no join,
    * map-side partials absorb hot keys; tombstoned rows vanish in the
    * final filter without a separate anti-join pass.
    */
  def cdcApply(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      opCol: String, versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "cdcApply needs at least one key column")
    val baseCols = base.columns.toSeq
    require(changes.columns.toSet == (baseCols :+ opCol).toSet,
      s"changes must be base schema + $opCol: got " +
        s"${changes.columns.toSeq} vs $baseCols")
    val payload = baseCols.filterNot(
      c => keyCols.contains(c) || c == versionCol)
    def sided(df: DataFrame, side: Int, op: Column): DataFrame =
      df.select(keyCols.map(col) ++
        Seq(struct((col(versionCol).as("_v") +: lit(side).as("_side") +:
          when(op === "D", 1).otherwise(0).as("_del") +:
          op.as("_op") +: payload.map(col)): _*).as("_m")): _*)
    sided(base, 0, lit("K"))
      .unionByName(sided(changes, 1, col(opCol)))
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("_m")).as("_m"))
      .filter(col("_m._op") =!= "D")
      .select(keyCols.map(col) ++ Seq(col("_m._v").as(versionCol)) ++
        payload.map(c => col(s"_m.$c").as(c)): _*)
      .select(baseCols.map(col): _*)
  }

  /** Partition-pruned upsert-in-place on a Hive-partitioned pool: only
    * the partitions PRESENT IN `updates` are read, merged via
    * [[upsert]], and swapped back with dynamic partition overwrite —
    * a 100 TB pool taking a 10 GB CDC batch rewrites gigabytes, not
    * terabytes. The partition values are collected from the (small)
    * updates side; `spark.sql.sources.partitionOverwriteMode=dynamic`
    * confines the overwrite to exactly those leaves.
    */
  def upsertPartitioned(spark: SparkSession, poolRoot: String,
      updates: DataFrame, keyCols: Seq[String], versionCol: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "upsertPartitioned needs partitions")
    val parts = updates.select(partitionCols.map(col): _*)
      .distinct().collect()
    require(parts.nonEmpty, "updates carry no partition values")
    val touched = parts.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val base = Pool.read(spark, poolRoot).filter(touched)
    // the write overwrites partitions it is also reading from —
    // materialize the merge first so no task reads a leaf the committer
    // is replacing (same staged-swap discipline as compactPool)
    val merged = upsert(
      base.select(updates.columns.map(col).toSeq: _*), updates,
      keyCols, versionCol).localCheckpoint()
    merged.write
      .partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(poolRoot)
  }

  /** JSON-Lines source (one object per line — the format `Export.jsonl`
    * writes and LLM corpora ship in). PERMISSIVE like the CSV path:
    * malformed lines land in a corrupt-record column instead of failing
    * the batch. Splittable, so a 100 TB corpus scans in parallel.
    */
  def loadJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .json(path)

  /** One-row summary frame (generic column names so the same aggregation
    * shape is gate-checkable over the driver tables — see SparkEntry q12).
    *
    * Implemented as a hierarchical rollup — group to the (game, play)
    * grain first, then aggregate the (small) group set — instead of
    * multiple `countDistinct`s in one Aggregate, which Catalyst plans as
    * an Expand that multiplies every input row per distinct aggregate
    * (3× the scan through the shuffle at 100 TB). Null-key rows count
    * toward n_rows but not n_plays/n_games, matching countDistinct.
    */
  def summaryDf(
      df: DataFrame,
      gameCol: String = "gameId",
      playCol: String = "playId",
      frameCol: String = "frameId"): DataFrame =
    df.groupBy(col(gameCol), col(playCol))
      .agg(count(lit(1)).as("_n"), max(col(frameCol)).as("_mf"))
      .agg(
        // coalesce: sum over zero groups is null; empty input reports 0
        // rows like the old count(*) formulation did
        coalesce(sum(col("_n")), lit(0L)).as("n_rows"),
        countDistinct(col(gameCol)).as("n_games"),
        count(when(col(gameCol).isNotNull && col(playCol).isNotNull, 1))
          .as("n_plays"),
        max(col("_mf")).as("max_frame"))

  /** 100 TB-tier summary: sketch-based distincts (HyperLogLog++,
    * `relativeSD` default 5%) — one pass, no Expand plan, constant state
    * per partition. Use when the exact counts of [[summaryDf]] are not
    * worth its extra aggregation phases.
    */
  def summaryApproxDf(
      df: DataFrame,
      gameCol: String = "gameId",
      playCol: String = "playId",
      frameCol: String = "frameId"): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      approx_count_distinct(col(gameCol)).as("n_games"),
      approx_count_distinct(concat_ws(":", col(gameCol), col(playCol)))
        .as("n_plays"),
      max(col(frameCol)).as("max_frame"))

  def summarize(df: DataFrame): Summary = {
    val row = summaryDf(df).head()
    Summary(row.getLong(0), row.getLong(1), row.getLong(2),
      // max() is null on an empty pool; frameId may arrive as int or long
      Option(row.get(3)).map(_.asInstanceOf[Number].intValue))
  }

  /** Season partition key derived from the gameId prefix
    * (`src/ingest.py:74`: `season = str(game_id)[:4]`).
    */
  def withSeason(df: DataFrame): DataFrame =
    df.withColumn(
      "season", substring(col("gameId").cast("string"), 1, 4).cast("int"))

  def writePool(df: DataFrame, poolRoot: String): Unit =
    withSeason(df)
      .filter(col("gameId").isNotNull) // reference skips null group keys
      .write
      .partitionBy("season", "gameId")
      .option("partitionOverwriteMode", "dynamic") // per-game upsert
      .mode("overwrite")
      .parquet(poolRoot)

  /** Whole-directory ingest as one distributed job (the 100 TB path).
    * The input is scanned exactly once: the summary is computed from the
    * written pool (already columnar + partitioned), not by re-reading CSV.
    */
  def ingestAll(
      spark: SparkSession,
      inputGlob: String,
      poolRoot: String,
      config: SchemaConfig,
      dryRun: Boolean = false): Summary = {
    val normalized = loadAndNormalize(spark, inputGlob, config)
    if (dryRun) summarize(normalized)
    else {
      writePool(normalized, poolRoot)
      summarize(Pool.read(spark, poolRoot))
    }
  }

  /** Per-file ingest with error isolation (reference behaviour:
    * one bad CSV warns and is skipped, the rest land).
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      poolRoot: String,
      config: SchemaConfig,
      dryRun: Boolean = false): Result = {
    // the file system that owns inputDir, not the default one
    val fs = LiveRead.fs(spark, inputDir)
    val files = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$inputDir/*.csv"))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no CSV files found in $inputDir")

    val bad = Vector.newBuilder[String]
    val frames = files.flatMap { f =>
      try {
        val df = loadAndNormalize(spark, f, config)
        // a file whose normalize lost the partition key can never land in
        // the pool (the reference hits the same wall as a KeyError in its
        // per-file try/except and skips the file, src/ingest.py:99,114-115)
        if (!df.columns.contains("gameId"))
          sys.error("no gameId column after normalize")
        Some(df)
      } catch {
        case e: Exception =>
          System.err.println(s"[ingest] skipping $f: ${e.getMessage}")
          bad += f
          None
      }
    }
    if (frames.isEmpty) {
      // reference warns and continues past every bad file (src/ingest.py:
      // 99,114-115); an all-bad batch is an empty result, not a crash
      Result(Summary(0L, 0L, 0L, None), bad.result())
    } else {
      // files of different vintages may have dropped different required
      // columns in Normalize — union by name, null-filling the gaps
      val all = frames.reduceLeft(_.unionByName(_, allowMissingColumns = true))
      if (!dryRun) writePool(all, poolRoot)
      Result(summarize(all), bad.result())
    }
  }
}
