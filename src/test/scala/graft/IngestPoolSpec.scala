package graft

import org.apache.spark.sql.functions._
import graft.operators.{Diagnose, Ingest, Pool}
import graft.schema.Vintages

/** E2E ingest → pool → sample (SURVEY §5): both vintage CSVs through the
  * real ingest, partition layout, summary stats, per-file error isolation,
  * and exact-n seeded-sample determinism (A5).
  */
class IngestPoolSpec extends SparkSpec {

  /** Same schema, same rows (as multisets). */
  private def assertSameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("2018-vintage CSV ingests to a partitioned pool with exact summary") {
    val in = tmpDir("in2018")
    val poolRoot = tmpDir("pool2018")
    SyntheticTracking.writeCsv2018(spark, in, games = 1, plays = 2,
      frames = 10)
    val res = Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    assert(res.badFiles.isEmpty)
    // 1 game × 2 plays × 10 frames × 23 entities
    assert(res.summary == Ingest.Summary(460L, 1L, 2L, Some(10)))
    // Hive layout: season derived from gameId prefix
    val part = new java.io.File(s"$poolRoot/season=2023")
    assert(part.isDirectory)
    assert(part.listFiles().exists(_.getName.startsWith("gameId=")))
    val rep = Diagnose(spark, poolRoot)
    assert(rep.healthy && rep.parquetFiles > 0)
  }

  test("compactPool merges small files per partition, rows unchanged") {
    val poolRoot = tmpDir("poolcompact")
    val df = SyntheticTracking.df(spark, games = 2, plays = 2, frames = 5)
      .withColumn("season", lit(2023))
    // fragment: 8 files per partition directory
    df.repartition(8)
      .write.partitionBy("season", "gameId").mode("overwrite")
      .parquet(poolRoot)
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(poolRoot))
        .filter(_.getName.endsWith(".parquet"))
    }
    val before = files().size
    assert(before > 2) // genuinely fragmented
    val rowsBefore = spark.read.parquet(poolRoot).count()
    val statsBefore = Ingest.partitionStats(spark, poolRoot)
      .collect().map(r => r.getAs[Long]("gameId") ->
        r.getAs[Long]("n_rows")).toMap
    Ingest.compactPool(spark, poolRoot)
    assert(files().size == 2) // one file per gameId partition
    assert(spark.read.parquet(poolRoot).count() == rowsBefore)
    val statsAfter = Ingest.partitionStats(spark, poolRoot)
      .collect().map(r => r.getAs[Long]("gameId") ->
        r.getAs[Long]("n_rows")).toMap
    assert(statsAfter == statsBefore)
    // no staging leftovers next to the pool
    val parent = new java.io.File(poolRoot).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("_compact_staging")))
  }

  test("compactPool: pred scopes the rewrite; filesPerPartition > 1 splits") {
    val poolRoot = tmpDir("poolcompactscope")
    val df = SyntheticTracking.df(spark, games = 2, plays = 2, frames = 5)
      .withColumn("season", lit(2023))
    df.repartition(8)
      .write.partitionBy("season", "gameId").mode("overwrite")
      .parquet(poolRoot)
    def partFiles(): Map[String, Set[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(poolRoot))
        .filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getName)
        .map { case (d, fs) => d -> fs.map(_.getName).toSet }
    }
    val games = partFiles().keys.toSeq.sorted
    assert(games.size == 2)
    val (target, untouched) = (games.head, games.last)
    val targetId = target.stripPrefix("gameId=").toLong
    val before = partFiles()
    val rowsBefore = spark.read.parquet(poolRoot).count()
    // upper-case reference: Spark resolves columns case-insensitively,
    // so the partition-predicate guard must too
    Ingest.compactPool(spark, poolRoot,
      pred = col("GAMEID") === targetId, filesPerPartition = 2)
    val after = partFiles()
    // scoped partition rewritten into exactly 2 files (salt split works)
    assert(after(target).size == 2)
    // out-of-scope partition byte-layout untouched (same file names)
    assert(after(untouched) == before(untouched))
    assert(spark.read.parquet(poolRoot).count() == rowsBefore)
  }

  test("compactPool: crash recovery and row-level pred rejection") {
    val poolRoot = tmpDir("poolcompactrec")
    val df = SyntheticTracking.df(spark, games = 2, plays = 2, frames = 5)
      .withColumn("season", lit(2023))
    df.repartition(4)
      .write.partitionBy("season", "gameId").mode("overwrite")
      .parquet(poolRoot)
    val rowsBefore = spark.read.parquet(poolRoot).count()
    // a row-level predicate would silently delete rows — must be refused
    val err = intercept[IllegalArgumentException] {
      Ingest.compactPool(spark, poolRoot, pred = col("frameId") > 2)
    }
    assert(err.getMessage.contains("partition columns"))
    // reference-free non-deterministic predicates select rows too
    val err2 = intercept[IllegalArgumentException] {
      Ingest.compactPool(spark, poolRoot, pred = rand() < 0.5)
    }
    assert(err2.getMessage.contains("deterministic"))
    // simulate a crash mid-swap: a fully-written, marked staging dir
    // whose partitions were already deleted from the pool
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(poolRoot))
    val staging = new org.apache.hadoop.fs.Path(
      rootPath.getParent, "." + rootPath.getName + "_compact_staging")
    spark.read.parquet(poolRoot)
      .repartition(col("season"), col("gameId"))
      .write.partitionBy("season", "gameId").mode("overwrite")
      .parquet(staging.toString)
    val mOut = fs.create(
      new org.apache.hadoop.fs.Path(staging, "_SWAP_READY"), true)
    mOut.write("season,gameId".getBytes("UTF-8")) // writer records depth
    mOut.close()
    val aGame = fs.listStatus(
      new org.apache.hadoop.fs.Path(rootPath, "season=2023"))
      .filter(_.isDirectory).head.getPath
    fs.delete(aGame, true) // the crash deleted dest before renaming
    assert(spark.read.parquet(poolRoot).count() < rowsBefore)
    // next run must first finish the marked swap — no rows lost
    Ingest.compactPool(spark, poolRoot)
    assert(spark.read.parquet(poolRoot).count() == rowsBefore)
    assert(!fs.exists(staging))
  }

  test("game-keyed pool query prunes to one partition (plan-level)") {
    val poolRoot = tmpDir("poolprune")
    val df = SyntheticTracking.df(spark, games = 3, plays = 2, frames = 5)
    graft.operators.Ingest.writePool(df, poolRoot)
    // partition discovery may recover gameId as int — go through Number
    val games = spark.read.parquet(poolRoot)
      .select("gameId").distinct().collect()
      .map(_.getAs[Number](0).longValue).sorted
    val one = spark.read.parquet(poolRoot)
      .filter(col("gameId") === games.head)
    // partition pruning must reach the scan: only the one gameId
    // directory's files are read (the reference's O(one file) fetch)
    val scans = one.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.nonEmpty)
    one.collect() // populate scan metrics
    val allFiles = spark.read.parquet(poolRoot).inputFiles.length
    val readFiles = scans.head.metrics("numFiles").value
    assert(readFiles < allFiles,
      s"pruned scan read $readFiles of $allFiles files")
  }

  test("2026 snake_case vintage resolves through aliases") {
    val in = tmpDir("in2026")
    val poolRoot = tmpDir("pool2026")
    SyntheticTracking.writeCsv2026(spark, in, games = 1, plays = 2,
      frames = 10)
    val res = Ingest.run(spark, in, poolRoot, Vintages.bdb2026)
    assert(res.badFiles.isEmpty && res.summary.rows == 460L)
    val pool = Pool(spark, poolRoot).df
    // canonical camelCase names after normalize, partition cols recovered
    assert(Seq("playId", "nflId", "frameId", "team", "x", "y")
      .forall(pool.columns.contains))
    assert(pool.columns.contains("gameId"))
  }

  test("mixed 2018+2026 vintages union in one batch (null-filled gaps)") {
    val in = tmpDir("inmixed")
    val poolRoot = tmpDir("poolmixed")
    // two drops of different vintages land in the same input dir
    SyntheticTracking.writeCsv2018(spark, s"$in/a", games = 1, plays = 2,
      frames = 10)
    SyntheticTracking.writeCsv2026(spark, s"$in/b", games = 1, plays = 2,
      frames = 10)
    for (d <- Seq("a", "b")) {
      val dir = new java.io.File(s"$in/$d")
      dir.listFiles().filter(_.getName.endsWith(".csv")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$in/$d-$i.csv"))
        }
    }
    val res = Ingest.run(spark, in, poolRoot, Vintages.bdb2026)
    assert(res.badFiles.isEmpty)
    assert(res.summary.rows == 920L) // both files landed
    val pool = Pool(spark, poolRoot).df
    // 2026-only columns exist, null-filled for the 2018-vintage rows
    assert(pool.columns.contains("playerRole"))
  }

  test("feature-store side-car: write feature=<name>, join back on key") {
    val in = tmpDir("infeat")
    val poolRoot = tmpDir("poolfeat")
    val featRoot = tmpDir("features")
    SyntheticTracking.writeCsv2018(spark, in, games = 1, plays = 2,
      frames = 10)
    Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    val pool = Pool(spark, poolRoot).df
    val key = Seq("gameId", "playId", "frameId")
    val feature = graft.operators.FeatureStore.nearestDistance(
      pool, key, "nflId", "x", "y")
    graft.operators.FeatureStore.writeFeature(feature, featRoot, "nearest")
    val back = graft.operators.FeatureStore.readFeature(spark, featRoot,
      "nearest")
    val joined = graft.operators.FeatureStore.withFeatures(
      pool, back, key :+ "nflId")
    assert(joined.filter(col("nearest_dist").isNotNull).count() > 0)
    assert(joined.count() == pool.count()) // left join preserves the pool
  }

  test("partial-bad batch: the broken file is skipped, good files land") {
    val in = tmpDir("inpartial")
    val poolRoot = tmpDir("poolpartial")
    SyntheticTracking.writeCsv2018(spark, s"$in/good", games = 1, plays = 2,
      frames = 10)
    new java.io.File(s"$in/good").listFiles()
      .filter(_.getName.endsWith(".csv")).zipWithIndex.foreach {
        case (f, i) => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$in/good-$i.csv"))
      }
    // a csv whose header has none of the schema's columns → normalize
    // drops the partition key → file isolated as bad
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(in, "junk.csv"),
      "foo,bar\n1,2\n3,4\n")
    val res = Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    assert(res.badFiles.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("junk.csv"))
    assert(res.summary.rows == 460L) // the good file fully landed
  }

  test("malformed rows inside a good CSV are tolerated (PERMISSIVE)") {
    val in = tmpDir("inperm")
    val poolRoot = tmpDir("poolperm")
    // hand-written CSV: one clean row, one row with a garbage gameId and
    // a short row — tolerant casts null the garbage, the file still lands
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(in, "drop.csv"),
      """gameId,playId,nflId,frameId,team,x,y
        |2023090001,50,40000,1,home,10.0,20.0
        |NOT_A_NUMBER,50,40001,2,home,10.5,20.5
        |2023090001,50,40002,3,home,11.0
        |""".stripMargin)
    val res = Ingest.run(spark, in, poolRoot, Vintages.canonical)
    assert(res.badFiles.isEmpty)
    // all three rows survive; the garbage gameId row is dropped only at
    // the partitioned write (null partition key), not at read
    assert(res.summary.rows == 3L)
    assert(Pool(spark, poolRoot).df.count() == 2L) // null-key row skipped
  }

  test("all-bad input warns and returns empty, not a crash") {
    val in = tmpDir("inbad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(in, "broken.csv"), "")
    // empty CSV → load throws → isolated; batch yields empty summary
    val res = Ingest.run(spark, in, tmpDir("poolbad"), Vintages.bdb2018)
    assert(res.summary.rows == 0L)
  }

  test("re-ingesting a game upserts (dynamic partition overwrite)") {
    val in = tmpDir("inup")
    val poolRoot = tmpDir("poolup")
    SyntheticTracking.writeCsv2018(spark, in, 1, 2, 10)
    Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    val before = Pool(spark, poolRoot).df.count()
    Ingest.run(spark, in, poolRoot, Vintages.bdb2018) // same game again
    assert(Pool(spark, poolRoot).df.count() == before) // replaced, not doubled
  }

  test("PoolCommit: marker-committed per-game upsert — the commit is " +
    "one marker PUT; a crash between stage and marker loses nothing") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import graft.operators.PoolCommit
    val root = tmpDir("poolmarker")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val df = SyntheticTracking.df(spark, games = 2, plays = 2,
      frames = 5)
    val games = df.select("gameId").distinct().collect()
      .map(_.getLong(0)).sorted
    PoolCommit.write(df, root)
    val total = df.count()
    assert(PoolCommit.read(spark, root).count() == total)
    def markers() = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("_pool_marker.")).sorted
    assert(markers().length == 1) // superseded markers GC'd

    // per-game upsert: game A shrinks to half its frames, B untouched
    val gA = games.head
    val updA = df.filter(col("gameId") === gA && col("frameId") <= 2)
    PoolCommit.write(updA, root)
    val r2 = PoolCommit.read(spark, root)
    // counts materialize NOW: a read is a snapshot of the generations
    // live at call time — a later commit GCs them (documented)
    val r2Count = r2.count()
    assert(r2.filter(col("gameId") === gA).count() == updA.count())
    assert(r2.filter(col("gameId") === games.last).count() ==
      df.filter(col("gameId") === games.last).count())
    assert(markers().length == 1)

    // crash sim 1: a write died between its generation stage and its
    // marker PUT — the orphan generation is invisible to readers and
    // the next writer's heal removes it; no committed row is touched
    graft.operators.Ingest.withSeason(df).write
      .partitionBy("season", "gameId").parquet(s"$root/gen=77")
    assert(PoolCommit.read(spark, root).count() == r2Count)
    PoolCommit.heal(fs, root)
    assert(!fs.exists(new Path(s"$root/gen=77")))
    assert(PoolCommit.read(spark, root).count() == r2Count)

    // crash sim 2: a torn marker (no footer — non-atomic PUT died
    // mid-write) is ignored; the previous marker keeps ruling
    val torn = fs.create(
      new Path(root, "_pool_marker.0000000000000000078"), false)
    torn.write("season=2023/gameId=999:77\n".getBytes("UTF-8"))
    torn.close()
    assert(PoolCommit.read(spark, root).count() == r2Count)
    // the writer path heals the torn marker away and commits cleanly
    PoolCommit.write(updA, root)
    assert(PoolCommit.read(spark, root).count() == r2Count)
    assert(markers().length == 1)

    // partition-column contract: season/gameId survive as partition
    // columns (per-game pruning), the protocol's gen column is dropped
    val cols = PoolCommit.read(spark, root).columns.toSet
    assert(cols.contains("season") && cols.contains("gameId"))
    assert(!cols.contains("gen"))
  }

  test("PoolCommit snapshots: read-at-gen time travel, retention " +
    "window honored by writer GC, aged-out snapshot fails loudly") {
    import org.apache.hadoop.fs.FileSystem
    import graft.operators.PoolCommit
    val root = tmpDir("poolsnap")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val df = SyntheticTracking.df(spark, games = 2, plays = 2,
      frames = 5)
    val games = df.select("gameId").distinct().collect()
      .map(_.getLong(0)).sorted
    val gA = games.head

    // gen 1: full pool; gen 2: game A shrinks — both retained
    PoolCommit.write(df, root, retain = 3)
    val fullCount = df.count()
    val updA = df.filter(col("gameId") === gA && col("frameId") <= 2)
    PoolCommit.write(updA, root, retain = 3)
    assert(PoolCommit.listGenerations(fs, root) == Seq(1L, 2L))
    // read-at-1 returns the PRE-upsert rows; read-at-2 == current
    assert(PoolCommit.read(spark, root, 1L).count() == fullCount)
    assert(PoolCommit.read(spark, root, 1L)
      .filter(col("gameId") === gA).count() ==
      df.filter(col("gameId") === gA).count())
    val cur = PoolCommit.read(spark, root).count()
    assert(PoolCommit.read(spark, root, 2L).count() == cur)

    // gen 3 under a SMALLER per-call retain: the PERSISTED window (3)
    // rules — retention is monotone and lives in the marker, so one
    // careless call can no longer collapse it
    PoolCommit.write(updA, root, retain = 2)
    assert(PoolCommit.listGenerations(fs, root) == Seq(1L, 2L, 3L))
    assert(PoolCommit.read(spark, root, 1L).count() == fullCount)
    assert(PoolCommit.read(spark, root, 3L).count() == cur)

    // a fourth write (default retain) ages the OLDEST generation out
    // of the 3-snapshot window; the aged-out read fails loudly
    PoolCommit.write(updA, root)
    assert(PoolCommit.listGenerations(fs, root) == Seq(2L, 3L, 4L))
    assert(PoolCommit.read(spark, root).count() == cur)
    val err = intercept[IllegalArgumentException] {
      PoolCommit.read(spark, root, 1L)
    }
    assert(err.getMessage.contains("gen=1") &&
      err.getMessage.contains("retain"))
  }

  test("samplePlays: exact n, deterministic under seed, all frames join back") {
    val in = tmpDir("insamp")
    val poolRoot = tmpDir("poolsamp")
    // frames = 30 so the fixture's frame-25 "pass_forward" event exists
    SyntheticTracking.writeCsv2018(spark, in, games = 2, plays = 5,
      frames = 30)
    Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    val pool = Pool(spark, poolRoot)

    // partition-column type inference may narrow gameId (2023090000 fits
    // an int) — read numerically, not by static type
    def keysOf(seed: Long) = pool.sampleKeys(3, Nil, seed)
      .collect().map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].intValue)).toSet

    val k1 = keysOf(42L)
    assert(k1.size == 3)
    assert(keysOf(42L) == k1)       // repeatable
    assert(keysOf(7L) != k1 || keysOf(7L) == k1) // other seed runs fine
    // join-back brings every frame of each sampled play
    val sampled = pool.samplePlays(3, Nil, 42L)
    assert(sampled.count() == 3L * 30 * 23)
    // degenerate: n larger than universe → all 10 plays
    assert(pool.sampleKeys(99, Nil, 42L).count() == 10L)
    // filters flow through (F1)
    val filtered = pool.samplePlays(99,
      Seq(col("event") === "pass_forward"), 42L)
    assert(filtered.select("frameId").distinct().count() == 1L)
  }

  test("upsert: newest version wins, updates win ties, null versions " +
    "lose, exact duplicates collapse") {
    import spark.implicits._
    val base = Seq(
      (1L, 10L, "old"),   // newer update → replaced
      (2L, 10L, "keep"),  // older update → survives
      (3L, 10L, "tie_b"), // same version → updates side wins
      (4L, 10L, "only_base"),
      (6L, 10L, "dup"))   // exact duplicate in updates → one row
      .toDF("k", "v", "payload")
    val updates = Seq(
      (1L, 20L, "new"),
      (2L, 5L, "stale"),
      (3L, 10L, "tie_u"),
      (5L, 10L, "only_update"),
      (6L, 10L, "dup"))
      .toDF("k", "v", "payload")
    val got = Ingest.upsert(base, updates, Seq("k"), "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    assert(got === Map(
      1L -> (20L, "new"), 2L -> (10L, "keep"), 3L -> (10L, "tie_u"),
      4L -> (10L, "only_base"), 5L -> (10L, "only_update"),
      6L -> (10L, "dup")))

    // null version only wins against another null (then side decides)
    val nb = Seq((1L, Option(5L), "base"), (2L, Option.empty[Long], "base"))
      .toDF("k", "v", "payload")
    val nu = Seq((1L, Option.empty[Long], "upd"), (2L, Option.empty[Long], "upd"))
      .toDF("k", "v", "payload")
    val gotN = Ingest.upsert(nb, nu, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(gotN === Map(1L -> "base", 2L -> "upd"))
  }

  test("cdcApply: a tombstone WINS an equal-version insert/update in " +
    "the same change batch (MERGE convention), loses to a newer one") {
    import spark.implicits._
    val base = Seq(
      (1L, 10L, "b1"), (2L, 10L, "b2"), (3L, 10L, "b3"))
      .toDF("k", "v", "payload")
    val changes = Seq(
      // key 1: D and U at the SAME version in one batch → the delete
      // must win (previously 'U' > 'D' lexicographics kept the row)
      (1L, 20L, "u1", "U"), (1L, 20L, "ignored", "D"),
      // key 2: delete at v15, then an I at HIGHER v20 → insert wins
      (2L, 15L, "ignored", "D"), (2L, 20L, "i2", "I"),
      // key 3: plain delete
      (3L, 20L, "ignored", "D"),
      // key 4: insert and delete at same version, never in base → gone
      (4L, 20L, "i4", "I"), (4L, 20L, "ignored", "D"))
      .toDF("k", "v", "payload", "op")
    val got = Ingest.cdcApply(base, changes, Seq("k"), "op", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    assert(got === Map(2L -> (20L, "i2")))
  }

  test("upsertPartitioned rewrites only the touched partitions") {
    import spark.implicits._
    val root = tmpDir("upsert_pool")
    Seq((1L, 1L, "a", "p1"), (2L, 1L, "b", "p1"), (3L, 1L, "c", "p2"))
      .toDF("k", "v", "payload", "part")
      .write.partitionBy("part").mode("overwrite").parquet(root)
    val p2File = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "part=p2")).toArray.toSeq
    val updates = Seq((2L, 2L, "B2", "p1"), (9L, 1L, "new", "p1"))
      .toDF("k", "v", "payload", "part")
    Ingest.upsertPartitioned(spark, root, updates, Seq("k"), "v",
      Seq("part"))
    val after = spark.read.parquet(root)
      .collect().map(r => r.getAs[Long]("k") ->
        r.getAs[String]("payload")).toMap
    assert(after === Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "new"))
    // untouched partition keeps its physical files (no rewrite)
    val p2After = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "part=p2")).toArray.toSeq
    assert(p2After === p2File)
  }

  test("manifest: per-file row and null counts, stable schema hash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("manifest").toString
    Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None))
      .toDF("id", "v")
      .repartition(2, col("id")).write.mode("overwrite").parquet(root)
    val m = graft.operators.Diagnose.manifest(spark, root).collect()
    assert(m.length == 2) // one row per physical file
    assert(m.map(_.getAs[Long]("n_rows")).sum == 4L)
    assert(m.map(_.getAs[Long]("nulls_v")).sum == 2L)
    assert(m.forall(_.getAs[Long]("nulls_id") == 0L))
    // schema hash is identical across files and runs
    assert(m.map(_.getAs[String]("schema_hash")).distinct.length == 1)
    val again = graft.operators.Diagnose.manifest(spark, root)
      .head().getAs[String]("schema_hash")
    assert(again == m.head.getAs[String]("schema_hash"))
  }

  test("profile: one pass yields per-column nulls/distinct/minmax and " +
    "numeric percentiles") {
    import spark.implicits._
    val df = Seq((1L, Some(10.0), "a"), (2L, None, "b"),
      (3L, Some(30.0), "b"), (4L, Some(20.0), "a"))
      .toDF("id", "v", "s")
    val p = graft.operators.Diagnose.profile(df)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("id", "v", "s"))
    assert(p("v").getAs[Long]("n_nulls") == 1L)
    assert(p("s").getAs[Long]("n_nulls") == 0L)
    assert(p("id").getAs[Long]("distinct_est") == 4L)
    assert(p("s").getAs[Long]("distinct_est") == 2L)
    assert(p("id").getAs[String]("min") == "1" &&
      p("id").getAs[String]("max") == "4")
    // numeric columns carry percentiles; strings do not
    assert(p("v").getAs[Double]("p50") == 20.0)
    assert(p("s").isNullAt(p("s").fieldIndex("p50")))
    assert(p.values.forall(_.getAs[Long]("n_rows") == 4L))
  }

  test("profile survives an empty frame (null aggregates -> zero rows " +
    "profile) and dotted column names (no struct-path resolution)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val pe = graft.operators.Diagnose.profile(empty)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(pe.keySet == Set("id", "s"))
    assert(pe.values.forall(r => r.getAs[Long]("n_rows") == 0L &&
      r.getAs[Long]("n_nulls") == 0L &&
      r.isNullAt(r.fieldIndex("min"))))
    // a column literally named "a.b" must profile as itself
    val dotted = Seq((1L, 2.0), (3L, 4.0)).toDF("a.b", "v")
    val pd = graft.operators.Diagnose.profile(dotted)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(pd.keySet == Set("a.b", "v"))
    assert(pd("a.b").getAs[Long]("distinct_est") == 2L)
    assert(pd("a.b").getAs[String]("min") == "1")
  }

  test("expectations: one-pass violation counts; NULL rule results " +
    "count as violations") {
    import spark.implicits._
    val df = Seq(
      (Option(1L), "A"), (Option(60L), "N"),
      (None: Option[Long], "R"), (Option(5L), "X"))
      .toDF("qty", "flag")
    val got = graft.operators.Diagnose.expectations(df, Seq(
      "qty_in_range" -> col("qty").between(1, 50), // 60 fails, null fails
      "flag_enum" -> col("flag").isin("A", "N", "R"))) // X fails
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("qty_in_range") == ((2L, 4L, 0.5)), got)
    assert(got("flag_enum") == ((1L, 4L, 0.25)), got)
  }

  test("DocPool: bucketed marker-committed corpus — removeIds " +
    "rewrites ONLY the touched buckets, survivors byte-identical, " +
    "time travel serves the pre-takedown snapshot") {
    import graft.operators.DocPool
    import spark.implicits._
    val root = tmpDir("docpool") + "/corpus"
    val docs = (0L until 200L).map(i =>
      (i, s"document body $i", s"src${i % 3}")).toDF("doc_id", "text",
      "source")
    DocPool.write(docs, root, "doc_id", buckets = 8, retain = 2)
    assert(DocPool.read(spark, root).count() == 200L)
    assert(DocPool.hasPool(spark, root))
    // layout is frozen: a full rewrite with different buckets throws
    intercept[IllegalArgumentException] {
      DocPool.write(docs, root, "doc_id", buckets = 16)
    }
    // membership read is partition-pruned and exact
    val probe = Seq(5L, 17L, 999L).toDF("doc_id")
    assert(DocPool.readForIds(spark, root, probe, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(5L, 17L))
    // remove a batch: survivors exact, and buckets NOT hit by the
    // batch keep their ORIGINAL gen=1 files (bytes never rewritten)
    val targets = Seq(5L, 17L, 42L, 999L).toDF("doc_id")
    val targetBuckets = Seq(5L, 17L, 42L, 999L)
      .map(i => spark.range(1).select(
        DocPool.partOf(lit(i), 8)).head().getLong(0)).toSet
    val untouched = (0L until 8L).toSet -- targetBuckets
    assert(untouched.nonEmpty, "fixture must leave untouched buckets")
    def filesIn(dir: String): Set[String] = {
      val f = new java.io.File(dir)
      if (!f.isDirectory) Set.empty
      else f.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .toSet
    }
    val beforeFiles = untouched.map(b =>
      b -> filesIn(s"$root/gen=1/part=$b")).toMap
    DocPool.removeIds(spark, targets, root, "doc_id", retain = 2)
    val survivors = DocPool.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 200L).toSet -- Set(5L, 17L, 42L))
    untouched.foreach { b =>
      assert(filesIn(s"$root/gen=1/part=$b") == beforeFiles(b),
        s"untouched bucket $b must keep its original files")
    }
    // the removed ids no longer read back through the pruned path
    assert(DocPool.readForIds(spark, root, targets, "doc_id")
      .count() == 0L)
    // time travel: the retained pre-takedown snapshot still holds them
    assert(DocPool.listGenerations(spark, root) == Seq(1L, 2L))
    assert(DocPool.read(spark, root, 1L).count() == 200L)
    // removing ids that are all absent is a harmless no-op
    DocPool.removeIds(spark, Seq(5L).toDF("doc_id"), root, "doc_id",
      retain = 2)
    assert(DocPool.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet == survivors)
  }

  test("DocPool: a bucket emptied by removeIds drops from the " +
    "marker; reads stay healthy") {
    import graft.operators.DocPool
    import spark.implicits._
    val root = tmpDir("docpool-empty") + "/corpus"
    // 16 docs over 4 buckets; remove EVERY doc in one bucket
    val docs = (0L until 16L).map(i => (i, s"d$i")).toDF("doc_id",
      "text")
    DocPool.write(docs, root, "doc_id", buckets = 4)
    val byBucket = (0L until 16L).groupBy(i =>
      spark.range(1).select(DocPool.partOf(lit(i), 4)).head()
        .getLong(0))
    val (victim, victimIds) = byBucket.head
    DocPool.removeIds(spark, victimIds.toDF("doc_id"), root, "doc_id")
    val left = DocPool.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 16L).toSet -- victimIds)
    assert(DocPool.readForIds(spark, root,
      victimIds.toDF("doc_id"), "doc_id").count() == 0L)
  }

  test("DocPool.upsert: replaces re-ingested ids, adds new ones, " +
    "rewrites only the touched buckets, rejects in-batch duplicates") {
    import graft.operators.DocPool
    import spark.implicits._
    val root = tmpDir("docpool-upsert") + "/corpus"
    val v1 = (0L until 64L).map(i => (i, s"v1 doc $i"))
      .toDF("doc_id", "text")
    DocPool.write(v1, root, "doc_id", buckets = 8, retain = 2)
    // upsert: 4 replacements + 2 brand-new ids
    val batch = Seq((3L, "v2 doc 3"), (17L, "v2 doc 17"),
      (40L, "v2 doc 40"), (41L, "v2 doc 41"),
      (100L, "v2 doc 100"), (101L, "v2 doc 101"))
      .toDF("doc_id", "text")
    val touchedBuckets = Seq(3L, 17L, 40L, 41L, 100L, 101L)
      .map(i => spark.range(1)
        .select(DocPool.partOf(lit(i), 8)).head().getLong(0)).toSet
    val untouched = (0L until 8L).toSet -- touchedBuckets
    assert(untouched.nonEmpty, "fixture must leave untouched buckets")
    def filesIn(dir: String): Set[String] = {
      val f = new java.io.File(dir)
      if (!f.isDirectory) Set.empty
      else f.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .toSet
    }
    val beforeFiles = untouched.map(b =>
      b -> filesIn(s"$root/gen=1/part=$b")).toMap
    DocPool.upsert(batch, root, "doc_id", retain = 2)
    val got = DocPool.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 66)
    assert(got(3L) == "v2 doc 3" && got(100L) == "v2 doc 100")
    assert(got(4L) == "v1 doc 4") // un-upserted id untouched
    untouched.foreach { b =>
      assert(filesIn(s"$root/gen=1/part=$b") == beforeFiles(b),
        s"untouched bucket $b must keep its original files")
    }
    // time travel: the retained pre-upsert snapshot is all-v1
    assert(DocPool.read(spark, root, 1L)
      .filter(col("text").startsWith("v2")).count() == 0L)
    // in-batch duplicate ids have no deterministic winner: loud
    intercept[IllegalArgumentException] {
      DocPool.upsert(Seq((7L, "a"), (7L, "b")).toDF("doc_id", "text"),
        root, "doc_id")
    }
  }

  test("DocPool retention persists in the marker: write with " +
    "retain=3, later default-retain lifecycle calls keep the window") {
    import graft.operators.DocPool
    import spark.implicits._
    val root = tmpDir("docpool-ret") + "/corpus"
    val docs = (0L until 32L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    DocPool.write(docs, root, "doc_id", buckets = 4, retain = 3)
    // a default-retain upsert and removeIds — the old per-call
    // minimum would have collapsed the window to 1 immediately
    DocPool.upsert(Seq((100L, "new")).toDF("doc_id", "text"), root,
      "doc_id")
    DocPool.removeIds(spark, Seq(5L).toDF("doc_id"), root, "doc_id")
    assert(DocPool.listGenerations(spark, root) == Seq(1L, 2L, 3L))
    assert(DocPool.read(spark, root, 1L).count() == 32L)
    assert(DocPool.read(spark, root).count() == 32L) // +1 new -1 gone
  }

  test("tracking reads resolve on the driver: samplePlays starts no " +
    "eager job, and neither an ML batch nor a play fetch runs a " +
    "footer-inference (`parquet at`) job") {
    import graft.operators.{PlayOps, PoolCommit, Tensor}
    val in = tmpDir("indriver")
    val poolRoot = tmpDir("pooldriver")
    val marker = tmpDir("markerdriver") + "/pool"
    SyntheticTracking.writeCsv2018(spark, in, games = 2, plays = 8,
      frames = 6)
    Ingest.run(spark, in, poolRoot, Vintages.bdb2018)
    PoolCommit.write(Pool(spark, poolRoot).df, marker)
    val (sample, eager) = jobsOf(Pool(spark, poolRoot)
      .samplePlays(16, Seq(col("season") === 2023), 3L))
    assert(eager.isEmpty, eager.mkString("; "))
    val (batch, batchJobs) = jobsOf(
      Tensor.toTensor(sample, Tensor.defaultFeatures, 6, 23).collect())
    assert(batch.length == 16)
    val (frames, fetchJobs) = jobsOf(PlayOps.fetchPlay(
      PoolCommit.read(spark, marker), 2023090001L, 100).collect())
    assert(frames.map(_.getAs[Int]("frameId")).toSeq ==
      (1 to 6).flatMap(Seq.fill(23)(_)))
    val names = (batchJobs ++ fetchJobs).flatten
    assert(names.nonEmpty && !names.exists(_.startsWith("parquet at")),
      names.mkString("; "))
  }

  test("DocPool reads resolve on the driver: latest and gen snapshots " +
    "equal the plain inferring read after write, upsert and removeIds, " +
    "and run no footer-inference (`parquet at`) job") {
    import graft.operators.DocPool
    import spark.implicits._
    val root = tmpDir("docdriver") + "/corpus"
    // the live dirs marker `gen` names, read the way inference reads them
    def inferred(gen: Long) = {
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(root, f"_doc_marker.$gen%019d"))
      val dirs = text.split("\n").filter(l =>
        l.contains(":") && !l.startsWith("#")).map { l =>
        val Array(part, g) = l.split(":")
        s"$root/gen=$g/$part"
      }
      spark.read.option("basePath", root).parquet(dirs.toSeq: _*)
        .drop("gen", "part")
    }
    def check(gen: Long): Unit = {
      assertSameRows(DocPool.read(spark, root), inferred(gen))
      (1L to gen).foreach(g =>
        assertSameRows(DocPool.read(spark, root, g), inferred(g)))
      val (rows, jobs) = jobsOf(
        (DocPool.read(spark, root).collect(),
          DocPool.read(spark, root, 1L).collect()))
      assert(rows._1.nonEmpty && rows._2.nonEmpty)
      val names = jobs.flatten
      assert(names.nonEmpty && !names.exists(_.startsWith("parquet at")),
        names.mkString("; "))
    }
    val docs = (0L until 40L).map(i => (i, s"body $i", i % 3 == 0))
      .toDF("doc_id", "text", "flag")
    DocPool.write(docs, root, "doc_id", buckets = 4, retain = 3)
    check(1L)
    DocPool.upsert(Seq((3L, "body 3 v2", false), (99L, "fresh", true))
      .toDF("doc_id", "text", "flag"), root, "doc_id", retain = 3)
    check(2L)
    DocPool.removeIds(spark, Seq(5L, 6L).toDF("doc_id"), root,
      "doc_id", retain = 3)
    check(3L)
    assert(DocPool.read(spark, root).count() == 39L)
  }

  test("driver-side schema resolution: Pool.df declares the first " +
    "file's footer schema and reads what inference reads after a fresh " +
    "ingest, a same-schema drop, compactPool, upsertPartitioned and " +
    "mixed-vintage drops that lost a required column") {
    val root = tmpDir("poolfooter") + "/pool" // absent until ingest
    def drop(write: String => Unit): Unit = {
      val in = tmpDir("dropfooter")
      write(in)
      Ingest.run(spark, in, root, Vintages.bdb2018)
    }
    def noY(game: Long)(in: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(in, "a-no-y.csv"),
        s"""gameId,playId,nflId,frameId,team,x
          |$game,50,40000,1,home,10.0
          |$game,50,40001,1,away,11.0
          |""".stripMargin)
    def asInferred(): Unit = {
      assert(Pool.inferredSchema(spark, Seq(root)).nonEmpty)
      assertSameRows(Pool(spark, root).df, spark.read.parquet(root))
    }

    drop(SyntheticTracking.writeCsv2018(spark, _, games = 2, plays = 2,
      frames = 5))
    val data = Pool.inferredSchema(spark, Seq(root)).get
    // data columns only: the partition columns stay with path inference
    assert(data.fieldNames.contains("playId") &&
      !data.fieldNames.exists(Set("gameId", "season")))
    asInferred()

    drop(SyntheticTracking.writeCsv2018(spark, _, games = 1, plays = 3,
      frames = 5))
    asInferred()

    val beforeCompact = spark.read.parquet(root).localCheckpoint()
    Ingest.compactPool(spark, root)
    asInferred()
    assertSameRows(Pool(spark, root).df, beforeCompact)

    // game 2023090000 moves one yard downfield
    val g0 = col("gameId") === 2023090000L
    val before = Pool(spark, root).df.localCheckpoint()
    val updates = before.filter(g0).withColumn("x", col("x") + 1.0f)
      .localCheckpoint()
    Ingest.upsertPartitioned(spark, root, updates,
      Seq("gameId", "playId", "nflId", "frameId"), "x",
      Seq("season", "gameId"))
    asInferred()
    assertSameRows(Pool(spark, root).df,
      before.filter(!g0).unionByName(updates))

    // a 2024 game without `y` sorts after the 2023 files: `y` stays
    drop { in =>
      SyntheticTracking.writeCsv2018(spark, in, games = 1, plays = 1,
        frames = 2)
      noY(2024090001L)(in)
    }
    asInferred()
    assert(Pool(spark, root).df.filter(col("season") === 2024 &&
      col("y").isNull).count() == 2L)
    // a 2022 game without `y` sorts FIRST: inference loses `y` for the
    // whole pool, and so does the declared read
    drop(noY(2022090001L))
    asInferred()
    assert(!Pool(spark, root).df.columns.contains("y"))
  }

  test("driver-side schema resolution follows Spark's file order and " +
    "infers whenever it cannot match inference exactly") {
    import spark.implicits._
    def same(root: String): Unit =
      assertSameRows(Pool.read(spark, root), spark.read.parquet(root))
    // `k=1-2/...` sorts before `k=1/...` ('-' < '/'): the first file's
    // schema is the one without `b`
    val order = tmpDir("footerorder")
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$order/k=1")
    Seq(2L).toDF("a").write.parquet(s"$order/k=1-2")
    assert(Pool.inferredSchema(spark, Seq(order)).map(_.fieldNames.toSeq)
      .contains(Seq("a")))
    same(order)
    // a data column named like a partition directory: declaring it would
    // move it, so inference keeps it
    val overlap = tmpDir("footeroverlap")
    Seq((1L, 7)).toDF("a", "k").write.parquet(s"$overlap/k=7")
    assert(Pool.inferredSchema(spark, Seq(overlap)).isEmpty)
    same(overlap)
    // a summary file is what inference reads first
    val summary = tmpDir("footersummary")
    Seq(1L).toDF("a").write.parquet(s"$summary/k=1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(summary, "_common_metadata"), "")
    assert(Pool.inferredSchema(spark, Seq(summary)).isEmpty)
    // field metadata and nested types come through the footer unchanged
    val nested = tmpDir("footernested")
    Seq((1L, Seq(1.5f), "t")).toDF("a", "v", "s")
      .select(col("a"), col("v"), struct(col("s")).as("st",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("lang", "en").build()))
      .write.parquet(s"$nested/k=1")
    assert(Pool.inferredSchema(spark, Seq(nested)).nonEmpty)
    same(nested)
    assert(Pool.read(spark, nested).schema("st").metadata
      .getString("lang") == "en")
    // schema merging reads every footer: resolution steps aside
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Pool.inferredSchema(spark, Seq(order)).isEmpty)
      same(order)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("PoolCommit snapshot reads declare the first footer's schema and " +
    "read what inference reads, whichever generation holds the " +
    "narrower schema") {
    import org.apache.hadoop.fs.Path
    import graft.operators.PoolCommit
    val df = SyntheticTracking.df(spark, games = 2, plays = 2, frames = 5)
    val gA = col("gameId") === 2023090000L
    def inferred(root: String) = {
      val m = PoolCommit.readMarker(
        new Path(root).getFileSystem(spark.sessionState.newHadoopConf()),
        root)
      spark.read.option("basePath", root).parquet(m.parts.toSeq.map {
        case (p, g) => s"$root/gen=$g/$p" }: _*).drop("gen")
    }
    // gen=1 (first in path order) is wide, gen=2 lost `route`
    val wide = tmpDir("markerwide") + "/pool"
    PoolCommit.write(df, wide)
    PoolCommit.write(df.filter(gA).drop("route"), wide)
    assert(PoolCommit.read(spark, wide).columns.contains("route"))
    assertSameRows(PoolCommit.read(spark, wide), inferred(wide))
    // gen=1 is narrow: inference, and the declared read, lose `route`
    val narrow = tmpDir("markernarrow") + "/pool"
    PoolCommit.write(df.drop("route"), narrow)
    PoolCommit.write(df.filter(gA), narrow)
    assert(!PoolCommit.read(spark, narrow).columns.contains("route"))
    assertSameRows(PoolCommit.read(spark, narrow), inferred(narrow))
  }

  test("compactPool recovery: the retry of a crashed compaction by " +
    "`season` finishes the swap and reads `gameId` back from the files") {
    import org.apache.hadoop.fs.Path
    val in = tmpDir("inrecover")
    val root = tmpDir("poolrecover") + "/pool"
    SyntheticTracking.writeCsv2018(spark, in, games = 2, plays = 2,
      frames = 5)
    Ingest.run(spark, in, root, Vintages.bdb2018)
    val before = spark.read.parquet(root).localCheckpoint()
    // a compaction by `season` alone crashed after committing its
    // staging marker: `gameId` is a data column in the staged files
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = fs.makeQualified(new Path(root))
    val staging = new Path(rootPath.getParent,
      "." + rootPath.getName + "_compact_staging")
    before.write.partitionBy("season").parquet(staging.toString)
    val out = fs.create(new Path(staging, "_SWAP_READY"), true)
    try out.write("season".getBytes("UTF-8")) finally out.close()
    Ingest.compactPool(spark, root, partitionCols = Seq("season"))
    assert(!fs.exists(staging))
    assert(Pool.inferredSchema(spark, Seq(root))
      .exists(_.fieldNames.contains("gameId")))
    assertSameRows(Pool(spark, root).df, spark.read.parquet(root))
    assertSameRows(Pool(spark, root).df.select(before.columns.map(col)
      .toSeq: _*), before)
  }

  /** An ingested pool re-compacted by `season` alone: its rows before
    * that compaction, and the files it left in the season directories.
    */
  private def seasonOnlyPool(name: String) = {
    val in = tmpDir(s"in$name")
    val root = tmpDir(s"pool$name") + "/pool"
    SyntheticTracking.writeCsv2018(spark, in, games = 2, plays = 2,
      frames = 5)
    Ingest.run(spark, in, root, Vintages.bdb2018)
    val before = spark.read.parquet(root).localCheckpoint()
    def files(dir: java.io.File) = Option(dir.listFiles()).toSeq.flatten
    def seasonFiles() = files(new java.io.File(root))
      .filter(_.isDirectory).flatMap(files)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    Ingest.compactPool(spark, root, partitionCols = Seq("season"))
    assert(seasonFiles().nonEmpty)
    (root, before, () => seasonFiles())
  }

  test("compactPool goes back to a deeper layout: after a compaction " +
    "by `season`, the default compaction leaves no season-level files") {
    val (root, before, seasonFiles) = seasonOnlyPool("deepen")
    Ingest.compactPool(spark, root)
    assert(seasonFiles().isEmpty)
    val after = spark.read.parquet(root)
    assert(after.columns.toSet == before.columns.toSet)
    assertSameRows(after.select(before.columns.map(col).toSeq: _*), before)
    assertSameRows(Pool(spark, root).df, after)
  }

  test("compactPool recovery of a crashed deepening: the retry finishes " +
    "the swap at the recorded depth, with or without the season files " +
    "already gone, and loses no rows") {
    import org.apache.hadoop.fs.Path
    for (partlySwapped <- Seq(false, true)) {
      val (root, before, seasonFiles) =
        seasonOnlyPool(s"deepenrec$partlySwapped")
      val fs = new Path(root).getFileSystem(
        spark.sessionState.newHadoopConf())
      val rootPath = fs.makeQualified(new Path(root))
      val staging = new Path(rootPath.getParent,
        "." + rootPath.getName + "_compact_staging")
      // a default compaction crashed after committing its marker
      before.write.partitionBy("season", "gameId").parquet(staging.toString)
      val out = fs.create(new Path(staging, "_SWAP_READY"), true)
      try out.write("season,gameId".getBytes("UTF-8")) finally out.close()
      if (partlySwapped) {
        // ... after clearing a season directory's files and moving one
        // of its leaves in: the other leaf exists only in staging
        val season = fs.listStatus(rootPath).filter(_.isDirectory).head
          .getPath
        fs.listStatus(season).filter(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet"))
          .foreach(s => fs.delete(s.getPath, false))
        val staged = fs.listStatus(new Path(staging, season.getName))
          .filter(_.isDirectory)
        assert(staged.length > 1)
        assert(fs.rename(staged.head.getPath,
          new Path(season, staged.head.getPath.getName)))
        assert(spark.read.parquet(root).count() < before.count())
      }
      Ingest.compactPool(spark, root)
      assert(!fs.exists(staging))
      assert(seasonFiles().isEmpty)
      val after = spark.read.parquet(root)
      assertSameRows(after.select(before.columns.map(col).toSeq: _*),
        before)
    }
  }

  test("compactPool refuses to deepen the layout with a pred that " +
    "cannot select whole season directories, and leaves the pool as " +
    "it was") {
    val (root, before, seasonFiles) = seasonOnlyPool("deepenpred")
    val shallow = seasonFiles()
    // the pred reads gameId, which a season directory's path does not fix
    val gameId = before.select("gameId").head().get(0)
    val err = intercept[IllegalArgumentException] {
      Ingest.compactPool(spark, root, pred = col("gameId") === gameId)
    }
    assert(err.getMessage.contains("above the season,gameId leaf depth"))
    // a pred that skips a season would leave it at the old depth
    val err2 = intercept[IllegalArgumentException] {
      Ingest.compactPool(spark, root, pred = col("season") === 1900)
    }
    assert(err2.getMessage.contains("pred skips"))
    assert(seasonFiles() == shallow)
    assertSameRows(spark.read.parquet(root), before.select(
      spark.read.parquet(root).columns.map(col).toSeq: _*))
  }

  test("Ingest.run globs the input through the file system that owns " +
    "it, not the default one") {
    val in = tmpDir("inscheme")
    SyntheticTracking.writeCsv2018(spark, in, games = 1, plays = 2,
      frames = 10)
    SchemeLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val res = Ingest.run(spark, SchemeLocalFileSystem.path(in),
      tmpDir("poolscheme"), Vintages.bdb2018)
    assert(res.badFiles.isEmpty)
    assert(res.summary == Ingest.Summary(460L, 1L, 2L, Some(10)))
  }
}
