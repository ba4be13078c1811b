package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generic partition-mapping marker protocol [[PoolCommit]] (the
  * tracking pool, `season=S/gameId=G` partitions) and [[DocPool]] (the
  * document corpus, `part=P` hash buckets) both commit through — one
  * implementation, two partition layouts:
  *
  * {{{
  *   root/gen=<N>/<part path>/part-*.parquet    write-once
  *   root/<markerPrefix><N zero-padded>         write-once
  * }}}
  *
  * One write-once marker object names, per partition, the generation
  * directory that is live (`<part path>:gen` lines + an `end` footer —
  * a footer-less marker is torn and ignored). A write stages its
  * partitions under the fresh `gen=N+1` directory, then commits with
  * ONE marker PUT: every partition the write touched now points at
  * N+1, every other keeps its previous generation. A crash before the
  * PUT leaves the new generation unreferenced (readers never see it;
  * the writer's next heal deletes it); a crash after the PUT is a
  * completed commit. Readers resolve through the newest complete
  * marker and never delete anything — GC is writer-only. Single-writer
  * protocol: concurrent writers collide loudly on the `errorifexists`
  * generation write or the write-once marker create.
  *
  * A marker is UTF-8 lines: `#<key>:<value>` meta lines, then the
  * `<part path>:<gen>` lines, then `end`:
  *
  * {{{
  *   #ret:<N>          persisted retention window
  *   #sid:<B>          highest applied stream batch id
  *   season=2023/gameId=2023090700:4
  *   end
  * }}}
  *
  * Unknown `#` keys are ignored, so older readers read newer markers.
  *
  * @param markerPrefix marker file prefix, e.g. `"_pool_marker."`
  * @param levels       partition-directory name prefixes, outermost
  *                     first, e.g. `Seq("season=", "gameId=")` or
  *                     `Seq("part=")`
  */
private[graft] final class MarkerPool(
    markerPrefix: String, levels: Seq[String]) {

  /** Live mapping: partition relative path → its live generation,
    * plus the PERSISTED retention window (`#ret:` line — a property
    * of the TABLE, carried marker to marker and monotone under
    * [[heal]], the [[LiveMarker]] contract) and the highest applied
    * stream batch id (`#sid:` line; -1 = never streamed) — recorded
    * in the SAME PUT as the data mapping, so a streaming writer's
    * exactly-once skip decision commits atomically with its rows.
    */
  final case class Marker(gen: Long, parts: Map[String, Long],
      retain: Int = 1, applied: Long = -1L)

  /** Parse a marker; None when torn (no footer) or malformed. */
  private def parse(fs: FileSystem, p: Path): Option[Marker] =
    MarkerFile.read(fs, p, markerPrefix).flatMap { case (gen, lines) =>
      try {
        // '#'-prefixed lines are protocol metadata, not partitions —
        // absent in pre-round-14 markers (defaults apply)
        val (meta, partLines) = lines.partition(_.startsWith("#"))
        val metaMap = meta.map { l =>
          val cut = l.indexOf(':')
          require(cut > 0, s"bad marker meta line: $l")
          l.substring(1, cut) -> l.substring(cut + 1)
        }.toMap
        Some(Marker(gen, partLines.map { l =>
          val cut = l.lastIndexOf(':')
          require(cut > 0, s"bad marker line: $l")
          l.substring(0, cut) -> l.substring(cut + 1).toLong
        }.toMap,
          metaMap.getOrElse("ret", "1").toInt,
          metaMap.getOrElse("sid", "-1").toLong))
      }
      catch { case _: RuntimeException => None }
    }

  def readMarker(fs: FileSystem, root: String): Marker =
    MarkerFile.list(fs, new Path(root), markerPrefix).iterator
      .flatMap(parse(fs, _))
      .nextOption()
      .getOrElse(Marker(0L, Map.empty))

  /** One marker PUT. The persisted retention is monotone: the marker
    * records `max(m.retain, retain)` — a lifecycle call can RAISE the
    * table's window but never silently collapse one a previous writer
    * persisted.
    */
  def writeMarker(fs: FileSystem, root: String, m: Marker,
      retain: Int = 1): Unit = {
    val eff = math.max(m.retain, retain)
    MarkerFile.put(fs, root, markerPrefix, m.gen,
      Seq(s"#ret:$eff", s"#sid:${m.applied}") ++
        m.parts.toSeq.sortBy(_._1).map { case (p, g) => s"$p:$g" })
  }

  /** The partition relative paths a generation directory holds —
    * walks `levels` (e.g. `season=* / gameId=*`, or just `part=*`).
    */
  def partsUnder(fs: FileSystem, genDir: Path): Seq[String] = {
    def walk(dir: Path, lvl: Int): Seq[String] =
      fs.listStatus(dir).map(_.getPath).toSeq
        .filter(_.getName.startsWith(levels(lvl)))
        .flatMap { p =>
          if (lvl == levels.size - 1) Seq(p.getName)
          else walk(p, lvl + 1).map(c => s"${p.getName}/$c")
        }
    if (!fs.exists(genDir)) Seq.empty else walk(genDir, 0)
  }

  /** WRITER-ONLY GC: torn markers, markers older than the retention
    * window, and every partition directory no RETAINED marker
    * references. `retain` = how many committed snapshots stay
    * readable (1 = only the ruling one). Idempotent; must never run
    * beside an in-flight commit (single-writer protocol) — readers
    * never GC at all.
    */
  def heal(fs: FileSystem, root0: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(root0)
    if (!fs.exists(root)) return
    // MarkerFile.list sorts newest-first; keep the newest `eff` COMPLETE
    // markers (torn ones never count toward the window), where eff =
    // max(caller's retain, the window the ruling marker persists)
    val all = MarkerFile.list(fs, root, markerPrefix)
      .flatMap(p => parse(fs, p).map(m => p -> m))
    val eff = math.max(retain,
      all.headOption.map(_._2.retain).getOrElse(1))
    val kept = all.take(eff)
    val keptPaths = kept.map(_._1.getName).toSet
    val liveParts = kept.flatMap(_._2.parts).toSet // (part, gen) pairs
    MarkerFile.list(fs, root, markerPrefix).foreach { p =>
      if (!keptPaths.contains(p.getName))
        MarkerFile.delete(fs, p)
    }
    MarkerFile.gcGenerations(fs, root, liveParts, partsUnder(fs, _))
  }

  def listGenerations(fs: FileSystem, root: String): Seq[Long] =
    MarkerFile.list(fs, new Path(root), markerPrefix)
      .flatMap(parse(fs, _)).map(_.gen).sorted

  def markerAt(fs: FileSystem, root: String, gen: Long,
      hint: String): Marker =
    MarkerFile.list(fs, new Path(root), markerPrefix)
      .flatMap(parse(fs, _)).find(_.gen == gen)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot gen=$gen under $root; on disk: " +
          s"${listGenerations(fs, root).mkString(",")} " +
          s"(aged out? $hint)"))

  /** The rows a marker's live partitions hold. `drop` = partition
    * columns hidden from the result (the protocol's `gen` always;
    * layouts whose partition key is synthetic drop it too).
    */
  def readSnapshot(spark: SparkSession, root: String, m: Marker,
      drop: Seq[String]): DataFrame = {
    require(m.parts.nonEmpty,
      s"no committed pool under $root (guard with hasPool)")
    readParts(spark, root, m.parts.toSeq.sortBy(_._1)).drop(drop: _*)
  }

  /** The rows of `parts` (relative path → gen), with the protocol's
    * `gen` and the layout's partition columns.
    */
  def readParts(spark: SparkSession, root: String,
      parts: Seq[(String, Long)]): DataFrame = {
    val dirs = parts.map { case (p, g) => s"$root/gen=$g/$p" }
    Pool.reader(spark, dirs).option("basePath", root).parquet(dirs: _*)
  }
}

/** Object-store-safe commit protocol for the tracking-data pool — the
  * [[graft.streaming.MarkerStateStore]] discipline lifted from
  * streaming state to the pool's per-game upsert
  * ([[Ingest.writePool]]'s dynamic partition overwrite assumes an
  * atomic rename committer, which S3-style stores don't have: a crash
  * mid-overwrite can leave a game partition half-deleted,
  * half-rewritten, and concurrently visible in both states). The
  * protocol itself (write-once generations + ONE marker PUT, torn
  * markers ignored, writer-only GC with a retention window) lives in
  * [[MarkerPool]]; this object binds it to the pool's
  * `season=S/gameId=G` layout and per-game upsert semantics.
  */
object PoolCommit {

  private val pool =
    new MarkerPool("_pool_marker.", Seq("season=", "gameId="))

  private[graft] def readMarker(fs: FileSystem,
      root: String): MarkerPool#Marker =
    pool.readMarker(fs, root)

  /** WRITER-ONLY GC — see [[MarkerPool.heal]]. Retained superseded
    * snapshots serve [[listGenerations]] + the snapshot-read overload
    * of [[read]] (audit/rollback: "what did the pool look like before
    * this takedown batch?").
    */
  def heal(fs: FileSystem, poolRoot: String, retain: Int = 1): Unit =
    pool.heal(fs, poolRoot, retain)

  /** The committed snapshot generations still on disk, oldest first —
    * every entry is readable via the snapshot overload of [[read]]
    * until a writer's GC ages it out of the retention window.
    */
  def listGenerations(fs: FileSystem, poolRoot: String): Seq[Long] =
    pool.listGenerations(fs, poolRoot)

  /** True when at least one committed game partition exists. */
  def hasPool(fs: FileSystem, poolRoot: String): Boolean =
    pool.readMarker(fs, poolRoot).parts.nonEmpty

  /** Stage `df`'s game partitions under a fresh write-once generation
    * and commit them with one marker PUT — per-game upsert with the
    * same semantics as [[Ingest.writePool]] (touched games replaced,
    * untouched games untouched), safe on stores without atomic rename.
    * `df` must carry `gameId` (null group keys are skipped, the
    * reference rule); `season` derives from the gameId prefix.
    */
  def write(df: DataFrame, poolRoot: String, retain: Int = 1): Unit = {
    val spark = df.sparkSession
    val fs = LiveRead.fs(spark, poolRoot)
    pool.heal(fs, poolRoot, retain) // finish/GC any interrupted write
    val prev = pool.readMarker(fs, poolRoot)
    val gen = prev.gen + 1L
    Ingest.withSeason(df)
      .filter(col("gameId").isNotNull)
      .write
      .partitionBy("season", "gameId")
      .mode("errorifexists") // collision = concurrent writer, fail loud
      .parquet(s"$poolRoot/gen=$gen")
    val written = pool.partsUnder(fs, new Path(s"$poolRoot/gen=$gen"))
    val next = mutable.Map.empty[String, Long] ++ prev.parts
    written.foreach(p => next(p) = gen)
    // THE commit point: one write-once marker PUT (retention carries
    // forward, monotone — the LiveMarker contract)
    pool.writeMarker(fs, poolRoot,
      pool.Marker(gen, next.toMap, prev.retain, prev.applied), retain)
    pool.heal(fs, poolRoot, retain) // GC outside the retention window
  }

  /** All committed pool rows — resolves through the newest complete
    * marker, so an in-flight or crashed write is invisible. `season`
    * and `gameId` stay partition columns (the per-game pruning
    * contract); the protocol's `gen` column is dropped. The data
    * schema comes from one footer read on the driver ([[Pool.reader]]),
    * so resolving the snapshot starts no Spark job.
    *
    * SNAPSHOT semantics: the returned frame is bound to the partition
    * directories live at CALL time — a later commit's GC deletes
    * directories outside the retention window, so either materialize
    * before `retain` more writes land, or raise `retain` to cover the
    * longest expected scan (the standard object-store-table retention
    * knob).
    */
  def read(spark: SparkSession, poolRoot: String): DataFrame =
    pool.readSnapshot(spark, poolRoot,
      pool.readMarker(LiveRead.fs(spark, poolRoot), poolRoot), Seq("gen"))

  /** TIME-TRAVEL read: the pool exactly as committed by snapshot
    * `gen` — audit/rollback for the removal pipeline ("what did the
    * corpus look like before this takedown batch?"). The snapshot
    * must still be inside the retention window ([[listGenerations]]
    * lists what is); reads never extend or shrink that window.
    */
  def read(spark: SparkSession, poolRoot: String, gen: Long)
      : DataFrame =
    pool.readSnapshot(spark, poolRoot,
      pool.markerAt(LiveRead.fs(spark, poolRoot), poolRoot, gen,
        "raise write(..., retain)"), Seq("gen"))
}
