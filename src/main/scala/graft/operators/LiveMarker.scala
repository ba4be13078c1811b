package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Resolved lifecycle state of a marker-committed index: the ruling
  * generation, the live data directory per family (relative to the
  * index root), the not-yet-compacted delete-batch numbers, the
  * not-yet-compacted APPEND-batch numbers, the highest stream
  * batch id applied through this marker chain (-1 = none — batch
  * lifecycles that never stream simply never set it), and the
  * PERSISTED retention window (how many committed snapshots stay
  * readable — a property of the INDEX, carried marker to marker, so
  * one careless lifecycle call can never collapse the window a
  * deployment chose at create time).
  */
private[graft] final case class LiveState(
    gen: Long, dirs: Map[String, String], batches: Seq[Long],
    appends: Seq[Long] = Seq.empty, applied: Long = -1L,
    retain: Int = 1) {
  def dir(family: String): String = dirs(family)
}

/** The `_live` marker-generation commit protocol of the persisted
  * index families — BM25 postings (`text/Bm25.scala`), ANN vectors and
  * PQ codes (`sim/SimSearch.scala`), signed MinHash rows
  * (`text/Dedup.scala`). Every mutation lands as WRITE-ONCE
  * directories plus ONE marker PUT, so it is atomic on any
  * PUT-consistent store (object stores included, no renames). This
  * class owns the commit order; a family supplies only its data
  * writes, its reads and its input validation. (PQ commits its
  * deletes and compactions here; its creation stays marker-less and
  * its appends land in the live codes directory.)
  *
  *   - the marker file `_live.<gen %019d>` names the live directory
  *     of each data family (`<field>:<dir>`), the outstanding
  *     delete-batch numbers (`tomb:b1,b2`), the outstanding
  *     append-batch numbers (`appd:b1,b2`), and the highest applied
  *     stream batch id (`sid:n`), closed by an `end` footer — a torn
  *     PUT parses as absent;
  *   - READERS resolve through the newest complete marker (absent =
  *     the pristine layout: each family at its plain directory, no
  *     batches) and never delete anything;
  *   - WRITERS run one commit order. [[create]]: clear the tree,
  *     write the `_bootstrap` intent, run the family's writes, PUT
  *     gen 1, clear the intent. [[append]], [[delete]] and
  *     [[compact]]: heal (clear a crashed predecessor's orphans,
  *     which would collide with `errorifexists` writes), read the
  *     ruling state, number the batch or generation `gen + 1`, run
  *     the family's write-once writes, PUT the marker, heal again
  *     (GC superseded state outside the retention window). A crash
  *     before the PUT leaves unreferenced directories: the mutation
  *     did not happen, and the next writer's heal clears them;
  *   - RETENTION ([[PoolCommit.heal]]'s contract, ported): `retain`
  *     = how many committed snapshots stay readable (1 = only the
  *     ruling one — the minimum). Retained superseded markers keep
  *     every directory and batch they reference on disk, so (a) a
  *     reader that resolved an older marker and is still mid-scan
  *     survives a concurrent compaction as long as `retain` covers
  *     the longest expected scan, and (b) [[listGenerations]] +
  *     [[readAt]] give the index the same audit/rollback snapshot
  *     reads the pool has. The retention window is PERSISTED in the
  *     marker (`ret:`) and monotone: every commit records
  *     `max(persisted, passed)` and every heal honors
  *     `max(persisted, passed)`, so the window is a property of the
  *     INDEX set at create time — a lifecycle call that defaults
  *     `retain` to 1 keeps the persisted window, and passing a
  *     larger value raises it for every later call. (Shrinking the
  *     window means rebuilding the index — deliberately not a
  *     drive-by option.);
  *   - EXACTLY-ONCE streams: a create or append records the stream
  *     batch id (`appliedId`, -1 = not a stream batch) in the same
  *     PUT as its data, and [[streamStep]] skips a batch the marker
  *     already records;
  *   - single-writer discipline per index: concurrent writers trip
  *     the `errorifexists` batch/generation writes loudly; readers
  *     that resolve inside the retention window are safe, including
  *     concurrently with compaction — they see the old generation +
  *     batch overlay or the new compacted generation, never a mix.
  *
  * @param families one (field, plainDir, genPrefix) triple per data
  *                 family — e.g. `("postings", "postings",
  *                 "postings_gen=")`
  * @param batchRoots the per-batch roots, each holding `batch=<B>`
  *                   children — delete batches (e.g. `tombstones`)
  *                   and append batches (e.g. `postings_batches`)
  *                   alike; batch numbers are globally unique (the
  *                   gen counter), so one keep-set serves all roots
  * @param name the index kind named in error messages (`bm25`, ...)
  */
private[graft] final class LiveMarker(
    families: Seq[(String, String, String)],
    batchRoots: Seq[String], name: String = "index") {

  private val Prefix = "_live."
  private val Intent = "_bootstrap"

  private def pristine: LiveState =
    LiveState(0L, families.map(f => f._1 -> f._2).toMap, Seq.empty)

  private def longList(fields: Map[String, String],
      key: String): Seq[Long] =
    fields.getOrElse(key, "").split(",").filter(_.nonEmpty)
      .map(_.toLong).toSeq

  private def parse(fs: FileSystem, p: Path): Option[LiveState] =
    MarkerFile.read(fs, p, Prefix).flatMap { case (gen, lines) =>
      val fields = lines.flatMap { l =>
        l.split(":", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
      if (!families.forall(f => fields.contains(f._1))) None
      else try Some(LiveState(gen,
        families.map(f => f._1 -> fields(f._1)).toMap,
        longList(fields, "tomb"),
        longList(fields, "appd"),
        fields.getOrElse("sid", "-1").toLong,
        fields.getOrElse("ret", "1").toInt))
      catch { case _: NumberFormatException => None }
    }

  /** Newest-first complete markers with their states. */
  private def complete(fs: FileSystem,
      path: String): Seq[(Path, LiveState)] =
    MarkerFile.list(fs, new Path(path), Prefix)
      .flatMap(p => parse(fs, p).map(p -> _))

  /** The ruling lifecycle state: newest complete marker, or the
    * pristine layout. Reader-safe — parses only, never deletes.
    */
  def read(fs: FileSystem, path: String): LiveState =
    complete(fs, path).headOption.map(_._2).getOrElse(pristine)

  /** [[read]] on the file system that owns `path`. */
  def read(spark: SparkSession, path: String): LiveState =
    read(LiveRead.fs(spark, path), path)

  /** The committed snapshot generations still on disk, oldest first —
    * every entry is readable via [[readAt]] until a writer's GC ages
    * it out of the retention window.
    */
  def listGenerations(spark: SparkSession, path: String): Seq[Long] =
    complete(LiveRead.fs(spark, path), path).map(_._2.gen).sorted

  /** TIME-TRAVEL resolve: the state exactly as committed by marker
    * `gen` — audit/rollback ("what did the index serve before this
    * takedown batch?"). The snapshot must still be inside the
    * retention window; reads never extend or shrink that window.
    */
  def readAt(spark: SparkSession, path: String, gen: Long): LiveState =
    complete(LiveRead.fs(spark, path), path).find(_._2.gen == gen)
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        s"no snapshot gen=$gen under $path; on disk: " +
          s"${listGenerations(spark, path).mkString(",")} " +
          "(aged out? raise the lifecycle calls' retain)"))

  /** CREATE: clear the whole tree (a rebuild never inherits stale
    * lifecycle state — a surviving tombstone set would silently
    * anti-join fresh ids out of the new index), record the
    * `_bootstrap` intent, run `write` (the family's plain
    * directories), then commit the pristine layout as snapshot gen 1
    * with `appliedId` and clear the intent. The intent tells a
    * crashed bootstrap (safe to re-run) apart from a marker-less
    * legacy or foreign tree (see [[streamStep]]).
    */
  def create(spark: SparkSession, path: String, appliedId: Long,
      retain: Int)(write: => Unit): Unit = {
    val fs = LiveRead.fs(spark, path)
    val root = new Path(path)
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(
        s"$name index rebuild failed to clear $path")
    fs.mkdirs(root)
    fs.create(new Path(root, Intent), true).close()
    write
    put(fs, path, pristine.copy(gen = 1L, applied = appliedId), retain)
    clearBootstrap(fs, path)
  }

  /** APPEND batch `b = gen + 1`: `write(b)` lands the family's
    * write-once `batch=<b>` segment dirs and reports whether it wrote
    * one. A batch with no rows writes nothing (a zero-row partitioned
    * write leaves a part-less directory that bricks every later read)
    * and commits only `appliedId`, when newer, so exactly-once still
    * holds.
    */
  def append(spark: SparkSession, path: String, retain: Int,
      appliedId: Long)(write: Long => Boolean): Unit =
    commit(spark, path, retain) { (live, b) =>
      if (write(b)) Some(live.copy(gen = b, appends = live.appends :+ b,
        applied = math.max(live.applied, appliedId)))
      else if (appliedId > live.applied)
        Some(live.copy(gen = b, applied = appliedId))
      else None
    }

  /** DELETE batch `b = gen + 1`: `write(live, b)` lands the family's
    * write-once `tombstones/batch=<b>` (and any companion) dirs.
    */
  def delete(spark: SparkSession, path: String, retain: Int)(
      write: (LiveState, Long) => Unit): Unit =
    commit(spark, path, retain) { (live, b) =>
      write(live, b)
      Some(live.copy(gen = b, batches = live.batches :+ b))
    }

  /** COMPACT into generation `gen + 1`: `write(live, next)` rewrites
    * `live`'s rows minus its tombstones into each family's
    * `next.dir(field)` (`<genPrefix><gen>`); `next` commits with empty
    * batch lists, carrying the applied id and the retention window.
    */
  def compact(spark: SparkSession, path: String, retain: Int)(
      write: (LiveState, LiveState) => Unit): Unit =
    commit(spark, path, retain) { (live, gen) =>
      val next = LiveState(gen,
        families.map(f => f._1 -> s"${f._3}$gen").toMap,
        Seq.empty, Seq.empty, live.applied, live.retain)
      write(live, next)
      Some(next)
    }

  /** Compaction POLICY: run `compact` when the outstanding append +
    * tombstone batch count exceeds `maxSegments` — serving unions
    * every outstanding segment per read, so an unbounded stream
    * lifetime means unbounded per-read union width unless something
    * schedules the compaction. Returns true when one ran. Safe
    * mid-stream: the compacted marker carries the applied id forward.
    */
  def compactIfNeeded(spark: SparkSession, path: String,
      maxSegments: Int)(compact: => Unit): Boolean = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val live = read(spark, path)
    if (live.batches.size + live.appends.size > maxSegments) {
      compact; true
    } else false
  }

  /** One stream micro-batch `batchId`. No committed marker means
    * nothing ever landed (a crashed bootstrap left no commit), so
    * `bootstrap` (the family's create, which clears the tree) runs —
    * unless the tree has content but neither a marker nor a
    * `_bootstrap` intent: that is a legacy (pre-marker) or foreign
    * layout, and this throws instead of silently deleting it. A
    * marker that already records `applied >= batchId` makes the batch
    * a replay, which is skipped; otherwise `append` runs.
    * `maxSegments > 0` then runs [[compactIfNeeded]] with `compact`.
    */
  def streamStep(spark: SparkSession, path: String, batchId: Long,
      maxSegments: Int)(bootstrap: => Unit, append: => Unit,
      compact: => Unit): Unit = {
    val fs = LiveRead.fs(spark, path)
    complete(fs, path).headOption match {
      case None =>
        val root = new Path(path)
        if (fs.exists(root) && !fs.exists(new Path(root, Intent)) &&
            fs.listStatus(root).nonEmpty)
          throw new IllegalStateException(
            s"$name index tree at $path has content but no _live " +
              "marker and no _bootstrap intent: this is a legacy or " +
              "foreign index layout the stream refuses to clobber — " +
              "rebuild it explicitly with the family's create call " +
              "(which overwrites by contract) or point the stream at " +
              "a fresh path")
        bootstrap
      case Some((_, live)) if live.applied >= batchId => ()
      case _ => append
    }
    if (maxSegments > 0) compactIfNeeded(spark, path, maxSegments)(compact)
  }

  /** The writer order [[append]], [[delete]] and [[compact]] share:
    * heal, read, let `step` write batch/generation `gen + 1` and name
    * the state to commit (None = nothing to commit), PUT it, heal.
    */
  private def commit(spark: SparkSession, path: String, retain: Int)(
      step: (LiveState, Long) => Option[LiveState]): Unit = {
    val fs = LiveRead.fs(spark, path)
    heal(fs, path, retain)
    val live = read(fs, path)
    step(live, live.gen + 1L).foreach(put(fs, path, _, retain))
    heal(fs, path, retain)
  }

  /** Remove the bootstrap-intent file (creator, after its PUT). */
  private def clearBootstrap(fs: FileSystem, path: String): Unit = {
    val p = new Path(path, Intent)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Commit `state` with one marker PUT (create-exclusive: a gen
    * collision — two writers racing — fails loudly). The persisted
    * retention is monotone: the marker records
    * `max(state.retain, retain)`, so a lifecycle call can RAISE the
    * index's window (pass a bigger value) but never silently collapse
    * one a previous writer persisted. Families commit only through
    * the lifecycle methods above; the package sees it so a spec can
    * pin the marker bytes.
    */
  private[graft] def put(fs: FileSystem, path: String, state: LiveState,
      retain: Int = 1): Unit = {
    val eff = state.copy(retain = math.max(state.retain, retain))
    MarkerFile.put(fs, path, Prefix, eff.gen,
      families.map(f => s"${f._1}:${eff.dirs(f._1)}") ++ Seq(
        s"tomb:${eff.batches.mkString(",")}",
        s"appd:${eff.appends.mkString(",")}",
        s"sid:${eff.applied}",
        s"ret:${eff.retain}"))
  }

  /** WRITER-ONLY GC of everything no RETAINED marker references:
    * torn markers, markers older than the retention window, data
    * generations and delete/append batches referenced by none of the
    * newest-`retain` complete markers — including the orphans of a
    * crash before a marker PUT (which would collide with the next
    * `errorifexists` write). Readers resolve through a marker and
    * never GC. Idempotent; must never run beside an in-flight commit
    * (single-writer protocol).
    */
  private def heal(fs: FileSystem, path: String, retain: Int): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(path)
    if (!fs.exists(root)) return
    val all = complete(fs, path)
    // the EFFECTIVE window is the larger of the caller's retain and
    // the one the ruling marker persists — a lifecycle call that
    // defaults retain to 1 can no longer GC snapshots the index's
    // create-time policy promised to keep
    val eff = math.max(retain, all.headOption.map(_._2.retain)
      .getOrElse(1))
    val kept = all.take(eff)
    if (kept.nonEmpty) clearBootstrap(fs, path)
    val keptNames = kept.map(_._1.getName).toSet
    // no complete marker yet = the pristine layout is the snapshot
    val states = if (kept.isEmpty) Seq(pristine) else kept.map(_._2)
    val liveDirs = families.map { f =>
      f._1 -> states.map(_.dirs(f._1)).toSet
    }.toMap
    val liveBatches =
      states.flatMap(s => s.batches ++ s.appends).map(b => s"batch=$b")
        .toSet
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(Prefix) && !keptNames.contains(n))
        MarkerFile.delete(fs, p)
      else families.foreach { case (field, plain, genPrefix) =>
        if ((n == plain || n.startsWith(genPrefix)) &&
            !liveDirs(field).contains(n))
          MarkerFile.delete(fs, p)
      }
    }
    batchRoots.foreach { sub =>
      val subRoot = new Path(path, sub)
      if (fs.exists(subRoot)) {
        fs.listStatus(subRoot).map(_.getPath)
          .filter(p => p.getName.startsWith("batch=") &&
            !liveBatches.contains(p.getName))
          .foreach(MarkerFile.delete(fs, _))
        if (fs.listStatus(subRoot).isEmpty) MarkerFile.delete(fs, subRoot)
      }
    }
  }
}
