package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

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

/** The `_live` marker-generation commit protocol shared by the
  * persisted index families (PQ codes pioneered it —
  * `sim/SimSearch.scala` — BM25 postings and ANN vectors reuse it
  * through this class): every mutation lands as WRITE-ONCE
  * directories plus ONE marker PUT, so it is atomic on any
  * PUT-consistent store (object stores included, no renames).
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
  *   - WRITERS call [[heal]] before (clear a crashed predecessor's
  *     orphans, which would collide with `errorifexists` writes) and
  *     after (GC superseded state outside the retention window)
  *     their marker PUT;
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
  *     `max(persisted, passed)` and every [[heal]] honors
  *     `max(persisted, passed)`, so the window is a property of the
  *     INDEX set at create time — a lifecycle call that defaults
  *     `retain` to 1 keeps the persisted window, and passing a
  *     larger value raises it for every later call. (Shrinking the
  *     window means rebuilding the index — deliberately not a
  *     drive-by option.);
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
  */
private[graft] final class LiveMarker(
    families: Seq[(String, String, String)],
    batchRoots: Seq[String]) {

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

  /** The committed snapshot generations still on disk, oldest first —
    * every entry is readable via [[readAt]] until a writer's GC ages
    * it out of the retention window.
    */
  def listGenerations(fs: FileSystem, path: String): Seq[Long] =
    complete(fs, path).map(_._2.gen).sorted

  /** TIME-TRAVEL resolve: the state exactly as committed by marker
    * `gen` — audit/rollback ("what did the index serve before this
    * takedown batch?"). The snapshot must still be inside the
    * retention window; reads never extend or shrink that window.
    */
  def readAt(fs: FileSystem, path: String, gen: Long): LiveState =
    complete(fs, path).find(_._2.gen == gen).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot gen=$gen under $path; on disk: " +
          s"${listGenerations(fs, path).mkString(",")} " +
          "(aged out? raise the lifecycle calls' retain)"))

  /** Record an in-progress CREATE (write AFTER clearing the tree,
    * BEFORE the first data write): distinguishes "crashed bootstrap,
    * safe to re-run idempotently" from "index tree with no marker =
    * legacy or foreign layout, do NOT clobber". The creator removes
    * it right after its commit PUT; [[heal]] also clears it once a
    * complete marker exists.
    */
  def markBootstrap(fs: FileSystem, path: String): Unit = {
    fs.mkdirs(new Path(path))
    fs.create(new Path(path, Intent), true).close()
  }

  /** Remove the bootstrap-intent file (creator, after its PUT). */
  def clearBootstrap(fs: FileSystem, path: String): Unit = {
    val p = new Path(path, Intent)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Loud guard for a STREAM bootstrap decision: throws when
    * re-running the family's create would silently delete an index
    * this protocol never committed — a tree with content but neither
    * a complete `_live` marker nor a `_bootstrap` intent file is a
    * legacy (pre-marker) or foreign layout, and "no marker = nothing
    * ever landed" does not hold for it. A missing/empty tree and a
    * crashed bootstrap (intent present) are safe to (re-)create.
    */
  def assertBootstrapSafe(fs: FileSystem, path: String,
      family: String): Unit = {
    val root = new Path(path)
    if (!fs.exists(root)) return
    if (complete(fs, path).nonEmpty) return
    if (fs.exists(new Path(root, Intent))) return
    if (fs.listStatus(root).nonEmpty)
      throw new IllegalStateException(
        s"$family index tree at $path has content but no _live " +
          "marker and no _bootstrap intent: this is a legacy or " +
          "foreign index layout the stream refuses to clobber — " +
          "rebuild it explicitly with the family's create call " +
          "(which overwrites by contract) or point the stream at a " +
          "fresh path")
  }

  /** Commit `state` with one marker PUT (create-exclusive: a gen
    * collision — two writers racing — fails loudly). The persisted
    * retention is monotone: the marker records
    * `max(state.retain, retain)`, so a lifecycle call can RAISE the
    * index's window (pass a bigger value) but never silently collapse
    * one a previous writer persisted.
    */
  def put(fs: FileSystem, path: String, state: LiveState,
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
    * `errorifexists` write). Called from the lifecycle writers only;
    * readers resolve through a marker and never GC. Idempotent; must
    * never run beside an in-flight commit (single-writer protocol).
    */
  def heal(fs: FileSystem, path: String, retain: Int = 1): Unit = {
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
