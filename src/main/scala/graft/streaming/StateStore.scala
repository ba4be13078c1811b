package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MarkerFile

/** The commit-marker storage protocol behind the hash-bucketed
  * streaming state tables ([[StreamingFunnel]], [[StreamingRetention]],
  * [[StreamingAggState]], [[StreamingSessions]]). Nothing is ever
  * renamed or rewritten, so it is correct on object stores as well as
  * on HDFS and POSIX.
  *
  * Layout under `statePath`:
  * {{{
  *   gen=<N>/_b=<K>/part-*.parquet   write-once version directories
  *   _marker.<N zero-padded>         write-once commit markers
  * }}}
  *
  * Marker format ([[graft.operators.MarkerFile]]'s envelope): one
  * `K:g1,g2,…` line per bucket (the generation directories whose union
  * is the bucket's content — more than one only for append-mode state
  * between compactions), then a literal `end` footer. A marker without
  * the footer is torn and is ignored and deleted by [[heal]]; the
  * previous marker keeps ruling.
  *
  * Protocol per swap/append:
  *  1. read the newest complete marker (generation G);
  *  2. write the batch's bucket rows under the fresh `gen=G+1`
  *     directory (`errorifexists` — a collision is a concurrent
  *     writer, failed loudly);
  *  3. PUT `_marker.<G+1>` naming the new live set;
  *  4. GC: older markers and no-longer-referenced generation
  *     directories delete (crash here is harmless — heal re-GCs).
  *
  * A crash between 2 and 3 leaves the new generation unreferenced:
  * readers never see it, heal deletes it, and the streaming replay
  * re-applies the batch — a committed batch can never be lost because
  * the ONLY commit point is the marker PUT. No rename, no overwrite,
  * no read-modify-write of any object anywhere in the protocol.
  * Readers never delete anything: a reader-side GC would race an
  * in-flight writer between its `gen=N+1` write and its marker PUT.
  */
private[graft] object MarkerStateStore {

  private val MarkerPrefix = "_marker."

  private[graft] final case class Marker(
      gen: Long, buckets: Map[Int, Seq[Long]])

  /** Parse a marker; None when torn (no footer) or malformed. */
  private def parse(fs: FileSystem, p: Path): Option[Marker] =
    MarkerFile.read(fs, p, MarkerPrefix).flatMap { case (gen, lines) =>
      try Some(Marker(gen, lines.map { l =>
        val Array(b, gs) = l.split(":", 2)
        b.toInt -> gs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      }.toMap))
      catch { case _: RuntimeException => None }
    }

  /** The newest COMPLETE marker, or the empty state. */
  private[graft] def readMarker(fs: FileSystem, root: String): Marker =
    MarkerFile.list(fs, new Path(root), MarkerPrefix).iterator
      .flatMap(parse(fs, _))
      .nextOption()
      .getOrElse(Marker(0L, Map.empty))

  /** The ruling marker. With none, a root holding state in the former
    * rename layout (`_b=` bucket directories directly under it, or a
    * `<state>__swap` sibling) throws, so that state never reads as
    * empty and is silently rebuilt from the next batch alone.
    */
  private def rulingMarker(fs: FileSystem, statePath: String): Marker = {
    val m = readMarker(fs, statePath)
    val root = new Path(statePath)
    if (m.gen == 0L && (fs.exists(new Path(statePath + "__swap")) ||
        (fs.exists(root) && fs.listStatus(root)
          .exists(_.getPath.getName.startsWith("_b=")))))
      throw new IllegalStateException(
        s"streaming state at $statePath is in the rename layout " +
          "(`_b=` bucket directories or a `__swap` sibling, no " +
          "`_marker.` file), which is no longer read: replay the " +
          "stream into a fresh state path")
    m
  }

  /** WRITER-ONLY GC of everything the ruling marker does not
    * reference: newer torn markers, older markers, generation
    * directories (or bucket dirs inside them) outside the live set.
    * Never touches referenced data. Must never run beside an
    * in-flight commit on the same path (it would GC the writer's
    * not-yet-referenced gen dir); the single writer calls it before
    * each batch and at the end of each commit. Readers never call it.
    */
  def heal(fs: FileSystem, statePath: String): Unit = {
    val m = rulingMarker(fs, statePath)
    val root = new Path(statePath)
    if (!fs.exists(root)) return
    MarkerFile.list(fs, root, MarkerPrefix).foreach { p =>
      val keep = parse(fs, p).exists(_.gen == m.gen)
      if (!keep) MarkerFile.delete(fs, p)
    }
    MarkerFile.gcGenerations(fs, root,
      m.buckets.toSeq.flatMap { case (b, gs) => gs.map(s"_b=$b" -> _) }
        .toSet,
      fs.listStatus(_).map(_.getPath.getName).filter(_.startsWith("_b="))
        .toSeq)
  }

  /** True when at least one committed bucket exists. */
  def hasState(fs: FileSystem, statePath: String): Boolean =
    rulingMarker(fs, statePath).buckets.nonEmpty

  /** All committed rows (including the `_b` bucket column), pruned to
    * `buckets` when given — per-batch I/O touches only those.
    */
  def read(spark: SparkSession, statePath: String,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m = readMarker(fs, statePath)
    def bucketDirs(keep: Int => Boolean) = m.buckets.toSeq
      .filter { case (b, _) => keep(b) }
      .flatMap { case (b, gs) =>
        gs.map(g => s"$statePath/gen=$g/_b=$b") }
      .sorted
    val wanted = buckets.map(_.toSet)
    val dirs = bucketDirs(b => wanted.forall(_.contains(b)))
    val all = bucketDirs(_ => true)
    require(all.nonEmpty,
      s"no live buckets under $statePath (guard with hasState)")
    // basePath keeps gen/_b as partition columns across the dir list;
    // gen is protocol metadata, not state — dropped. A pruned read
    // whose wanted buckets hold no state yet still needs the SCHEMA:
    // read one live dir and keep zero rows.
    if (dirs.nonEmpty)
      spark.read.option("basePath", statePath).parquet(dirs: _*)
        .drop("gen")
    else
      spark.read.option("basePath", statePath).parquet(all.head)
        .drop("gen").filter(lit(false))
  }

  private def commit(fs: FileSystem, statePath: String, state: DataFrame,
      touched: Seq[Int], append: Boolean): Unit = {
    val prev = readMarker(fs, statePath)
    val gen = prev.gen + 1L
    state.write.partitionBy("_b").mode("errorifexists")
      .parquet(s"$statePath/gen=$gen")
    // CONTRACT (merges never drop rows): a touched bucket whose new
    // state has no surviving rows writes no `_b=` directory under
    // gen=N+1, and this commit keeps its PREVIOUS content live. That
    // is correct for every current twin — their merges only ever add
    // or replace rows, never empty a bucket — but it means a future
    // state family that legitimately empties a bucket would silently
    // resurrect old rows. Such a family must write an explicit
    // emptiness row (or extend the marker format with a "bucket K is
    // now empty" entry) rather than rely on writing nothing.
    val written = fs.listStatus(new Path(s"$statePath/gen=$gen"))
      .map(_.getPath.getName).filter(_.startsWith("_b="))
      .map(_.stripPrefix("_b=").toInt).toSet
    val next = mutable.Map.empty[Int, Seq[Long]] ++ prev.buckets
    // empty `touched` = derive from what the write produced (the
    // append path's convention — any bucket with new rows is live)
    val keys = if (touched.isEmpty) written.toSeq.sorted
      else touched.filter(written.contains)
    keys.foreach { b =>
      next(b) =
        if (append) next.getOrElse(b, Seq.empty) :+ gen else Seq(gen)
    }
    MarkerFile.put(fs, statePath, MarkerPrefix, gen,
      next.toSeq.sortBy(_._1).map { case (b, gs) =>
        s"$b:${gs.mkString(",")}" })
    heal(fs, statePath) // GC superseded markers/generations
  }

  /** Atomically replace the touched buckets with `state`'s rows
    * (`state` carries `_b`; a touched bucket that writes no rows keeps
    * its previous content — merges never drop rows).
    */
  def swapBuckets(fs: FileSystem, statePath: String, state: DataFrame,
      touched: Seq[Int]): Unit =
    commit(fs, statePath, state, touched, append = false)

  /** Append `state`'s rows to the touched buckets (empty `touched` =
    * every bucket the write produced).
    */
  def appendBuckets(fs: FileSystem, statePath: String, state: DataFrame,
      touched: Seq[Int]): Unit =
    commit(fs, statePath, state, touched, append = true)
}
