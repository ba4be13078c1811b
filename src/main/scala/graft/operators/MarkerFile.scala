package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The marker-file envelope the three marker-committed stores share
  * ([[LiveMarker]], [[MarkerPool]] and
  * [[graft.streaming.MarkerStateStore]]): write-once files named
  * `<prefix><gen %019d>`, each a list of UTF-8 lines closed by an `end`
  * footer. A file without the footer is torn (a crashed or in-flight
  * PUT on a store without atomic PUT) and reads as absent. Each store
  * keeps only its own line grammar.
  */
private[graft] object MarkerFile {

  private val Footer = "end"

  /** The marker files under `root`, newest first; none when `root` is
    * missing.
    */
  def list(fs: FileSystem, root: Path, prefix: String): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .sortBy(_.getName).reverse.toSeq

  /** A marker's generation and body lines (footer stripped); None when
    * its name carries no generation or it has no footer.
    */
  def read(fs: FileSystem, p: Path,
      prefix: String): Option[(Long, Seq[String])] = {
    val gen =
      try p.getName.stripPrefix(prefix).toLong
      catch { case _: NumberFormatException => return None }
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.lastOption.contains(Footer)) Some(gen -> lines.init)
    else None
  }

  /** PUT marker `gen` holding `lines` and the footer. Create-exclusive:
    * a generation collision (two writers racing) fails loudly.
    */
  def put(fs: FileSystem, root: String, prefix: String, gen: Long,
      lines: Seq[String]): Unit = {
    val out = fs.create(new Path(root, f"$prefix$gen%019d"), false)
    try out.write((lines :+ Footer).map(_ + "\n").mkString
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Recursive delete that throws when the file system reports failure
    * by returning false, so a GC that silently left garbage behind
    * fails its commit instead.
    */
  def delete(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true)) throw new java.io.IOException(
      s"marker GC failed to delete $p (returned false)")

  /** WRITER-ONLY GC of the write-once `gen=<N>` directories under
    * `root`: deletes each one that holds no live partition, and inside
    * the others each partition `parts` lists that is not live there.
    * `live` holds (partition relative path, gen) pairs.
    */
  def gcGenerations(fs: FileSystem, root: Path, live: Set[(String, Long)],
      parts: Path => Seq[String]): Unit =
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("gen="))
      .foreach { genDir =>
        val g =
          try genDir.getName.stripPrefix("gen=").toLong
          catch { case _: NumberFormatException => -1L }
        val liveHere = live.collect { case (p, pg) if pg == g => p }
        if (liveHere.isEmpty) delete(fs, genDir)
        else parts(genDir).filterNot(liveHere)
          .foreach(p => delete(fs, new Path(genDir, p)))
      }
}
