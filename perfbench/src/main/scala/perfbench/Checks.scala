package perfbench

/** Output checks, as pure functions of the generator's expectations and
  * the values an op collected. Each returns the first failure found. */
object Checks {
  def expect(cond: Boolean, why: => String): Option[String] = if (cond) None else Some(why)
  def first(cs: Option[String]*): Option[String] = cs.flatten.headOption

  final case class TensorRow(game: Long, play: Int, nFrames: Int, centsSum: Long)

  /** An ML batch: `n` distinct plays of `season`, each with the frame
    * count and feature checksum the generator implies. */
  def tensorBatch(t: Gen.Tracking, season: Int, n: Int, rows: Seq[TensorRow]): Option[String] = {
    val known = t.games.filter(t.season(_) == season).flatMap(g => t.plays(g).map((g, _))).toSet
    val keys = rows.map(r => (r.game, r.play))
    first(
      expect(rows.size == n && keys.distinct.size == n,
        s"batch has ${rows.size} rows, ${keys.distinct.size} distinct plays, want $n"),
      keys.find(!known(_)).map { case (g, p) => s"play $g/$p is not a season $season play" },
      rows.iterator.flatMap { r =>
        if (r.nFrames != t.frames(r.game, r.play))
          Some(s"play ${r.game}/${r.play} n_frames ${r.nFrames} != ${t.frames(r.game, r.play)}")
        else if (r.centsSum != t.tensorChecksum(r.game, r.play))
          Some(s"play ${r.game}/${r.play} tensor checksum ${r.centsSum} != ${t.tensorChecksum(r.game, r.play)}")
        else None
      }.nextOption())
  }

  final case class Telemetry(totalFrames: Int, nPlayers: Long, maxSpeedCents: Long)

  /** A frontend fetch: every row of the play in frame order, and its
    * telemetry block. */
  def playFetch(t: Gen.Tracking, g: Long, p: Int, frameIds: Seq[Int], tel: Seq[Telemetry]): Option[String] = {
    val f = t.frames(g, p)
    first(
      expect(frameIds.size == f * 23, s"play $g/$p fetched ${frameIds.size} rows, want ${f * 23}"),
      expect(frameIds == frameIds.sorted, s"play $g/$p frames out of order"),
      expect(tel.size == 1, s"play $g/$p telemetry has ${tel.size} rows"),
      tel.headOption.flatMap(r => first(
        expect(r.totalFrames == f, s"play $g/$p total_frames ${r.totalFrames} != $f"),
        expect(r.nPlayers == 22L, s"play $g/$p n_players ${r.nPlayers} != 22"),
        expect(r.maxSpeedCents == t.maxSpeedCents(g, p),
          s"play $g/$p max_speed ${r.maxSpeedCents} != ${t.maxSpeedCents(g, p)} (hundredths)"))))
  }

  /** An ingest's summary row and bad-file list against the drop. */
  def ingest(t: Gen.Tracking, d: Gen.Drop, summary: graft.operators.Ingest.Summary,
      badFiles: Seq[String]): Option[String] = {
    val want = summaryOf(t, d.games)
    val bad = badFiles.map(p => new java.io.File(new java.net.URI(p).getPath).getName)
    first(
      expect(summary == want, s"ingest summary $summary != $want"),
      expect(bad.sorted == d.bad.sorted, s"bad files ${bad.sorted.mkString(",")} != ${d.bad.sorted.mkString(",")}"))
  }

  def summaryOf(t: Gen.Tracking, games: Seq[Long]): graft.operators.Ingest.Summary =
    graft.operators.Ingest.Summary(games.map(t.rowsOf).sum, games.size.toLong,
      games.size.toLong * t.playsPerGame, Some(t.maxFrame(games)))

  /** A cleaned batch: every planted exact copy, contaminated and
    * low-quality doc removed, every fresh doc kept. */
  def cleaned(b: Gen.Batch, ids: Set[Long]): Option[String] = first(
    expect((ids & b.exactDups).isEmpty, s"${(ids & b.exactDups).size} exact duplicates survived"),
    expect((ids & b.contaminated).isEmpty, s"${(ids & b.contaminated).size} contaminated docs survived"),
    expect((ids & b.lowQuality).isEmpty, s"${(ids & b.lowQuality).size} low-quality docs survived"),
    expect(b.fresh.forall(ids), s"${b.fresh.count(!ids(_))} fresh docs were dropped: " +
      b.fresh.filterNot(ids).mkString(",")))

  /** A hybrid serve: results exist and every id is live, none tombstoned. */
  def serve(ids: Seq[Long], live: Set[Long], deleted: Set[Long]): Option[String] = first(
    expect(ids.nonEmpty, "hybrid serve returned nothing"),
    expect(!ids.exists(deleted), s"tombstoned ids surfaced: ${ids.filter(deleted).distinct.mkString(",")}"),
    expect(ids.forall(live), s"ids outside the live set surfaced: ${ids.filterNot(live).distinct.mkString(",")}"))

  /** BM25 rows (qid, id, rank, score_pico) served from the index against
    * the in-memory scorer's over the same live corpus. */
  def bm25Equal(got: Seq[(Long, Long, Int, Long)], want: Seq[(Long, Long, Int, Long)]): Option[String] = {
    val (g, w) = (got.sorted, want.sorted)
    expect(g == w, s"BM25 serve differs from in-memory topK: ${g.diff(w).take(3).mkString(",")} " +
      s"served, ${w.diff(g).take(3).mkString(",")} expected (${g.size} vs ${w.size} rows)")
  }
}
