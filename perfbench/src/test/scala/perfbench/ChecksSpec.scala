package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ingest

/** Every checker passes the right answer and rejects a planted wrong one. */
class ChecksSpec extends AnyFunSuite {
  private val t = Gen.Tracking(11, gamesPerSeason = 3, playsPerGame = 4)
  private val season = t.seasons.head
  private val plays = t.games.filter(t.season(_) == season).flatMap(g => t.plays(g).map((g, _)))
  private val good = plays.take(4).map { case (g, p) =>
    Checks.TensorRow(g, p, t.frames(g, p), t.tensorChecksum(g, p)) }

  test("ML batch check") {
    assert(Checks.tensorBatch(t, season, 4, good).isEmpty)
    assert(Checks.tensorBatch(t, season, 4, good.updated(1, good(1).copy(nFrames = good(1).nFrames + 1)))
      .exists(_.contains("n_frames")))
    assert(Checks.tensorBatch(t, season, 4, good.updated(2, good(2).copy(centsSum = good(2).centsSum - 1)))
      .exists(_.contains("checksum")))
    assert(Checks.tensorBatch(t, season, 4, good.updated(3, good(0))).exists(_.contains("distinct")))
    val other = t.games.find(t.season(_) != season).get
    val foreign = Checks.TensorRow(other, t.plays(other).head, t.frames(other, t.plays(other).head),
      t.tensorChecksum(other, t.plays(other).head))
    assert(Checks.tensorBatch(t, season, 4, good.updated(0, foreign)).exists(_.contains("not a season")))
  }

  test("play fetch check") {
    val (g, p) = plays.head
    val f = t.frames(g, p)
    val ids = (1 to f).flatMap(Seq.fill(23)(_))
    val tel = Seq(Checks.Telemetry(f, 22L, t.maxSpeedCents(g, p)))
    assert(Checks.playFetch(t, g, p, ids, tel).isEmpty)
    assert(Checks.playFetch(t, g, p, ids.tail, tel).exists(_.contains("fetched")))
    assert(Checks.playFetch(t, g, p, ids.reverse, tel).exists(_.contains("order")))
    assert(Checks.playFetch(t, g, p, ids, tel.map(_.copy(maxSpeedCents = 1))).exists(_.contains("max_speed")))
    assert(Checks.playFetch(t, g, p, ids, tel.map(_.copy(nPlayers = 23))).exists(_.contains("n_players")))
  }

  test("ingest check") {
    val d = Gen.Drop(new java.io.File("drop"), t.games.take(2), Seq("week-corrupt.csv"), 0L)
    val sum = Checks.summaryOf(t, d.games)
    assert(Checks.ingest(t, d, sum, Seq("file:/x/drop/week-corrupt.csv")).isEmpty)
    assert(Checks.ingest(t, d, sum.copy(rows = sum.rows - 23), Seq("file:/x/drop/week-corrupt.csv"))
      .exists(_.contains("summary")))
    assert(Checks.ingest(t, d, sum, Nil).exists(_.contains("bad files")))
    assert(Checks.ingest(t, d, sum.copy(maxFrame = None), Seq("file:/x/drop/week-corrupt.csv")).isDefined)
  }

  test("clean check") {
    val b = new Gen.IndexCorpus(2).batch(0, 100)
    val right = b.fresh.toSet
    assert(Checks.cleaned(b, right).isEmpty)
    assert(Checks.cleaned(b, right + b.exactDups.head).exists(_.contains("exact")))
    assert(Checks.cleaned(b, right + b.contaminated.head).exists(_.contains("contaminated")))
    assert(Checks.cleaned(b, right + b.lowQuality.head).exists(_.contains("low-quality")))
    assert(Checks.cleaned(b, right - b.fresh.head).exists(_.contains("fresh")))
  }

  test("serve checks") {
    assert(Checks.serve(Seq(1L, 2L), Set(1L, 2L, 3L), Set(9L)).isEmpty)
    assert(Checks.serve(Seq(1L, 9L), Set(1L, 2L, 3L), Set(9L)).exists(_.contains("tombstoned")))
    assert(Checks.serve(Seq(1L, 4L), Set(1L, 2L, 3L), Set(9L)).exists(_.contains("live")))
    assert(Checks.serve(Nil, Set(1L), Set.empty).isDefined)
    val rows = Seq((-1L, 5L, 1, 900L), (-1L, 6L, 2, 800L))
    assert(Checks.bm25Equal(rows.reverse, rows).isEmpty)
    assert(Checks.bm25Equal(Seq((-1L, 6L, 1, 900L), (-1L, 5L, 2, 800L)), rows).isDefined)
    assert(Checks.bm25Equal(rows.take(1), rows).isDefined)
  }
}
