package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Seeded input generators. Every value is a pure function of the seed
  * and the value's key, so the same seed gives byte-identical inputs and
  * the checkers can recompute expected outputs without running the
  * program.
  */
object Gen {

  // splitmix64 finalizer: a keyed hash with full avalanche
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, key: Long*): Long = key.foldLeft(mix(seed))((h, k) => mix(h ^ k))
  def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
  def digest(parts: Iterable[String]): String =
    sha256(parts.mkString("\u0001").getBytes(StandardCharsets.UTF_8))

  def writeText(f: File, lines: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length()
  }

  // ── tracking lake ─────────────────────────────────────────────────

  /** A fixed universe of games: `gamesPerSeason` games in each season,
    * `playsPerGame` plays each, 20 to 40 frames a play, 22 players and
    * the ball in every frame.
    */
  final case class Tracking(seed: Long, seasons: Seq[Int] = Seq(2021, 2022),
      gamesPerSeason: Int = 8, playsPerGame: Int = 8) {
    val games: Vector[Long] = for {
      s <- seasons.toVector; g <- 1 to gamesPerSeason
    } yield s * 1000000L + (g + below(hash(seed, s, g), 30) * 16) * 100L
    def season(game: Long): Int = (game / 1000000L).toInt
    def plays(game: Long): Vector[Int] =
      (0 until playsPerGame).toVector.map(p => 40 + 25 * p + below(hash(seed, game, p), 20))
    def frames(game: Long, play: Int): Int = 20 + below(hash(seed, game, play, 7), 21)
    /** 0..10 home, 11..21 away, 22 the ball (null nflId). */
    def nflId(game: Long, e: Int): Option[Int] =
      if (e == 22) None else Some(40000 + 50 * below(hash(seed, game, 3), 100) + e)
    def team(e: Int): String = if (e == 22) "football" else if (e < 11) "home" else "away"

    val features: Seq[String] = Seq("x", "y", "s", "a", "o", "dir")
    private val scale = Array(12000, 5330, 1000, 500, 36000, 36000)
    /** Feature value in hundredths; `None` where the ball has no o / dir. */
    def cents(game: Long, play: Int, e: Int, frame: Int, f: Int): Option[Int] =
      if (e == 22 && f >= 4) None
      else Some(below(hash(seed, game, play, e, frame, f), scale(f)))

    def rowsOf(game: Long): Long = plays(game).map(p => frames(game, p) * 23L).sum
    def maxFrame(games: Iterable[Long]): Int =
      games.flatMap(g => plays(g).map(frames(g, _))).max
    /** Σ feature hundredths of one play: what its tensor must sum to. */
    def tensorChecksum(game: Long, play: Int): Long =
      (for {
        fr <- 1 to frames(game, play); e <- 0 until 23; f <- features.indices
      } yield cents(game, play, e, fr, f).getOrElse(0).toLong).sum
    def maxSpeedCents(game: Long, play: Int): Int =
      (for { fr <- 1 to frames(game, play); e <- 0 until 23 }
        yield cents(game, play, e, fr, 2).get).max
  }

  /** Column layouts of the CSV vintages a drop mixes; each also carries
    * one column no vintage declares. */
  val vintages: Vector[Vector[String]] = Vector(
    Vector("gameId", "playId", "nflId", "frameId", "playDirection", "event", "team",
      "x", "y", "s", "a", "o", "dir", "displayName"),
    Vector("game_id", "play_id", "nfl_id", "frame_id", "play_direction", "event", "club",
      "x", "y", "speed", "acceleration", "orientation", "direction", "jersey_number"))

  private def fmt(c: Int): String = s"${c / 100}.${"%02d".format(c % 100)}"

  /** One game as a CSV in the given vintage; returns bytes written. */
  def writeGameCsv(t: Tracking, game: Long, vintage: Int, f: File): Long = {
    val rows = for {
      p <- t.plays(game).iterator; fr <- (1 to t.frames(game, p)).iterator
      e <- (0 until 23).iterator
    } yield {
      val event = if (fr == 1) "ball_snap" else if (fr == t.frames(game, p)) "tackle" else ""
      val feats = t.features.indices.map(i => t.cents(game, p, e, fr, i).map(fmt).getOrElse(""))
      (Seq(game.toString, p.toString, t.nflId(game, e).fold("")(_.toString), fr.toString,
        if (game % 2 == 0) "left" else "right", event, t.team(e)) ++ feats :+ s"junk$e")
        .mkString(",")
    }
    writeText(f, Iterator(vintages(vintage).mkString(",")) ++ rows)
  }

  /** A file no schema alias can place: it lands in the ingest's bad list. */
  def writeCorruptCsv(f: File, seed: Long): Long =
    writeText(f, Iterator("g@me,pl#y,fr*me", s"${hash(seed, 1)},1,1", "\u0000\u0001,,"))

  final case class Drop(dir: File, games: Seq[Long], bad: Seq[String], bytes: Long)

  /** Writes a drop of `games` (one file each, seeded vintages) plus, when
    * `corrupt`, one unreadable file. */
  def writeDrop(t: Tracking, dir: File, games: Seq[Long], corrupt: Boolean, key: Long): Drop = {
    var bytes = 0L
    games.foreach { g =>
      bytes += writeGameCsv(t, g, below(hash(t.seed, key, g), vintages.size), new File(dir, s"week-$g.csv"))
    }
    val bad = if (corrupt) {
      val f = new File(dir, "week-corrupt.csv")
      bytes += writeCorruptCsv(f, hash(t.seed, key))
      Seq(f.getName)
    } else Nil
    Drop(dir, games, bad, bytes)
  }

  // ── text ──────────────────────────────────────────────────────────

  /** A seeded vocabulary sampled with Zipf(1.1) rank frequencies. */
  final class Vocab(seed: Long, size: Int) {
    val words: Array[String] = Array.tabulate(size) { i =>
      val h = hash(seed, 0x766f636162L, i)
      val len = 3 + below(h, 7)
      (0 until len).map(j => ('a' + below(hash(h, j), 26)).toChar).mkString + i.toString
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
    def text(h: Long, n: Int): Vector[String] =
      Vector.tabulate(n)(j => words(rank(unit(hash(h, j)))))
  }

  final case class Doc(id: Long, text: String)

  /** A batch bound for the index: fresh docs plus fixed counts of planted
    * exact copies, eval-contaminated docs and low-quality docs. Ids rise
    * through fresh then planted docs, so every copy has a larger id than
    * its original (exact dedup keeps the smallest id of a group). */
  final case class Batch(docs: Vector[Doc], fresh: Vector[Long], exactDups: Set[Long],
      contaminated: Set[Long], lowQuality: Set[Long]) {
    def digest: String = Gen.digest(docs.map(d => s"${d.id}\t${d.text}"))
  }

  // ── hybrid index ──────────────────────────────────────────────────

  final case class IndexDoc(id: Long, text: String, vec: Array[Double])

  /** Topic-structured docs: each doc draws a few topic words on top of
    * Zipf text, and its vector is its topic's centroid plus noise, so both
    * the lexical and the vector leg find real neighbours. */
  final class IndexCorpus(val seed: Long, val dim: Int = 16, topics: Int = 16) {
    val vocab = new Vocab(seed, 4000)
    private val centroid: Array[Array[Double]] = Array.tabulate(topics)(t => unitVec(hash(seed, 0x63656eL, t)))
    private def unitVec(h: Long): Array[Double] = {
      val v = Array.tabulate(dim)(d => gauss(hash(h, d)))
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    private def gauss(h: Long): Double =
      math.sqrt(-2 * math.log(1 - unit(h))) * math.cos(2 * math.Pi * unit(mix(h)))
    private def topicWords(t: Int): Vector[String] = Vector.tabulate(6)(j => vocab.words(50 + t * 6 + j))
    private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6
    def doc(id: Long): IndexDoc = {
      val h = hash(seed, 0x646f63L, id)
      val t = below(h, topics)
      val words = vocab.text(h, 20 + below(mix(h), 30)) ++ topicWords(t).take(2 + below(h, 4))
      val noise = unitVec(hash(h, 2))
      IndexDoc(id, words.mkString(" "),
        centroid(t).indices.map(d => round6(centroid(t)(d) + 0.35 * noise(d))).toArray)
    }
    val eval: Vector[Doc] =
      Vector.tabulate(20)(i => Doc(i, vocab.text(hash(seed, 0x6576616cL, i), 40).mkString(" ")))

    /** Batch `b`, ids from `firstId`: `fresh` new docs, then `dups` exact
      * copies of them, `contaminated` docs carrying 20 words of an eval doc,
      * and `low` docs too short or too repetitive for the quality gate. */
    def batch(b: Long, firstId: Long, fresh: Int = 32, dups: Int = 4, contaminated: Int = 2,
        low: Int = 2): Batch = {
      val freshIds = (firstId until firstId + fresh).toVector
      var next = firstId + fresh
      def id(): Long = { next += 1; next - 1 }
      val dup = Vector.tabulate(dups)(j => Doc(id(), doc(freshIds(below(hash(seed, 0x647570L, b, j), fresh))).text))
      val cont = Vector.tabulate(contaminated) { j =>
        val h = hash(seed, 0x636f6eL, b, j)
        val body = vocab.text(h, 30)
        val span = eval(below(h, eval.size)).text.split(" ").slice(10, 30)
        Doc(id(), (body.take(15) ++ span ++ body.drop(15)).mkString(" "))
      }
      val lowq = Vector.tabulate(low) { j =>
        val h = hash(seed, 0x6c6f77L, b, j)
        Doc(id(), (if (j % 2 == 0) vocab.text(h, 5) else Vector.fill(15)(vocab.text(h, 4)).flatten).mkString(" "))
      }
      Batch(freshIds.map(i => Doc(i, doc(i).text)) ++ dup ++ cont ++ lowq, freshIds,
        dup.map(_.id).toSet, cont.map(_.id).toSet, lowq.map(_.id).toSet)
    }

    /** Query `q` of serve `serve`: a few mid-frequency terms and a vector
      * near one topic. Query ids are negative so no doc id can equal one. */
    def queryTerms(serve: Long, q: Int): Vector[String] = {
      val h = hash(seed, 0x7165L, serve, q)
      val t = below(h, topics)
      (topicWords(t).take(2) :+ vocab.words(10 + below(mix(h), 200))).distinct
    }
    def queryVec(serve: Long, q: Int): Array[Double] = {
      val h = hash(seed, 0x7176L, serve, q)
      val c = centroid(below(h, topics))
      val noise = unitVec(mix(h))
      c.indices.map(d => round6(c(d) + 0.2 * noise(d))).toArray
    }
  }
}
