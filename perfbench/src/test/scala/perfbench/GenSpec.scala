package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): File = {
    val base = new File("target/test-work"); base.mkdirs()
    Files.createTempDirectory(base.toPath, "gen").toFile
  }
  private def dropDigest(seed: Long): String = {
    val t = Gen.Tracking(seed, gamesPerSeason = 2, playsPerGame = 2)
    val d = Gen.writeDrop(t, tmp(), t.games, corrupt = true, key = 3)
    Gen.digest(d.dir.listFiles.sortBy(_.getName).map(f => Gen.sha256(Files.readAllBytes(f.toPath))))
  }

  test("a seed gives identical tracking drops, another seed different ones") {
    assert(dropDigest(7) == dropDigest(7))
    assert(dropDigest(7) != dropDigest(8))
  }

  test("tracking values are a pure function of (key, seed) in every vintage") {
    val t = Gen.Tracking(5, gamesPerSeason = 1, playsPerGame = 3)
    val g = t.games.head
    Gen.vintages.indices.foreach { v =>
      val f = new File(tmp(), s"v$v.csv")
      Gen.writeGameCsv(t, g, v, f)
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      assert(lines.head == Gen.vintages(v).mkString(","))
      assert(lines.size - 1 == t.rowsOf(g))
      // sum every feature cell in hundredths, per play, straight from the file
      val sums = lines.tail.map(_.split(",", -1)).groupBy(_(1).toInt).map { case (p, rows) =>
        p -> rows.map(r => t.features.indices.map { i =>
          val c = r(7 + i); if (c.isEmpty) 0L else math.round(c.toDouble * 100)
        }.sum).sum
      }
      t.plays(g).foreach(p => assert(sums(p) == t.tensorChecksum(g, p), s"vintage $v play $p"))
    }
  }

  test("a seed gives identical index batches, another seed different ones") {
    def d(seed: Long) = new Gen.IndexCorpus(seed).batch(4, 1000).digest
    assert(d(3) == d(3))
    assert(d(3) != d(4))
    assert(new Gen.IndexCorpus(3).doc(17).text == new Gen.IndexCorpus(3).doc(17).text)
  }

  test("planted duplicate, contamination and low-quality counts are exact") {
    val ic = new Gen.IndexCorpus(9)
    val b = ic.batch(2, 500, fresh = 30, dups = 5, contaminated = 3, low = 4)
    assert(b.fresh.size == 30 && b.exactDups.size == 5 && b.contaminated.size == 3 && b.lowQuality.size == 4)
    assert(b.docs.map(_.id).distinct.size == b.docs.size && b.docs.size == 42)
    val text = b.docs.map(d => d.id -> d.text).toMap
    b.exactDups.foreach { id =>
      assert(b.fresh.exists(f => f < id && text(f) == text(id)), s"dup $id has no smaller original")
    }
    val eval = ic.eval.map(_.text.split(" "))
    b.contaminated.foreach { id =>
      val spans = text(id).split(" ").sliding(20).map(_.toSeq).toSet
      assert(eval.exists(_.sliding(20).exists(s => spans(s.toSeq))), s"doc $id carries no eval span")
    }
    // no fresh doc shares a 13-gram with the eval set, so none is contaminated by chance
    val evalGrams = eval.flatMap(_.sliding(13).map(_.toSeq)).toSet
    b.fresh.foreach(id => assert(!text(id).split(" ").sliding(13).exists(g => evalGrams(g.toSeq))))
  }
}
