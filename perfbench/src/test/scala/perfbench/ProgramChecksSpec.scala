package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ingest, PlayOps, Pool, PoolCommit, Tensor}
import graft.schema.Vintages
import graft.text.Pipeline

/** The checkers accept what the program really computes on generated
  * inputs (small sizes, two cores). */
class ProgramChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false").getOrCreate()
  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  private lazy val dir: File = {
    val base = new File("target/test-work"); base.mkdirs()
    Files.createTempDirectory(base.toPath, "program").toFile
  }
  override def afterAll(): Unit = spark.stop()

  test("ingest, tensor and fetch outputs pass their checks") {
    val t = Gen.Tracking(21, gamesPerSeason = 2, playsPerGame = 3)
    val d = Gen.writeDrop(t, new File(dir, "drop"), t.games, corrupt = true, key = 0)
    val pool = new File(dir, "pool").getPath
    val res = Ingest.run(spark, d.dir.getPath, pool, Vintages.canonical)
    assert(Checks.ingest(t, d, res.summary, res.badFiles).isEmpty)
    val season = t.seasons.head
    val rows = Tensor.toTensor(Pool(spark, pool).samplePlays(4, Seq(col("season") === season), 3L),
      Tensor.defaultFeatures, 48, 23).collect().map(r => Checks.TensorRow(Workloads.long(r, "gameId"),
        r.getAs[Int]("playId"), r.getAs[Int]("n_frames"), TrackingLake.centsSum(r.get(r.fieldIndex("tensor")))))
    assert(Checks.tensorBatch(t, season, 4, rows.toSeq).isEmpty)

    val marker = new File(dir, "marker").getPath
    PoolCommit.write(Pool(spark, pool).df, marker)
    val (g, p) = (t.games.last, t.plays(t.games.last).head)
    val play = PlayOps.fetchPlay(PoolCommit.read(spark, marker), g, p)
    val tel = PlayOps.telemetry(play).collect().map(r => Checks.Telemetry(r.getAs[Int]("total_frames"),
      r.getAs[Long]("n_players"), math.round(r.getAs[Float]("max_speed").toDouble * 100)))
    assert(Checks.playFetch(t, g, p, play.collect().map(_.getAs[Int]("frameId")).toSeq, tel.toSeq).isEmpty)
  }

  test("cleaning a planted batch passes its check and repeats its survivors") {
    import spark.implicits._
    val ic = new Gen.IndexCorpus(4)
    val b = ic.batch(1, 200)
    def clean() = Pipeline.cleanCorpus(b.docs.map(d => (d.id, d.text)).toDF("id", "text"),
      ic.eval.map(d => (d.id, d.text)).toDF("id", "text"), "text", "id",
      minQuality = 0.05, maxDupRatio = 0.5).select("id").collect().map(_.getLong(0)).toSet
    val ids = clean()
    assert(Checks.cleaned(b, ids).isEmpty)
    assert(clean() == ids)
  }
}
