package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.operators.{PlayOps, Tensor}

/** Play-level operators and the tensor pivot over the fully-known
  * synthetic fixture (2 games × 5 plays × 50 frames × 23 entities).
  */
class PlayOpsTensorSpec extends SparkSpec {

  private lazy val pool = SyntheticTracking.df(spark).cache()

  test("ball rule: null nflId / team==football") {
    val balls = pool.filter(PlayOps.isBall)
    assert(balls.count() == 2L * 5 * 50) // one ball row per frame
    assert(balls.select("team").distinct().collect()
      .map(_.getString(0)).toSet == Set("football"))
  }

  test("side keeps raw labels; ball labeled ball (no home/away conflation)") {
    val sides = PlayOps.withSide(pool).select("entitySide").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sides == Set("home", "away", "ball"))
    // offense/defense vintage stays offense/defense
    val od = pool.withColumn("team",
      when(col("team") === "home", "Offense")
        .when(col("team") === "away", "Defense").otherwise(col("team")))
    val odSides = PlayOps.withSide(od).select("entitySide").distinct()
      .collect().map(_.getString(0)).toSet
    assert(odSides == Set("offense", "defense", "ball"))
  }

  test("telemetry block matches the known fixture") {
    val t = PlayOps.telemetry(pool)
    assert(t.count() == 10)
    val r = t.filter(col("gameId") === 2023090000L && col("playId") === 50)
      .head()
    assert(r.getAs[Int]("total_frames") == 50)
    assert(r.getAs[Float]("max_speed") == 5.5f)
    assert(r.getAs[Long]("n_players") == 22) // ball's null nflId not counted
    assert(r.getAs[scala.collection.Seq[String]]("events")
      .toSeq == Seq("pass_forward"))
    assert(r.getAs[Double]("duration_sec") == 5.0)
  }

  test("fetchPlay is frame-ordered; frameSlice picks one frame") {
    val play = PlayOps.fetchPlay(pool, 2023090000L, 50)
    assert(play.count() == 50L * 23)
    assert(PlayOps.frameSlice(play, 25).count() == 23)
    assert(PlayOps.frames(play).count() == 50)
  }

  test("listGames: the game dropdown, distinct and ascending") {
    assert(PlayOps.listGames(pool).collect().map(_.getLong(0)).toSeq ==
      Seq(2023090000L, 2023090001L))
  }

  test("listPlays: one game's play dropdown, distinct and ascending") {
    assert(PlayOps.listPlays(pool, 2023090001L).collect()
      .map(_.getInt(0)).toSeq == Seq(50, 100, 150, 200, 250))
  }

  test("trajectories: one row per entity, frame-ordered path") {
    val traj = PlayOps.trajectories(pool)
    assert(traj.count() == 10L * 23)
    val path = traj.filter(col("gameId") === 2023090000L &&
      col("playId") === 50 && col("nflId") === 40000)
      .head().getAs[scala.collection.Seq[Row]]("path")
    assert(path.length == 50)
    assert(path.map(_.getInt(0)).toSeq == (1 to 50)) // ordered by frameId
  }

  test("tensor: shape, frame padding, entity ordering, empty-pool guard") {
    assert(Tensor.maxFrameCount(pool.limit(0)) == 0)
    assert(Tensor.maxFrameCount(pool) == 50)

    val t = Tensor.toTensor(pool, Seq("x", "y"), maxFrames = 60,
      maxEntities = 23)
    assert(t.count() == 10)
    val r = t.head()
    type CSeq[T] = scala.collection.Seq[T]
    val tensor = r.getAs[CSeq[CSeq[CSeq[Float]]]]("tensor")
    assert(r.getAs[Int]("n_frames") == 50)
    assert(tensor.length == 60)            // padded to maxFrames
    assert(tensor.head.length == 23)       // entities
    assert(tensor.head.head.length == 2)   // features
    assert(tensor(55).forall(_.forall(_ == 0f))) // padding frames are zero
    // entity order: home (nflId 40000..) first, ball last
    val frame0 = tensor.head
    assert(frame0.last(0) != 0f || frame0.last(1) != 0f) // ball present
  }

  test("tensor: truncation when data exceeds maxFrames/maxEntities") {
    val t = Tensor.toTensor(pool, Seq("x", "y"), maxFrames = 5,
      maxEntities = 3)
    val r = t.head()
    type CSeq[T] = scala.collection.Seq[T]
    val tensor = r.getAs[CSeq[CSeq[CSeq[Float]]]]("tensor")
    assert(r.getAs[Int]("n_frames") == 50)  // real frame count reported
    assert(tensor.length == 5)              // frames truncated
    assert(tensor.forall(_.length == 3))    // entities truncated
    // truncation keeps the FIRST frames/entities in canonical order —
    // nothing is zero-padded when real data fills the shape
    assert(tensor.head.head.exists(_ != 0f))
  }

  test("fused single-aggregation tensor is identical to the staged path") {
    type CSeq[T] = scala.collection.Seq[T]
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("gameId"), r.getAs[Int]("playId")) ->
        (r.getAs[Int]("n_frames"),
          r.getAs[CSeq[CSeq[CSeq[Float]]]]("tensor").map(_.map(_.toSeq).toSeq).toSeq))
      .toMap
    // both the padding shape and the truncation shape must agree
    for ((mf, me) <- Seq((60, 23), (5, 3))) {
      val fused = collect(Tensor.toTensor(pool, Seq("x", "y"), mf, me))
      val staged = collect(Tensor.toTensorStaged(pool, Seq("x", "y"), mf, me))
      assert(fused == staged, s"mismatch at maxFrames=$mf maxEntities=$me")
    }
  }

  test("typed Dataset[PlayTensor] surface round-trips the tensor") {
    val ds = Tensor.toTensorDS(pool, Seq("x", "y"), maxFrames = 60,
      maxEntities = 23)
    val pt = ds.head()
    assert(pt.n_frames == 50)
    assert(pt.tensor.length == 60 && pt.tensor.head.length == 23)
    assert(ds.count() == 10)
  }

  test("entityTensor: one (play, entity) row with frames × features") {
    val et = Tensor.entityTensor(pool, Seq("x", "y"))
    assert(et.count() == 10L * 23)
    val m = et.head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("tensor")
    assert(m.length == 50 && m.head.length == 2)
  }
}
